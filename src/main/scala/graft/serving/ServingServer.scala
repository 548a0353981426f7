package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.store.FeatureStore
import graft.util.Json
import graft.util.JValue._

/** Thin HTTP/JSON serving endpoint over the online read path — the
  * analog of the reference's gRPC serving service
  * (ServingService.proto:30-36, GetOnlineFeaturesV2; the proto/gRPC
  * stack isn't available in this environment, so the same request/
  * response shapes travel as JSON). Latency path: handlers call
  * FeatureStore.getOnlineFeatures, which never launches a Spark job on
  * in-memory stores.
  *
  *   GET  /health
  *     -> {"status": "SERVING"}
  *   POST /get-online-features
  *     {"features": ["view:feat", ...],
  *      "entity_rows": [{"join_key": value, ...}, ...]}
  *     -> {"field_values": {"view:feat": [v, ...], ...},
  *         "statuses": {"view:feat": ["PRESENT"|"NOT_FOUND", ...], ...}}
  *
  * JSON value mapping for entity keys: integral numbers arrive as Long
  * (O16 coercion then adapts to the registered entity dtype), other
  * numbers as Double (rejected for key use by O16), strings as String.
  */
object ServingServer {
  // TCP_NODELAY for the JDK HttpServer (read once by its ServerConfig
  // on class load): without it, header+body landing in separate
  // segments interlocks Nagle with the peer's delayed ACK — a flat
  // ~40 ms floor on EVERY small point read (measured by
  // tools/ServingSlo: p50 44 ms -> ~2 ms). Set-if-absent so an
  // operator's explicit setting wins; no effect if an HttpServer was
  // already created in this JVM.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** A failure the caller caused (bad JSON or proto, unknown refs or
    * features, wrong-typed keys), answered 400 over HTTP and
    * INVALID_ARGUMENT (3) over gRPC; any other exception is a server
    * failure (store IO, session loss), answered 500 and INTERNAL (13).
    * One list, so the two transports cannot drift. */
  private[serving] def isClientError(e: Throwable): Boolean = e match {
    case _: IllegalArgumentException | _: NoSuchElementException |
         _: ClassCastException | _: scala.MatchError => true
    case _ => false
  }
}

class ServingServer(fs: FeatureStore, port: Int = 0, poolSize: Int = 4) {
  ServingServer // force companion init (nodelay) before server creation

  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  // poolSize bounds in-flight getOnlineFeatures calls — size it to the
  // expected client concurrency (tools/ServingSlo measures the p50/p99
  // cost of under-sizing it: queueing shows up directly as tail latency)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
  server.setExecutor(pool)

  /** Bound port (useful when constructed with port 0). */
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  private def jsonToKeyValue(v: graft.util.JValue): Any = v match {
    case JStr(s) => s
    case JInt(l) => l // exact — int64 ids above 2^53 must not round-trip through Double
    case n: JNum =>
      // whole doubles beyond the long range would SATURATE via toLong
      // (1e19 -> Long.MaxValue) and probe the store for a fabricated
      // key — reject them as the invalid ids they are (review r6)
      if (n.v.isWhole) {
        // >= at the top: Long.MaxValue.toDouble rounds UP to 2^63, so a
        // strict > admitted 2^63..2^63+1024 and saturated them via
        // toLong into Long.MaxValue — the exact fabricated-key probe
        // this guard rejects (review r12). Long.MinValue.toDouble is
        // -2^63 exactly and IS a valid long, so < stands there.
        if (n.v < Long.MinValue.toDouble || n.v >= Long.MaxValue.toDouble)
          throw new IllegalArgumentException(s"entity id ${n.v} exceeds int64 range")
        n.toLong
      } else n.v
    case JBool(b) => b
    case JNull => null
    case other => throw new IllegalArgumentException(s"unsupported entity value $other")
  }

  private def anyToJson(v: Any): graft.util.JValue = v match {
    case null => JNull
    case s: String => JStr(s)
    case i: Int => Json.num(i.toLong)
    case l: Long => Json.num(l) // JInt — exact
    case d: Double =>
      // bare NaN/Infinity tokens are not JSON — render them null like
      // every standards-compliant serializer (review r6)
      if (java.lang.Double.isFinite(d)) Json.num(d) else JNull
    case f: Float =>
      if (java.lang.Float.isFinite(f)) Json.num(f.toDouble) else JNull
    case b: Boolean => Json.bool(b)
    case t: java.sql.Timestamp => Json.num(t.getTime)
    case bytes: Array[Byte] =>
      // BYTES is a first-class feature type: base64, not JVM toString
      JStr(java.util.Base64.getEncoder.encodeToString(bytes))
    case xs: Seq[_] => graft.util.JValue.JArr(xs.toVector.map(anyToJson))
    case xs: Array[_] => graft.util.JValue.JArr(xs.toVector.map(anyToJson))
    case other => JStr(other.toString)
  }

  server.createContext("/health", new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      respond(ex, 200, Json.obj("status" -> Json.str("SERVING")).render)
  })

  server.createContext("/get-online-features", new HttpHandler {
    def handle(ex: HttpExchange): Unit = {
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val req = Json.parse(body).asInstanceOf[JObj]
        val features = (req("features"): @unchecked) match {
          case JArr(xs) => xs.map(_.asInstanceOf[JStr].v)
        }
        val rows = (req("entity_rows"): @unchecked) match {
          case JArr(xs) => xs.map { r =>
            r.asInstanceOf[JObj].fields.map { case (k, v) => k -> jsonToKeyValue(v) }.toMap
          }
        }
        val resp = fs.getOnlineFeatures(features, rows)
        val out = Json.obj(
          "field_values" -> JObj(resp.fields.map { case (name, vs) =>
            name -> Json.arr(vs.map(fv => anyToJson(fv.value)))
          }.toVector),
          "statuses" -> JObj(resp.fields.map { case (name, vs) =>
            name -> Json.arr(vs.map(fv => Json.str(fv.status)))
          }.toVector))
        respond(ex, 200, out.render)
      } catch {
        case e: Exception =>
          respond(ex, if (ServingServer.isClientError(e)) 400 else 500,
            Json.obj("error" -> Json.str(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName))).render)
      }
    }
  })

  def start(): ServingServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}
