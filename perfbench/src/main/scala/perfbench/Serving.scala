package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.serving.{FeastProto, GrpcServingClient}
import graft.util.Json
import graft.util.JValue._

/** One read request: when it is due, which transport sends it, its entity
  * keys, and (traced run) the client span id it carries to the server. */
final case class Req(atNs: Long, grpc: Boolean, keys: Array[Long], spanId: Long)

/** Serving clients for one feature `ref` keyed by `joinKey`: half the
  * connections gRPC, half HTTP, one worker thread per connection. */
final class ServingClients(grpcPort: Int, httpPort: Int, connections: Int,
    ref: String, joinKey: String) {
  private val half = math.max(1, connections / 2)
  private val grpc = (0 until half).map(_ => new GrpcServingClient("127.0.0.1", grpcPort))
  private val http = (0 until half).map(_ =>
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())
  private val uri = URI.create(s"http://127.0.0.1:$httpPort/get-online-features")

  private def rows(r: Req): Seq[Map[String, Any]] = r.keys.toSeq.map { k =>
    if (r.spanId != 0) Map[String, Any](joinKey -> k, LayerProbe.TraceKey -> r.spanId)
    else Map[String, Any](joinKey -> k)
  }
  private def sendGrpc(c: GrpcServingClient)(r: Req): Any = c.getOnlineFeatures(Seq(ref), rows(r))
  private def sendHttp(c: HttpClient)(r: Req): Any = {
    val ents = rows(r).map(_.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    val body = s"""{"features":["$ref"],"entity_rows":[${ents.mkString(",")}]}"""
    val resp = c.send(HttpRequest.newBuilder().uri(uri)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200) throw new IllegalStateException(s"http ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  def workers: Seq[OpenLoop.Worker[Req]] =
    grpc.map(c => OpenLoop.Worker[Req](0, sendGrpc(c))) ++ http.map(c => OpenLoop.Worker[Req](1, sendHttp(c)))

  /** Run `reqs` open-loop, scheduled from `t0` (System.nanoTime);
    * outcomes in request order. */
  def run(reqs: IndexedSeq[Req], t0: Long = System.nanoTime()): IndexedSeq[OpenLoop.Outcome] =
    OpenLoop.run[Req](reqs, _.atNs, r => if (r.grpc) 0 else 1, workers, t0)

  def close(): Unit = grpc.foreach(_.close())

  /** Per key: its status and, when PRESENT, its value. */
  def served(res: Any): Seq[Served] = res match {
    case rows: Seq[_] => rows.map { case (vals: Map[String, Any] @unchecked, st: Map[String, Int] @unchecked) =>
      val status = st.get(ref).map(Served.grpcStatus).getOrElse("MISSING")
      Served(status, if (status == Served.Present) vals.get(ref).collect { case d: Double => d } else None)
    }
    case body: String =>
      val o = Json.parse(body).asInstanceOf[JObj]
      val vs = o("field_values").asInstanceOf[JObj](ref).asInstanceOf[JArr].items
      val ss = o("statuses").asInstanceOf[JObj](ref).asInstanceOf[JArr].items
      vs.zip(ss).map {
        case (JNum(d), JStr(Served.Present)) => Served(Served.Present, Some(d))
        case (JInt(l), JStr(Served.Present)) => Served(Served.Present, Some(l.toDouble))
        case (_, JStr(st)) => Served(st, None)
        case (_, st) => Served(st.toString, None)
      }
  }
}

/** One key's answer: its status name and, when PRESENT, its value. */
final case class Served(status: String, value: Option[Double])

object Served {
  val Present = graft.online.FeatureStatus.Present
  val NotFound = graft.online.FeatureStatus.NotFound
  private val names = Map(FeastProto.StatusPresent -> Present, FeastProto.StatusNotFound -> NotFound,
    FeastProto.StatusNullValue -> "NULL_VALUE", FeastProto.StatusOutsideMaxAge -> "OUTSIDE_MAX_AGE")
  def grpcStatus(code: Int): String = names.getOrElse(code, s"INVALID($code)")
}
