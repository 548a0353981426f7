package graft.serving

import java.util.concurrent.ConcurrentHashMap

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, ChannelOption}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2._

import graft.store.FeatureStore

/** gRPC serving endpoint — the reference's actual wire protocol
  * (`protos/feast/serving/ServingService.proto:30-36`), implemented
  * directly on Netty's HTTP/2 codec (shipped with Spark) with the
  * hand-rolled [[FeastProto]] message codecs, because the environment
  * carries neither grpc-java nor protobuf-java. gRPC's framing is
  * public and small (grpc.io PROTOCOL-HTTP2): a unary call is an
  * HTTP/2 POST to `/package.Service/Method` with
  * `content-type: application/grpc`, DATA frames carrying
  * `[compressed flag: 1 byte][length: 4 bytes BE][proto message]`, and
  * a trailers HEADERS frame with `grpc-status` (0 = OK).
  *
  * Methods:
  *  - `/feast.serving.ServingService/GetOnlineFeaturesV2` — decodes
  *    the request, calls [[FeatureStore.getOnlineFeatures]] (the same
  *    latency path the HTTP/JSON [[ServingServer]] uses — no Spark job
  *    on in-memory stores), answers one `GetOnlineFeaturesResponse`
  *    with the entity values echoed and per-feature
  *    PRESENT/NOT_FOUND/OUTSIDE_MAX_AGE statuses.
  *  - `/feast.serving.ServingService/GetFeastServingInfo` — version +
  *    ONLINE type.
  *
  * Unknown methods answer grpc-status 12 (UNIMPLEMENTED); decode
  * errors 3 (INVALID_ARGUMENT); store failures 13 (INTERNAL). Cleartext
  * h2c prior-knowledge only (no TLS/ALPN in this environment — a
  * deployment fronts it with its ingress).
  */
object GrpcServingServer {
  /** Inbound message cap — grpc-java's default maxInboundMessageSize.
    * Without it a client streaming DATA frames forever (the window is
    * auto-replenished) grows one stream's buffer until the serving JVM
    * OOMs, taking every tenant down (review r12). Oversized requests
    * answer RESOURCE_EXHAUSTED (8), the real gRPC behavior. */
  private val MaxInboundBytes = 4 * 1024 * 1024
  private final class StreamState(val path: String) {
    val body = new java.io.ByteArrayOutputStream()
  }
  private final case class Unimplemented(method: String) extends RuntimeException(method)
}

class GrpcServingServer(fs: FeatureStore, port: Int = 0,
    version: String = "graft-0.1.0", dispatchThreads: Int = 4) {
  import GrpcServingServer.{StreamState, Unimplemented}

  private val boss = new NioEventLoopGroup(1)
  private val workers = new NioEventLoopGroup(2)
  // Store calls run OFF the event loop: a slow online read (file/Spark
  // backed stores) must not stall every connection sharing the loop —
  // the same reason the HTTP ServingServer dispatches to an executor.
  // Responses are written back on the channel's own event loop.
  // dispatchThreads bounds in-flight store calls — size to expected
  // client concurrency (tools/ServingSlo measures under-sizing as tail
  // latency).
  private val dispatchPool =
    java.util.concurrent.Executors.newFixedThreadPool(dispatchThreads)

  private val bootstrap = new ServerBootstrap()
    .group(boss, workers)
    .channel(classOf[NioServerSocketChannel])
    .childOption(ChannelOption.TCP_NODELAY, java.lang.Boolean.TRUE)
    .childHandler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline().addLast(Http2FrameCodecBuilder.forServer().build())
        ch.pipeline().addLast(new ChannelInboundHandlerAdapter {
          private val streams = new ConcurrentHashMap[Integer, StreamState]()

          override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
            case h: Http2HeadersFrame =>
              val id = Integer.valueOf(h.stream().id())
              val path = Option(h.headers().path()).map(_.toString).getOrElse("")
              streams.put(id, new StreamState(path))
              if (h.isEndStream) complete(ctx, h.stream(), streams.remove(id))
            case d: Http2DataFrame =>
              val id = Integer.valueOf(d.stream().id())
              val st = streams.get(id)
              if (st != null) {
                val buf = d.content()
                if (st.body.size() + buf.readableBytes() > GrpcServingServer.MaxInboundBytes) {
                  // oversized request: trailers-only RESOURCE_EXHAUSTED
                  // and drop the stream state — later frames for this
                  // stream find no state and are discarded unbuffered
                  streams.remove(id)
                  val h = new DefaultHttp2Headers().status("200")
                  h.set("content-type", "application/grpc")
                  h.set("grpc-status", "8")
                  h.set("grpc-message", grpcMessageEncode(
                    s"request exceeds ${GrpcServingServer.MaxInboundBytes} bytes"))
                  ctx.writeAndFlush(
                    new DefaultHttp2HeadersFrame(h, true).stream(d.stream()))
                  ()
                } else {
                  val bytes = new Array[Byte](buf.readableBytes())
                  buf.readBytes(bytes)
                  st.body.write(bytes)
                }
              }
              // replenish the flow-control window for the consumed
              // bytes: Http2FrameCodec's onDataRead consumes NOTHING
              // itself, so without this update a connection that has
              // carried >64 KB of request DATA stalls forever — a
              // compliant client stops sending at window 0 (review r7)
              val consumed = d.initialFlowControlledBytes()
              if (consumed > 0)
                ctx.writeAndFlush(
                  new DefaultHttp2WindowUpdateFrame(consumed).stream(d.stream()))
              val end = d.isEndStream
              d.release()
              if (end) complete(ctx, d.stream(), streams.remove(id))
            case r: Http2ResetFrame =>
              // cancelled call (deadline exceeded / client RST): drop
              // the buffered request or its state leaks for the
              // connection's lifetime (review r7)
              streams.remove(Integer.valueOf(r.stream().id()))
              ()
            case other: Http2SettingsFrame => () // codec handles the ack
            case other => ctx.fireChannelRead(other)
          }

          private def complete(ctx: ChannelHandlerContext, stream: Http2FrameStream,
              st: StreamState): Unit = {
            if (st == null) return
            // store call off the event loop; frames written back ON it
            // (netty requires channel writes from the channel's loop)
            dispatchPool.execute { () =>
              val result: Either[(Int, String), Array[Byte]] =
                try Right(dispatch(st.path, grpcUnframe(st.body.toByteArray)))
                catch {
                  case Unimplemented(m) => Left((12, s"unknown method $m"))
                  case e: Exception =>
                    Left((if (ServingServer.isClientError(e)) 3 else 13,
                      Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
                }
              ctx.channel().eventLoop().execute { () =>
                result match {
                  case Right(reply) =>
                    val headers = new DefaultHttp2Headers().status("200")
                    headers.set("content-type", "application/grpc")
                    ctx.write(new DefaultHttp2HeadersFrame(headers).stream(stream))
                    ctx.write(new DefaultHttp2DataFrame(
                      Unpooled.wrappedBuffer(grpcFrame(reply)), false).stream(stream))
                    val trailers = new DefaultHttp2Headers()
                    trailers.set("grpc-status", "0")
                    ctx.writeAndFlush(
                      new DefaultHttp2HeadersFrame(trailers, true).stream(stream))
                    ()
                  case Left((status, message)) =>
                    // trailers-only response: one HEADERS frame with
                    // :status, grpc-status, grpc-message, END_STREAM
                    val h = new DefaultHttp2Headers().status("200")
                    h.set("content-type", "application/grpc")
                    h.set("grpc-status", status.toString)
                    h.set("grpc-message", grpcMessageEncode(message))
                    ctx.writeAndFlush(new DefaultHttp2HeadersFrame(h, true).stream(stream))
                    ()
                }
              }
            }
          }
        })
      }
    })

  private val bound = bootstrap.bind(port).syncUninterruptibly().channel()

  def boundPort: Int =
    bound.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort

  def stop(): Unit = {
    bound.close().syncUninterruptibly()
    dispatchPool.shutdown() // previously leaked its threads per server
    // AWAIT loop termination: shutdownGracefully only initiates it, so
    // stop() used to return with established connections still open —
    // callers (tests, redeploys) observed a half-dead server for up to
    // a second (review r12)
    boss.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS)
      .syncUninterruptibly()
    workers.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS)
      .syncUninterruptibly()
    ()
  }

  // framing + grpc-message percent encoding live in [[GrpcWire]],
  // shared with GrpcServingClient so the two endpoints cannot drift
  private def grpcMessageEncode(s: String): String = GrpcWire.messageEncode(s)
  private def grpcUnframe(bytes: Array[Byte]): Array[Byte] = GrpcWire.unframe(bytes)
  private def grpcFrame(payload: Array[Byte]): Array[Byte] = GrpcWire.frame(payload)

  private def dispatch(path: String, request: Array[Byte]): Array[Byte] = path match {
    case "/feast.serving.ServingService/GetFeastServingInfo" =>
      FeastProto.encodeServingInfo(version)
    case "/feast.serving.ServingService/GetOnlineFeaturesV2" =>
      val req = FeastProto.decodeOnlineRequest(request)
      val refs = req.features.map { case (table, name) => s"$table:$name" }
      val rows = req.entityRows.map(_.fields.toMap)
      // the request timestamp is the staleness clock (ServingService
      // .proto:75-78: "used, together with maxAge, to determine
      // feature staleness"); rows may carry different timestamps — the
      // engine's asOf is per-call, so use the max (the conservative
      // serving-time clock) when any is present
      val asOf = req.entityRows.flatMap(_.tsSeconds).filter(_ != 0L) match {
        case Nil => None
        case ts => Some(new java.sql.Timestamp(ts.max * 1000L))
      }
      val resp = fs.getOnlineFeatures(refs, rows, asOf)
      val out = rows.indices.map { i =>
        // entity values echoed with PRESENT, then the features — the
        // reference's FieldValues composition (online_response.py)
        val entityVals = req.entityRows(i).fields.map { case (k, v) =>
          (k, v: Any)
        }
        val entityStatuses = req.entityRows(i).fields.map { case (k, _) =>
          (k, FeastProto.StatusPresent)
        }
        val featVals = resp.fields.map { case (name, vs) => (name, vs(i).value) }
        val featStatuses = resp.fields.map { case (name, vs) =>
          (name, FeastProto.statusEnum(vs(i).status))
        }
        (entityVals ++ featVals, entityStatuses ++ featStatuses)
      }
      // encode failures here are SERVER data problems (a stored value
      // of an unsupported type), not client errors — reclassify so the
      // catch block's 3-vs-13 split blames the right side
      try FeastProto.encodeOnlineResponse(out)
      catch { case e: IllegalArgumentException =>
        throw new IllegalStateException(s"response encoding failed: ${e.getMessage}", e)
      }
    case other => throw Unimplemented(other)
  }
}
