package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {
  test("a stalled server makes open-loop latencies grow: timed from the scheduled send") {
    // 200 requests at 100/s; the fake server stalls 300 ms on request 50
    // and answers in ~1 ms otherwise
    val reqs = (0 until 200).map(i => (i, i * 10000000L))
    val out = OpenLoop.run[(Int, Long)](reqs, _._2, _ => 0, Seq(OpenLoop.Worker[(Int, Long)](0, r => {
      Thread.sleep(if (r._1 == 50) 300 else 1); r._1
    })))
    assert(out.forall(_.result.isRight))
    val lat = out.map(_.latencyMs)
    // before the stall: fast
    assert(lat.take(50).max < 50)
    // behind it: each queued request waited for the stall, although its
    // own service time was ~1 ms
    assert(lat(55) > 200 && lat(60) > 150)
    assert(out(55).serviceMs < 50 && out(55).lateMs > 200)
    // the latency falls as the backlog drains
    assert(lat(51) > lat(70))
  }

  test("requests are routed to the workers of their lane") {
    val reqs = (0 until 40).map(i => (i % 2, i * 1000000L))
    val out = OpenLoop.run[(Int, Long)](reqs, _._2, _._1, Seq(
      OpenLoop.Worker[(Int, Long)](0, _ => "a"), OpenLoop.Worker[(Int, Long)](1, _ => "b")))
    assert(out.indices.forall(i => out(i).result == Right(if (i % 2 == 0) "a" else "b")))
  }
}
