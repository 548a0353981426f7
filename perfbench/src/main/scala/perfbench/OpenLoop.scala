package perfbench

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/** Open-loop load: every request has a scheduled send time fixed in
  * advance, and its latency is timed from that time, not from when a
  * worker got round to sending it. A stall therefore shows in the
  * latency of every request scheduled behind it (no coordinated
  * omission), and how late the generator ran is reported separately.
  *
  * Each worker owns one connection to one transport and takes the next
  * due request of that transport; requests queue at the client when all
  * workers of a transport are busy. */
object OpenLoop {

  /** One request's times (ns since the phase start) and its result. */
  final case class Outcome(schedNs: Long, startNs: Long, endNs: Long,
      result: Either[Throwable, Any]) {
    def latencyMs: Double = (endNs - schedNs) / 1e6
    def lateMs: Double = (startNs - schedNs) / 1e6
    def serviceMs: Double = (endNs - startNs) / 1e6
  }

  /** How long before a send time a worker stops parking and spins. */
  val SpinNs = 1000000L

  /** A worker: which lane (transport) it serves and how it sends. */
  final case class Worker[R](lane: Int, send: R => Any)

  /** Run `reqs` (each with its lane and scheduled offset from `t0`, a
    * System.nanoTime) to completion. Returns outcomes in request order. */
  def run[R](reqs: IndexedSeq[R], schedNs: R => Long, lane: R => Int,
      workers: Seq[Worker[R]], t0: Long = System.nanoTime()): IndexedSeq[Outcome] = {
    val out = new Array[Outcome](reqs.size)
    val lanes = reqs.indices.groupBy(i => lane(reqs(i))).map { case (l, is) => l -> is.toArray }
    val cursors = lanes.keys.map(_ -> new AtomicInteger(0)).toMap
    require(lanes.keys.forall(l => workers.exists(_.lane == l)),
      s"no worker for lanes ${lanes.keys.filterNot(l => workers.exists(_.lane == l))}")
    val threads = workers.zipWithIndex.map { case (w, wi) =>
      val t = new Thread(() => {
        val mine = lanes.getOrElse(w.lane, Array.emptyIntArray)
        val cur = cursors.getOrElse(w.lane, new AtomicInteger(0))
        var k = cur.getAndIncrement()
        while (k < mine.length) {
          val i = mine(k)
          val due = t0 + schedNs(reqs(i))
          var now = System.nanoTime()
          // park until shortly before the send time, then spin: a parked
          // thread on a busy machine wakes milliseconds late, and that
          // delay would be charged to the server
          while (due - now > SpinNs) { LockSupport.parkNanos(due - now - SpinNs); now = System.nanoTime() }
          while (now < due) { Thread.onSpinWait(); now = System.nanoTime() }
          val r = try Right(w.send(reqs(i))) catch { case e: Throwable => Left(e) }
          out(i) = Outcome(due - t0, now - t0, System.nanoTime() - t0, r)
          k = cur.getAndIncrement()
        }
      }, s"loadgen-$wi")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    out.toIndexedSeq
  }
}
