package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are System.nanoTime. */
final case class Span(traceId: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, every call is a no-op that returns
  * 0 ids, so the untraced run pays one branch per boundary. Spans of one
  * request share a trace id; the parent of a span opened on a thread is
  * the span currently open on that thread unless given explicitly. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[(Long, Long)] // (traceId, spanId)

  def nextId(): Long = if (enabled) ids.incrementAndGet() else 0L

  def record(traceId: Long, id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(traceId, id, parent, name, startNs, endNs))

  /** Time `body` as a span named `name`, child of the span open on this
    * thread (or of `parent` when given, with its trace id). */
  def span[A](name: String, parent: Option[(Long, Long)] = None)(body: => A): A =
    if (!enabled) body
    else {
      val outer = current.get()
      val (traceId, parentId) = parent.orElse(Option(outer)).getOrElse((ids.incrementAndGet(), 0L))
      val id = ids.incrementAndGet()
      current.set((traceId, id))
      val t0 = System.nanoTime()
      try body
      finally {
        record(traceId, id, parentId, name, t0, System.nanoTime())
        current.set(outer)
      }
    }

  /** The (traceId, spanId) open on this thread, if any. */
  def currentSpan: Option[(Long, Long)] = if (enabled) Option(current.get()) else None

  def all: Seq[Span] = spans.asScala.toSeq
}

object Trace {

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children (overlapping children are counted once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.durNs - covered(s.startNs, s.endNs,
        children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))))
    }.toMap
  }

  /** Part of [from, to] that `intervals` cover, overlaps counted once. */
  def covered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long =
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        val start = math.max(a, reach)
        if (b > start) (sum + (b - start), b) else (sum, reach)
      }._1

  /** Per span name: count, total ms and self ms. */
  def summary(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      (name, ss.size, ss.map(_.durNs).sum / 1e6, ss.map(s => self(s.id)).sum / 1e6)
    }
  }

  /** Spans as JSON lines, start times relative to the earliest span. */
  def writeJsonl(spans: Seq[Span], file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"trace":${s.traceId},"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_us":${(s.startNs - t0) / 1000},""" +
        s""""end_us":${(s.endNs - t0) / 1000}}""")
    } finally w.close()
  }
}
