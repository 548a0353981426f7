package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{Entity, FeatureView}
import graft.online.{FeatureValue, OnlineStore}
import graft.registry.Registry
import graft.store.{FeatureStore, OnlineResponse}

/** Thread-safe sample sink. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(v: Double): Unit = { q.add(v); () }
  def values: Seq[Double] = q.asScala.toSeq.map(_.doubleValue)
  def clear(): Unit = q.clear()
}

/** What the calling thread read from files, as two counters: Hadoop's
  * per-thread local-filesystem bytes read, and the thread's read system
  * calls (`syscr` of /proc/thread-self/io). Both stay put while an online
  * read is served from the decoded-bucket cache. Hadoop's own `readOps`
  * counter is not used: the local filesystem never increments it. */
object FsStats {
  private val threadIo = java.nio.file.Paths.get("/proc/thread-self/io")
  private def local = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    .filter(s => s.getScheme == "file")
  def threadBytes(): Long = local.map(_.getThreadStatistics.getBytesRead).sum
  private def syscr(): Long = {
    val io = new String(java.nio.file.Files.readAllBytes(threadIo), "US-ASCII")
    io.linesIterator.collectFirst { case l if l.startsWith("syscr:") => l.drop(6).trim.toLong }.get
  }
  /** Read calls that reading /proc/thread-self/io itself adds between
    * two back-to-back snapshots. */
  private lazy val selfCalls: Long = {
    val d = (0 until 9).map { _ => val a = syscr(); syscr() - a }.sorted
    d(d.size / 2)
  }
  /** Snapshot of the thread's read calls; `readCallsSince` the snapshot. */
  def readCalls(): Long = { selfCalls; syscr() }
  def readCallsSince(snapshot: Long): Long = math.max(0L, syscr() - snapshot - selfCalls)
}

/** What the timing wrappers record. Filled only on the traced run. */
final class LayerProbe(val tracer: Tracer) {
  val registryLookupUs = new Samples
  val onlineReadMs = new Samples
  val readFsOps = new Samples
  val readFsBytes = new Samples
  val facadeMs = new Samples
  val upsertMs = new Samples
  val histBuildMs = new Samples
}

object LayerProbe {
  /** Entity-row key that carries the client span id to the server on the
    * traced run; the store ignores keys no view joins on. */
  val TraceKey = "__trace_span"
  /** Local property Structured Streaming sets on micro-batch jobs. */
  val BatchIdProp = "streaming.sql.batchId"
  /** Span ids of stream batches: this base + batch id. */
  val BatchSpanBase: Long = 1L << 40
}

/** OnlineStore decorator: times upsert and read, forwards everything else.
  * `wantsPreReduced` is forwarded because materialize plans differently
  * on it (pre-reduce or not), and the traced run must run the program the
  * untraced one runs. */
final class TimedOnlineStore(inner: OnlineStore, p: LayerProbe) extends OnlineStore {
  override def wantsPreReduced: Boolean = inner.wantsPreReduced

  def upsert(project: String, view: FeatureView, joinKeys: Seq[String],
      df: DataFrame, tsCol: String, createdCol: Option[String]): Unit = {
    val batch = Option(df.sparkSession.sparkContext.getLocalProperty(LayerProbe.BatchIdProp))
      .map(b => (LayerProbe.BatchSpanBase + b.toLong, LayerProbe.BatchSpanBase + b.toLong))
    val t0 = System.nanoTime()
    p.tracer.span("online.upsert", batch.orElse(p.tracer.currentSpan)) {
      inner.upsert(project, view, joinKeys, df, tsCol, createdCol)
    }
    p.upsertMs.add((System.nanoTime() - t0) / 1e6)
  }

  def read(project: String, view: FeatureView, joinKeys: Seq[String],
      entityKeys: Seq[Seq[(String, Any)]],
      features: Seq[String]): Seq[(Option[Timestamp], Map[String, FeatureValue])] = {
    val bytes0 = FsStats.threadBytes()
    val calls0 = FsStats.readCalls()
    val t0 = System.nanoTime()
    val out = p.tracer.span("online.read") {
      inner.read(project, view, joinKeys, entityKeys, features)
    }
    p.onlineReadMs.add((System.nanoTime() - t0) / 1e6)
    p.readFsOps.add(FsStats.readCallsSince(calls0).toDouble)
    p.readFsBytes.add((FsStats.threadBytes() - bytes0).toDouble)
    out
  }

  override def delete(project: String, view: FeatureView, joinKeys: Seq[String],
      keysDf: DataFrame): Unit = inner.delete(project, view, joinKeys, keysDf)

  def teardown(project: String, views: Seq[FeatureView]): Unit = inner.teardown(project, views)
}

/** Registry that times lookups and delegates. */
final class TimedRegistry(p: LayerProbe) extends Registry() {
  private def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try p.tracer.span("registry.lookup")(body)
    finally p.registryLookupUs.add((System.nanoTime() - t0) / 1e3)
  }
  override def getFeatureView(name: String): FeatureView = timed(super.getFeatureView(name))
  override def getEntity(name: String): Entity = timed(super.getEntity(name))
}

/** FeatureStore that times calls and delegates. */
final class TimedFeatureStore(project: String, registry: Registry,
    onlineStore: OnlineStore, spark: SparkSession, p: LayerProbe)
  extends FeatureStore(project, registry, onlineStore, spark) {

  override def getHistoricalFeatures(entityDf: DataFrame, refs: Seq[String],
      entityTsCol: String, fullFeatureNames: Boolean): DataFrame = {
    val t0 = System.nanoTime()
    try p.tracer.span("store.hist_build") {
      super.getHistoricalFeatures(entityDf, refs, entityTsCol, fullFeatureNames)
    } finally p.histBuildMs.add((System.nanoTime() - t0) / 1e6)
  }

  override def materializeWindows(viewNames: Seq[String],
      windows: Seq[(Timestamp, Timestamp)]): Unit =
    p.tracer.span("store.materialize")(super.materializeWindows(viewNames, windows))

  /** The server facade: both transports land here on a dispatch thread. */
  override def getOnlineFeatures(refs: Seq[String], entityRows: Seq[Map[String, Any]],
      asOf: Option[Timestamp]): OnlineResponse = {
    val client = entityRows.headOption.flatMap(_.get(LayerProbe.TraceKey)).collect {
      case id: Long => (id, id)
    }
    val t0 = System.nanoTime()
    try p.tracer.span("store.get_online", client.orElse(p.tracer.currentSpan)) {
      super.getOnlineFeatures(refs, entityRows, asOf)
    } finally p.facadeMs.add((System.nanoTime() - t0) / 1e6)
  }
}
