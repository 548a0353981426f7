package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer numbers read from Spark's public listeners, attributed to a
  * benchmark call by the job group the benchmark sets around it (and to a
  * stream micro-batch by the batch-id property Spark sets). Registered on
  * the traced run only. */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  import SparkProbe._

  private val lock = new Object
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.Map[Int, Stage]()
  val batches = mutable.ArrayBuffer[Batch]()
  @volatile private var sqlEnds = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"),
      prop(LayerProbe.BatchIdProp).map(_.toLong), e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate(i.stageId, Stage(mutable.ArrayBuffer()))
      .submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, Stage(mutable.ArrayBuffer()))
    s.submitMs = i.submissionTime.getOrElse(s.submitMs)
    s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, Stage(mutable.ArrayBuffer()))
      s.tasks += Task(e.taskInfo.launchTime, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime / 1000000L, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
  }

  /** Job ids of a job group (a benchmark call) or of a stream batch. */
  def jobsOf(group: String): Seq[Job] = lock.synchronized(jobs.values.filter(_.group.contains(group)).toSeq)
  def jobsOfBatch(batch: Long): Seq[Job] = lock.synchronized(jobs.values.filter(_.batch.contains(batch)).toSeq)
  def stagesOf(js: Seq[Job]): Seq[Stage] = lock.synchronized(js.flatMap(_.stageIds).distinct.flatMap(stages.get))

  /** Executions whose logical plan contains a watched plan (a retrieval's
    * output frame, by reference) report under the watching call's group:
    * a write command's end event does not reliably follow its listener
    * callback, so these are matched by plan, not by execution id. */
  private val watched = new java.util.IdentityHashMap[LogicalPlan, String]()
  val groupPlans = mutable.Map[String, PlanMetrics]()
  def watch(plan: LogicalPlan, group: String): Unit = lock.synchronized { watched.put(plan, group); () }
  private def watchedGroup(qe: QueryExecution): Option[String] = lock.synchronized {
    if (watched.isEmpty) None else qe.logical.collectFirst { case p if watched.containsKey(p) => watched.get(p) }
  }

  /** Phase times and operator metrics of each finished watched execution. */
  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      watchedGroup(qe).foreach { g => val pm = planMetrics(qe); lock.synchronized { groupPlans(g) = pm } }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionEnd => sqlEnds += 1
    case _ => ()
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      lock.synchronized {
        batches += Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, d("triggerExecution"), d("addBatch"), d("latestOffset"),
          d("queryPlanning"), d("walCommit"))
      }
    }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streamListener)
  }
  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the event counts stop moving. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = (-1, -1L)
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val now = lock.synchronized((jobs.size + stages.values.map(_.tasks.size).sum, sqlEnds))
      val open = lock.synchronized(jobs.values.exists(_.endMs < 0))
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
      else if (!open && System.currentTimeMillis() - stableSince > 300) return
      Thread.sleep(50)
    }
  }
}

object SparkProbe extends AdaptiveSparkPlanHelper {
  final case class Job(id: Int, group: Option[String],
      batch: Option[Long], startMs: Long, endMs: Long, stageIds: Seq[Int])
  final case class Task(launchMs: Long, durationMs: Long, runMs: Long, cpuMs: Long,
      gcMs: Long, bytesRead: Long, recordsRead: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, bytesWritten: Long)
  final case class Stage(tasks: mutable.ArrayBuffer[Task]) {
    var submitMs: Long = 0L
    var endMs: Long = 0L
  }
  final case class Batch(id: Long, startMs: Long, rows: Long, triggerMs: Double,
      addBatchMs: Double, latestOffsetMs: Double, planningMs: Double, walMs: Double)
  /** Catalyst phase walls + SQL operator metrics of one execution. */
  final case class PlanMetrics(analysisMs: Double, optimizationMs: Double,
      planningMs: Double, sortMs: Double, scanMs: Double)

  private def metric(p: SparkPlan, names: String*): Double =
    names.flatMap(p.metrics.get).map(_.value.toDouble).sum

  def planMetrics(qe: QueryExecution): PlanMetrics = {
    val ph = qe.tracker.phases
    def phase(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    def sumOf(pred: SparkPlan => Boolean, names: String*) =
      nodes.filter(pred).map(metric(_, names: _*)).sum
    val name = (p: SparkPlan) => p.nodeName
    PlanMetrics(phase("analysis"), phase("optimization"), phase("planning"),
      sumOf(p => name(p) == "Sort", "sortTime"),
      // scan time is reported in ms by the file scans
      sumOf(p => p.isInstanceOf[BatchScanExec] || name(p).startsWith("Scan"), "scanTime"))
  }
}
