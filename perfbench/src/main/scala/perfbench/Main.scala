package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>. Prints progress to stderr and, as the last stdout line,
  * one JSON object {correct, attempted, failed, metrics, detail}. The workload
  * `prepare` only builds the data. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

/** What one run reports. Ops are counted by the workload; a wrong value
  * or an error is a failed op. `metrics` are the benchmark's gated names,
  * which every workload reports; `detail` holds the workload's own figures
  * under its own names (run.py logs and files them, it does not gate them). */
final class Result {
  var attempted = 0L
  var failed = 0L
  var checked = 0L
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val details = mutable.LinkedHashMap[String, (Double, String)]()

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  def check(ok: Boolean, what: => String): Boolean = {
    checked += 1
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $what")
    ok
  }
  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }
  def metric(name: String, value: Option[Double], unit: String): Unit =
    metric(name, value.getOrElse(throw new IllegalStateException(
      s"metric $name has too few samples to report")), unit)
  /** A workload-specific figure; skipped when it has too few samples. */
  def detail(name: String, value: Option[Double], unit: String): Unit =
    value.filter(v => !v.isNaN && !v.isInfinite).foreach(v => details(name) = (v, unit))

  private def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (n, (v, u)) =>
      s""""$n": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def json: String =
    s"""{"correct": ${failed == 0 && checked > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": ${obj(metrics)}, "detail": ${obj(details)}}"""
}

object Jvm {
  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
  /** Cumulative collector time, ms (stop-the-world collections). */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.configure(spark)
    spark
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    if (args.workload == "prepare") { // build the 10x replica, nothing measured
      Gen.ensureData(spark, s"${args.work}/data")
      spark.stop()
      sys.exit(0)
    }
    val result = new Result
    // JVM start to a ready session: paid once per run, part of setup_s
    val sessionS = (System.currentTimeMillis() - Jvm.startMs) / 1e3
    val runDir = s"${args.work}/run-${args.workload}-${args.seed}-${System.nanoTime()}"
    val tracer = new Tracer(args.trace)
    val ctx = Ctx(spark, args, result, tracer, runDir, sessionS)
    val ok = try {
      args.workload match {
        case "offline_batch" => OfflineBatch.run(ctx)
        case "ingest_while_serving" => IngestWhileServing.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.e2e("peak_rss_mb", Jvm.peakRssMb(), "MB")
      if (args.trace) {
        val spans = tracer.all
        Trace.writeJsonl(spans, new java.io.File(s"${args.work}/trace/${args.workload}-${args.seed}.jsonl"))
        Trace.summary(spans).foreach { case (n, c, tot, self) =>
          log(f"span $n%-28s n=$c%6d total=$tot%10.1f ms self=$self%10.1f ms") }
      }
      true
    } catch {
      case e: Throwable => e.printStackTrace(); false
    } finally {
      spark.stop()
      deleteRecursively(new java.io.File(runDir))
    }
    // a failed run prints no result; exit also ends stream and server threads
    if (ok) println(result.json)
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
    ()
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, args: Args, result: Result, tracer: Tracer,
    runDir: String, sessionS: Double) {
  def traced: Boolean = args.trace
  def seed: Long = args.seed
  def dataDir: String = s"${args.work}/data"

  /** End-to-end metric: reported on the untraced run only. */
  def e2e(name: String, value: Double, unit: String): Unit =
    if (!traced) result.metric(name, value, unit)
  def e2e(name: String, value: Option[Double], unit: String): Unit =
    if (!traced) result.metric(name, value, unit)
  /** Per-layer metric: reported on the traced run only. */
  def layer(name: String, value: Double, unit: String): Unit =
    if (traced) result.metric(name, value, unit)
  def layer(name: String, value: Option[Double], unit: String): Unit =
    if (traced) result.metric(name, value, unit)
  /** The workload's own figure under its own name, on either run. */
  def detail(name: String, value: Double, unit: String): Unit = result.detail(name, Some(value), unit)
  def detail(name: String, value: Option[Double], unit: String): Unit = result.detail(name, value, unit)
}
