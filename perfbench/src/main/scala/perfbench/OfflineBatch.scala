package perfbench

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types._

import graft.model._
import graft.online.{OnlineStore, ParquetOnlineStore}
import graft.registry.Registry
import graft.store.FeatureStore

/** offline_batch: one caller, closed loop, alternating
  *   - getHistoricalFeatures: a seeded entity frame (order, its customer,
  *     a user, a time) joined to three views with different join keys and
  *     TTLs over the 10x replica; the output is forced with a noop write;
  *   - materializeWindows: a seeded 30-day lineitem window upserted into
  *     one persistent ParquetOnlineStore that already holds 30 days and a
  *     warm-up window. */
object OfflineBatch {
  val EntityRows = 50000
  val WindowDays = 30L
  val Refs = Seq("order_lines:l_quantity", "order_lines:l_extendedprice",
    "customer_orders:o_totalprice", "user_activity:value")
  val TtlOrder: Duration = Duration.ofDays(90)
  val TtlCustomer: Duration = Duration.ofDays(365)
  val TtlUser: Duration = Duration.ofDays(30)
  val SetupReps = 2
  /** Unmeasured retrieval + materialize iterations after the cold call. */
  val WarmIters = 1
  val SampleRows = 40

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  def register(fs: FeatureStore, x10: String): Unit = {
    fs.applyEntity(Entity("order", GraftType.Int64, Some("order_id")))
    fs.applyEntity(Entity("customer", GraftType.Int64, Some("customer_id")))
    fs.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    fs.applyFeatureView(FeatureView("order_lines", Seq("order"),
      Seq(Feature("l_quantity", GraftType.Dbl), Feature("l_extendedprice", GraftType.Dbl),
        Feature("l_discount", GraftType.Dbl)), TtlOrder,
      FileSource(s"$x10/lineitem.parquet", "l_shipdate",
        fieldMapping = Map("l_orderkey" -> "order_id"))))
    fs.applyFeatureView(FeatureView("customer_orders", Seq("customer"),
      Seq(Feature("o_totalprice", GraftType.Dbl)), TtlCustomer,
      FileSource(s"$x10/orders.parquet", "o_orderdate",
        fieldMapping = Map("o_custkey" -> "customer_id")), online = false))
    fs.applyFeatureView(FeatureView("user_activity", Seq("user"),
      Seq(Feature("value", GraftType.Dbl)), TtlUser,
      FileSource(s"$x10/events.parquet", "ts"), online = false))
  }

  /** Base lineitem ship times, sorted: rows in a window = 10 x count. */
  private lazy val shipSorted: Array[Long] = {
    val a = Array.tabulate(Gen.Lineitems.toInt)(i => Gen.shipSec(i.toLong)); java.util.Arrays.sort(a); a
  }
  def rowsInWindow(lo: Long, hi: Long): Long = {
    def firstAtLeast(x: Long) = {
      val i = java.util.Arrays.binarySearch(shipSorted, x)
      if (i < 0) -i - 1 else { var j = i; while (j > 0 && shipSorted(j - 1) == x) j -= 1; j }
    }
    (firstAtLeast(hi + 1) - firstAtLeast(lo)).toLong * Gen.Factor
  }

  private val entitySchema = StructType(Seq(
    StructField("order_id", LongType), StructField("customer_id", LongType),
    StructField("user_id", LongType), StructField("event_timestamp", TimestampType)))

  def entityDf(ctx: Ctx, f: Gen.EntityFrame, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = (0 until f.size).map(i =>
      Row(f.orderId(i), f.customerId(i), f.userId(i), ts(f.tsSec(i)))).asJava
    ctx.spark.createDataFrame(rows, entitySchema).coalesce(1)
      .write.mode("overwrite").parquet(path)
    ctx.spark.read.parquet(path)
  }

  /** Compare a sample of entity rows against the closed-form as-of. */
  def checkSample(ctx: Ctx, fs: FeatureStore, frames: Seq[Gen.EntityFrame]): Boolean = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 17L)
    val picks = frames.flatMap(f => Array.fill(SampleRows / frames.size)(rnd.nextInt(f.size)).distinct.map(f -> _))
    def col(g: Gen.EntityFrame => Array[Long]) = picks.map { case (f, i) => g(f)(i) }.toArray
    val sample = Gen.EntityFrame(col(_.orderId), col(_.customerId), col(_.userId), col(_.tsSec))
    val df = entityDf(ctx, sample, s"${ctx.runDir}/sample")
    val got = fs.getHistoricalFeatures(df, Refs).collect()
    def opt(r: Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
    val okCount = ctx.result.check(got.length == sample.size,
      s"sample retrieval returned ${got.length} rows for ${sample.size}")
    okCount && got.forall { r =>
      val o = r.getAs[Long]("order_id"); val c = r.getAs[Long]("customer_id")
      val u = r.getAs[Long]("user_id")
      val t = r.getAs[Timestamp]("event_timestamp").getTime / 1000
      val line = Oracle.lineAsOf(o, t, TtlOrder.getSeconds)
      val want = (line.map(_._1), line.map(_._2),
        Oracle.customerAsOf(c, t, TtlCustomer.getSeconds), Oracle.userAsOf(u, t, TtlUser.getSeconds))
      val have = (opt(r, "l_quantity"), opt(r, "l_extendedprice"), opt(r, "o_totalprice"), opt(r, "value"))
      ctx.result.check(want == have, s"as-of mismatch for ($o, $c, $u, $t): want $want got $have")
    }
  }

  /** Sampled keys of every materialized window read back as their latest
    * line over all the windows. */
  def checkMaterialized(ctx: Ctx, fs: FeatureStore, windows: Seq[(Long, Long)]): Boolean = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 29L)
    val keys = windows.flatMap { w =>
      Iterator.continually(Gen.replicaKey(rnd.nextLong(Gen.Factor), 1 + rnd.nextLong(Gen.Orders)))
        .filter(k => Oracle.latestLineIn(k, Seq(w)).isDefined).take(3).toSeq
    }
    val resp = fs.getOnlineFeatures(Seq("order_lines:l_quantity", "order_lines:l_extendedprice"),
      keys.map(k => Map[String, Any]("order_id" -> k))).toMap
    keys.zipWithIndex.forall { case (k, i) =>
      val want = Oracle.latestLineIn(k, windows)
      val have = Some((resp("order_lines:l_quantity")(i), resp("order_lines:l_extendedprice")(i)))
      ctx.result.check(want == have, s"materialized $k: want $want got $have")
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val x10 = Gen.ensureData(spark, ctx.dataDir)
    val probe = new LayerProbe(ctx.tracer)
    val sp = if (ctx.traced) Some(new SparkProbe(spark)) else None
    sp.foreach(_.register())

    // set-up: store build (30 days of lineitem) + one warm-up window,
    // twice into fresh stores; the last one is measured
    val initial = (Gen.D0, Gen.D0 + 30 * Gen.Day)
    var fs: FeatureStore = null
    var windows = Seq.empty[(Long, Long)]
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val store: OnlineStore = {
        val s = new ParquetOnlineStore(s"${ctx.runDir}/store-$rep")
        if (ctx.traced) new TimedOnlineStore(s, probe) else s
      }
      fs = if (ctx.traced) new TimedFeatureStore("bench", new TimedRegistry(probe), store, spark, probe)
        else new FeatureStore("bench", new Registry(), store, spark)
      register(fs, x10)
      fs.materialize(Seq("order_lines"), ts(initial._1), ts(initial._2))
      val warm = Gen.window(ctx.seed, -1 - rep, WindowDays)
      fs.materializeWindows(Seq("order_lines"), Seq((ts(warm._1), ts(warm._2))))
      windows = Seq(initial, warm)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.e2e("setup_s", ctx.sessionS + Stats.median(setupS).get, "s")
    Main.log(f"setup reps ${setupS.map(s => f"$s%.2f").mkString(" ")} s (session ${ctx.sessionS}%.2f s)")
    Seq(probe.upsertMs, probe.histBuildMs, probe.onlineReadMs, probe.registryLookupUs).foreach(_.clear())

    val observations = scala.collection.mutable.Map[String, Observation]()
    def observed(group: String) = observations.getOrElseUpdate(group, Observation(group))
    val histS = scala.collection.mutable.ArrayBuffer[Double]()
    val matS = scala.collection.mutable.ArrayBuffer[Double]()
    val matRate = scala.collection.mutable.ArrayBuffer[Double]()
    // (job group, rows) of every retrieval, and of the cold and measured
    // retrievals and materializes
    val allHist = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val histCalls = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val matCalls = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    var gc0 = Jvm.gcMs()
    // call 0 is the cold retrieval alone (set-up has already warmed
    // materialize), then WarmIters unmeasured iterations, then a fixed count
    // of measured iterations, one per 3 s of --seconds, at least 4. A
    // wall-clock deadline would fit a count that depends on how fast the
    // machine happens to be, and calls still speed up from one iteration to
    // the next, so the median would shift with the count.
    val iterations = 1 + WarmIters + math.max(4, ctx.args.seconds / 3)
    var call = 0
    var coldFrame, lastFrame: Gen.EntityFrame = null
    while (call < iterations) {
      val frame = Gen.entityFrame(ctx.seed, call, EntityRows)
      val edf = entityDf(ctx, frame, s"${ctx.runDir}/entities-$call")
      val histGroup = s"hist-$call"
      val (histOk, histWall) = timedCall(ctx, histGroup, "store.hist_call") {
        val out = fs.getHistoricalFeatures(edf, Refs)
        sp.foreach { p =>
          val qe = out.queryExecution
          Seq(qe.logical, qe.analyzed, qe.commandExecuted).foreach(p.watch(_, histGroup))
          AnalysisMs.put(histGroup, out.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
        }
        // the observation counts output rows as they stream to the noop sink
        out.observe(observed(histGroup), count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
      }
      val measured = call > WarmIters
      if (call == 0) ctx.detail("hist_cold_s", histWall, "s")
      else if (measured) histS += histWall
      allHist += ((histGroup, frame.size.toLong))
      if (call == 0 || measured) histCalls += ((histGroup, frame.size.toLong))
      if (!histOk) ctx.result.op(false)
      if (call == 0) coldFrame = frame
      lastFrame = frame

      if (call > 0) {
        val w = Gen.window(ctx.seed, call, WindowDays)
        val matGroup = s"mat-$call"
        val (matOk, matWall) = timedCall(ctx, matGroup, "store.mat_call") {
          fs.materializeWindows(Seq("order_lines"), Seq((ts(w._1), ts(w._2))))
        }
        windows :+= w
        val rows = rowsInWindow(w._1, w._2)
        if (measured) {
          matS += matWall
          matRate += rows / matWall
          matCalls += ((matGroup, rows))
        }
        ctx.result.op(matOk)
      }
      if (call == WarmIters) { // what the layers see starts with the measured calls
        gc0 = Jvm.gcMs()
        Seq(probe.upsertMs, probe.onlineReadMs, probe.registryLookupUs).foreach(_.clear())
      }
      call += 1
    }
    val gcMs = Jvm.gcMs() - gc0
    // every retrieval returned one row per entity row
    allHist.filterNot(h => CallFailed.contains(h._1)).foreach { case (g, n) =>
      val got = observed(g).get("rows")
      ctx.result.op(ctx.result.check(got == n, s"$g returned $got rows for $n entity rows"))
    }
    // values of sampled rows of the cold and the last warm frame, outside
    // the timed loop (one retrieval over the sample)
    ctx.result.op(checkSample(ctx, fs, Seq(coldFrame, lastFrame)))
    // every materialized window reads back, in one online read
    ctx.result.op(checkMaterialized(ctx, fs, windows))
    Main.log(f"calls=$call hist_s=${histS.map(s => f"$s%.2f").mkString(" ")} " +
      f"mat_rows_per_s=${matRate.map(r => f"$r%.0f").mkString(" ")}")

    // the gated name: op = a measured retrieval
    ctx.e2e("op_p50_s", Stats.median(histS.toSeq), "s")
    ctx.detail("mat_p50_s", Stats.median(matS.toSeq), "s")
    ctx.layer("trace.op_p50_s", Stats.median(histS.toSeq), "s")
    ctx.detail("hist_rows_per_s", Stats.median(histS.map(EntityRows / _).toSeq), "rows/s")
    ctx.detail("mat_rows_per_s", Stats.median(matRate.toSeq), "rows/s")
    sp.foreach { p =>
      p.settle()
      layers(ctx, p, probe, histCalls.toSeq, matCalls.toSeq, gcMs)
      p.unregister()
    }
  }

  /** Run `body` under a job group (so Spark work is attributed to this
    * call) and, on the traced run, a span; returns (succeeded, wall s). */
  private def timedCall(ctx: Ctx, group: String, span: String)(body: => Unit): (Boolean, Double) = {
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(group, group)
    val codegen0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val ok = try { ctx.tracer.span(span) { ctx.tracer.currentSpan.foreach(s => CallSpans.put(group, s)); body }; true }
    catch { case e: Exception => Main.log(s"$group failed: $e"); CallFailed.add(group); false }
    finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    CodegenMs.put(group, (CodeGenerator.compileTime - codegen0) / 1e6)
    (ok, wall)
  }
  private val CallSpans = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private val CallFailed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Analysis wall of each retrieval's output frame (analyzed eagerly,
    * inside getHistoricalFeatures). */
  private val AnalysisMs = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  /** Janino compile time spent during each call (whole JVM: local mode). */
  private val CodegenMs = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private def layers(ctx: Ctx, p: SparkProbe, probe: LayerProbe,
      hist: Seq[(String, Long)], mat: Seq[(String, Long)], gcMs: Long): Unit = {
    import SparkProbe._
    val warm = hist.drop(1) // the measured calls
    def med(xs: Seq[Double]) = Stats.median(xs)
    def tasks(js: Seq[Job]) = p.stagesOf(js).flatMap(_.tasks)
    // spans: call -> Spark job -> stage, from listener times
    (hist ++ mat).foreach { case (g, _) =>
      Option(CallSpans.get(g)).foreach { case (traceId, callId) =>
        p.jobsOf(g).foreach { j =>
          val jid = ctx.tracer.nextId()
          ctx.tracer.record(traceId, jid, callId, "spark.job", Clock.ns(j.startMs), Clock.ns(j.endMs))
          p.stagesOf(Seq(j)).foreach { s =>
            ctx.tracer.record(traceId, ctx.tracer.nextId(), jid, "spark.stage",
              Clock.ns(s.submitMs), Clock.ns(s.endMs))
          }
        }
      }
    }
    val spans = ctx.tracer.all
    val self = Trace.selfTimes(spans)

    def gap(g: String) = Option(CallSpans.get(g)).map(s => self.getOrElse(s._2, 0L) / 1e6)
    def plan(g: String) = p.groupPlans.get(g)
    def planning(g: String) = plan(g).map(pm =>
      AnalysisMs.getOrDefault(g, 0.0) + pm.analysisMs + pm.optimizationMs + pm.planningMs)
    def perWarm(f: Seq[Task] => Double) = med(warm.map(h => f(tasks(p.jobsOf(h._1)))))
    val cold = hist.head._1

    // gated: per measured retrieval (op), per materialize (write), cold call
    ctx.layer("store.jobs_per_op", med(warm.map(h => p.jobsOf(h._1).size.toDouble)), "count")
    ctx.layer("store.tasks_per_op", perWarm(_.size.toDouble), "count")
    ctx.layer("store.driver_gap_ms", med(warm.flatMap(h => gap(h._1))), "ms")
    ctx.layer("plans.planning_ms", med(warm.flatMap(h => planning(h._1))), "ms")
    ctx.layer("plans.cold_planning_ms", planning(cold), "ms")
    ctx.layer("plans.cold_codegen_ms", CodegenMs.getOrDefault(cold, 0.0), "ms")
    ctx.layer("operators.executor_run_ms", perWarm(_.map(_.runMs).sum.toDouble), "ms")
    ctx.layer("operators.executor_cpu_ms", perWarm(_.map(_.cpuMs).sum.toDouble), "ms")
    ctx.layer("operators.task_wait_ms", med(warm.map(h => taskWait(p, p.jobsOf(h._1)))), "ms")
    ctx.layer("operators.gc_ms", Stats.mean(warm.map(h => tasks(p.jobsOf(h._1)).map(_.gcMs).sum.toDouble)), "ms")
    ctx.layer("operators.shuffle_write_bytes", perWarm(_.map(_.shuffleWrite).sum.toDouble), "bytes")
    ctx.layer("sources.bytes_read", perWarm(_.map(_.bytesRead).sum.toDouble), "bytes")
    ctx.layer("online.upsert_ms", med(probe.upsertMs.values), "ms")
    ctx.layer("online.write_bytes_per_row",
      med(mat.map(m => tasks(p.jobsOf(m._1)).map(_.bytesWritten).sum.toDouble / m._2)), "bytes")
    ctx.layer("online.read_p50_ms", med(probe.onlineReadMs.values), "ms")
    ctx.layer("registry.lookup_p50_us", med(probe.registryLookupUs.values), "us")
    ctx.layer("jvm.gc_pause_ms", gcMs.toDouble, "ms")

    // this workload's own layers
    ctx.detail("store.hist_build_ms", probe.histBuildMs.values.headOption, "ms")
    ctx.detail("store.cold_driver_gap_ms", gap(cold), "ms")
    ctx.detail("plans.cold_analysis_ms", plan(cold).map(_.analysisMs + AnalysisMs.getOrDefault(cold, 0.0)), "ms")
    ctx.detail("plans.cold_optimization_ms", plan(cold).map(_.optimizationMs), "ms")
    ctx.detail("operators.task_skew", med(warm.map(h => skew(p, p.jobsOf(h._1)))), "ratio")
    ctx.detail("operators.sort_ms", med(warm.map(h => plan(h._1).map(_.sortMs).sum)), "ms")
    ctx.detail("operators.shuffle_read_bytes", perWarm(_.map(_.shuffleRead).sum.toDouble), "bytes")
    ctx.detail("operators.spill_bytes", perWarm(_.map(_.spill).sum.toDouble), "bytes")
    ctx.detail("sources.scan_ms", med(warm.map(h => plan(h._1).map(_.scanMs).sum)), "ms")
    ctx.detail("sources.rows_scanned_per_row_out",
      med(warm.map(h => tasks(p.jobsOf(h._1)).map(_.recordsRead).sum.toDouble / h._2)), "ratio")
    ctx.detail("write.executor_run_ms", med(mat.map(m => tasks(p.jobsOf(m._1)).map(_.runMs).sum.toDouble)), "ms")
  }

  /** Mean wait of a task for a slot: launch time minus stage submission. */
  def taskWait(p: SparkProbe, js: Seq[SparkProbe.Job]): Double = {
    val w = p.stagesOf(js).flatMap(s => s.tasks.map(t => (t.launchMs - s.submitMs).toDouble))
    Stats.mean(w).getOrElse(0.0)
  }

  /** max / median task time in the longest stage. */
  def skew(p: SparkProbe, js: Seq[SparkProbe.Job]): Double =
    p.stagesOf(js).filter(_.tasks.nonEmpty).sortBy(s => s.endMs - s.submitMs).lastOption
      .map { s =>
        val d = s.tasks.map(_.durationMs.toDouble).toSeq
        d.max / math.max(1.0, Stats.median(d).get)
      }.getOrElse(1.0)
}

/** Wall-clock ms (listener event times) to System.nanoTime (span times). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ns(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L
}
