package perfbench

import java.nio.file.{Files => NFiles, Paths, StandardCopyOption}
import java.time.Duration
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model._
import graft.online.{OnlineStore, ParquetOnlineStore}
import graft.registry.Registry
import graft.serving.{GrpcServingServer, ServingServer}
import graft.store.FeatureStore
import graft.streaming.StreamMaterializer

/** ingest_while_serving: seeded JSON event files land in a feed directory
  * at a fixed cadence (open loop) while materializeStream upserts them
  * into a small ParquetOnlineStore (8 buckets, well inside the
  * decoded-bucket cache) and get-online-features reads, half gRPC and
  * half HTTP, run open-loop at a fixed rate, favouring recently written
  * keys. Most requests carry one entity row, a few carry BatchRows, and a
  * share of keys is absent from every file. */
object IngestWhileServing {
  val Users = 5000
  val RowsPerFile = 100
  /** Feed files landed while measuring (numbered after the warm-up ones). */
  val Files = 100
  /** Files the stream takes during set-up, so micro-batches after the
    * first are warm when measuring starts. */
  val WarmFiles = 1
  val Measured: Range = (WarmFiles + 1) to (WarmFiles + Files)
  val ReadRps = 200.0
  /** Warm-up reads per set-up (the measured mix, at WarmRps). */
  val WarmReads = 300
  val WarmRps = 333.0
  /** Key mix: absent from every file (must read NOT_FOUND), from the
    * newest landed file, else any user. */
  val AbsentShare = 0.1
  val RecentShare = 0.7
  /** Share of requests with BatchRows entity rows instead of one. */
  val BatchShare = 0.05
  val BatchRows = 20
  val TriggerMs = 2000L
  /** How often the freshness probe polls the landed files' probe keys. */
  val ProbePollMs = 10L
  /** 8 buckets x nproc files: a few dozen small files, far inside the
    * decoded-bucket cache (512 files / 256 MB). */
  val Buckets = 8
  val Ref = "user_clicks:clicks"
  private val FeedSpanBase = 1L << 42
  private val ReqSpanBase = 1L << 43

  def register(fs: FeatureStore, feed: String): Unit = {
    val opts = Map("inferTimestamp" -> "true")
    fs.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    fs.applyFeatureView(FeatureView("user_clicks", Seq("user"),
      Seq(Feature("clicks", GraftType.Dbl)), Duration.ZERO,
      FileSource(feed, "ts", format = "json", options = opts),
      streamSource = Some(FileStreamSource(feed, "json", "ts", options = opts))))
  }


  /** Users of every feed file, index = file number. */
  def fileRows(seed: Long): IndexedSeq[Array[Long]] =
    (0 to WarmFiles + Files).map(j => Gen.feedRows(seed, j, Users, RowsPerFile))

  /** Read requests, evenly spaced at `rps`, alternating gRPC and HTTP;
    * every (1 / BatchShare)-th has BatchRows keys, the rest one. Each key
    * is absent (a user id in [Users, 2 Users)), a user of the newest landed
    * file, or any user. `stream` picks a different draw for the same seed. */
  def reads(seed: Long, seconds: Double, cadenceNs: Long, traced: Boolean,
      rps: Double = ReadRps, stream: Long = 0): IndexedSeq[Req] = {
    val files = fileRows(seed)
    val rnd = new SplittableRandom(seed * 53L + 3 + stream * 7919L)
    val out = IndexedSeq.newBuilder[Req]
    val batchEvery = math.round(1 / BatchShare)
    var i = 0L
    var t = 0.0
    while ({ t += 1e9 / rps; t < seconds * 1e9 }) {
      val newest = files(WarmFiles + math.min(Files, (t / cadenceNs).toInt))
      def key(): Long = {
        val u = rnd.nextDouble()
        if (u < AbsentShare) Users + rnd.nextLong(Users)
        else if (u < AbsentShare + RecentShare) newest(rnd.nextInt(newest.length))
        else rnd.nextLong(Users)
      }
      val n = if (i % batchEvery == batchEvery - 1) BatchRows else 1
      // the transport alternates, and so do the BatchRows requests
      val grpc = (i + i / batchEvery) % 2 == 0
      out += Req(t.toLong, grpc, Array.fill(n)(key()), if (traced) ReqSpanBase + i + 1 else 0L)
      i += 1
    }
    out.result()
  }

  /** The servers serve a store timed on the traced run; `probeFs` is the
    * same store and registry untimed, for the freshness probe and the
    * final check. `coldS` is the stream's start and first micro-batch (file
    * 0 into an empty store), `coldCodegenMs` the code generated meanwhile. */
  final case class Setup(probeFs: FeatureStore, query: StreamingQuery,
      grpc: GrpcServingServer, http: ServingServer, feed: String, ckpt: String,
      coldS: Double, coldCodegenMs: Double) {
    def stop(): Unit = { query.stop(); grpc.stop(); http.stop() }
  }

  def setUp(ctx: Ctx, dir: String, probe: LayerProbe): Setup = {
    val feed = s"$dir/feed"
    NFiles.createDirectories(Paths.get(feed))
    NFiles.write(Paths.get(feed, "f000000.json"), Gen.feedFileBytes(ctx.seed, 0, Users, RowsPerFile))
    val inner = new ParquetOnlineStore(s"$dir/store", numBuckets = Buckets)
    val registry = if (ctx.traced) new TimedRegistry(probe) else new Registry()
    val fs = if (ctx.traced)
      new TimedFeatureStore("bench", registry, new TimedOnlineStore(inner, probe), ctx.spark, probe)
      else new FeatureStore("bench", registry, inner, ctx.spark)
    register(fs, feed)
    val ckpt = s"$dir/ckpt"
    val codegen0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val q = StreamMaterializer.materializeStream(fs, "user_clicks",
      Trigger.ProcessingTime(TriggerMs), Some(ckpt))
    q.processAllAvailable()
    val coldS = (System.nanoTime() - t0) / 1e9
    val coldCodegenMs = (CodeGenerator.compileTime - codegen0) / 1e6
    (1 to WarmFiles).foreach { j =>
      NFiles.write(Paths.get(feed, f"f$j%06d.json"), Gen.feedFileBytes(ctx.seed, j, Users, RowsPerFile))
      q.processAllAvailable()
    }
    val cores = Runtime.getRuntime.availableProcessors()
    Setup(new FeatureStore("bench", registry, inner, ctx.spark), q,
      new GrpcServingServer(fs, dispatchThreads = cores), new ServingServer(fs, poolSize = cores).start(),
      feed, ckpt, coldS, coldCodegenMs)
  }

  def served(fs: FeatureStore, users: Seq[Long]): Seq[Served] = {
    val r = fs.getOnlineFeatures(Seq(Ref), users.map(u => Map[String, Any]("user_id" -> u)))
    r.fields.head._2.map(fv => Served(fv.status,
      if (fv.status == Served.Present) Some(fv.value.asInstanceOf[Double]) else None))
  }

  def run(ctx: Ctx): Unit = {
    val probe = new LayerProbe(ctx.tracer)
    val sp = if (ctx.traced) Some(new SparkProbe(ctx.spark)) else None
    sp.foreach(_.register())
    // inputs first (not set-up): every feed file, staged beside the feed
    val staging = Paths.get(ctx.runDir, "staging")
    NFiles.createDirectories(staging)
    Measured.foreach(j =>
      NFiles.write(staging.resolve(f"f$j%06d.json"), Gen.feedFileBytes(ctx.seed, j, Users, RowsPerFile)))

    // set-up: store built by the stream from file 0 and the warm-up files,
    // both servers, WarmReads reads of the measured mix; twice, the last
    // one is measured
    val cores = Runtime.getRuntime.availableProcessors()
    var su: Setup = null
    var clients: ServingClients = null
    var cold: Setup = null // the first set-up: everything ran cold
    val setupS = (0 until 2).map { rep =>
      if (su != null) { clients.close(); su.stop() }
      val t0 = System.nanoTime()
      su = setUp(ctx, s"${ctx.runDir}/rep-$rep", probe)
      if (cold == null) cold = su
      clients = new ServingClients(su.grpc.boundPort, su.http.boundPort, cores, Ref, "user_id")
      clients.run(reads(ctx.seed, WarmReads / WarmRps, Long.MaxValue, traced = false, WarmRps, stream = 1 + rep))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.e2e("setup_s", ctx.sessionS + Stats.median(setupS).get, "s")
    ctx.detail("stream_cold_s", cold.coldS, "s")
    Main.log(f"setup reps ${setupS.map(s => f"$s%.2f").mkString(" ")} s (session ${ctx.sessionS}%.2f s)")
    Seq(probe.registryLookupUs, probe.onlineReadMs, probe.readFsOps, probe.readFsBytes,
      probe.upsertMs, probe.facadeMs).foreach(_.clear())
    val fs = su.probeFs

    val seconds = ctx.args.seconds.toDouble
    val cadenceNs = (seconds * 1e9 / Files).toLong
    val rs = reads(ctx.seed, seconds, cadenceNs, ctx.traced)
    // landNs: just before the rename (System.nanoTime); landMs: just after
    val landNs = new ConcurrentHashMap[Int, java.lang.Long]()
    val landMs = new ConcurrentHashMap[Int, java.lang.Long]()
    val seenMs = new ConcurrentHashMap[Int, java.lang.Long]()
    val gc0 = Jvm.gcMs()
    val t0 = System.nanoTime() + 50000000L
    val feeder = new Thread(() => Measured.foreach { j =>
      val due = t0 + (j - WarmFiles) * cadenceNs
      while (System.nanoTime() < due) java.util.concurrent.locks.LockSupport.parkNanos(due - System.nanoTime())
      val name = f"f$j%06d.json"
      landNs.put(j, System.nanoTime())
      NFiles.move(staging.resolve(name), Paths.get(su.feed, name), StandardCopyOption.ATOMIC_MOVE)
      landMs.put(j, System.currentTimeMillis())
    }, "feeder")
    // the freshness probe: polls each landed file's probe key through
    // FeatureStore.getOnlineFeatures until it reads back that file's value
    @volatile var probing = true
    val prober = new Thread(() => while (probing || seenMs.size < landMs.size) {
      val pending = Measured.filter(j => landMs.containsKey(j) && !seenMs.containsKey(j))
      if (pending.nonEmpty) {
        val got = served(fs, pending.map(Gen.ProbeBase + _))
        val now = System.currentTimeMillis()
        pending.zip(got).foreach { case (j, v) => if (v.value.contains(j.toDouble)) seenMs.put(j, now) }
      }
      Thread.sleep(ProbePollMs)
    }, "prober")
    feeder.start(); prober.start()

    val out = try clients.run(rs, t0) finally clients.close()
    feeder.join()
    val drainDeadline = System.currentTimeMillis() + 60000
    while (seenMs.size < Files && System.currentTimeMillis() < drainDeadline) Thread.sleep(10)
    probing = false
    prober.join(5000)
    val gcMs = Jvm.gcMs() - gc0

    // checks: every probe seen. Each key of each read answers NOT_FOUND
    // when absent, else a file number whose file holds the key and was
    // renamed into the feed before the read ended, never older than a read
    // of the key that completed before this one started. The final store
    // holds each user's latest file, and absent keys stay NOT_FOUND.
    ctx.result.op(ctx.result.check(seenMs.size == Files, s"only ${seenMs.size}/$Files probe keys read back"))
    val holds = fileRows(ctx.seed).map(_.toSet)
    def landedBefore(j: Int, endNs: Long) =
      j <= WarmFiles || Option(landNs.get(j)).exists(_ < t0 + endNs)
    val completed = scala.collection.mutable.Map[Long, List[(Double, Long)]]() // user -> (value, end ns)
    rs.indices.sortBy(i => out(i).startNs).foreach { i =>
      val o = out(i)
      val ok = o.result match {
        case Right(res) =>
          val got = clients.served(res)
          ctx.result.check(got.size == rs(i).keys.length, s"${got.size} answers for ${rs(i).keys.length} keys") &&
          rs(i).keys.toSeq.zip(got).forall {
            case (user, s) if user >= Users =>
              ctx.result.check(s.status == Served.NotFound, s"absent user $user read $s")
            case (user, Served(_, Some(x))) if x.isWhole && x >= 0 && x < holds.size &&
                holds(x.toInt)(user) && landedBefore(x.toInt, o.endNs) =>
              val before = completed.getOrElse(user, Nil)
              completed(user) = (x, o.endNs) :: before
              val prev = before.filter(_._2 < o.startNs).map(_._1).maxOption
              ctx.result.check(prev.forall(_ <= x), s"user $user read $x after ${prev.get}")
            case (user, s) => ctx.result.check(false, s"user $user read $s: no landed file holds it")
          }
        case Left(e) => Main.log(s"read failed: $e"); false
      }
      ctx.result.op(ok)
    }
    su.query.processAllAvailable()
    val expected = new Array[Double](Users)
    fileRows(ctx.seed).zipWithIndex.foreach { case (us, j) => us.foreach(u => expected(u.toInt) = j.toDouble) }
    val finalVals = (0L until 2L * Users).grouped(1000).flatMap(g => served(fs, g)).toSeq
    val mismatches = (0 until Users).count(u => !finalVals(u).value.contains(expected(u))) +
      (Users until 2 * Users).count(u => finalVals(u).status != Served.NotFound)
    ctx.result.op(ctx.result.check(mismatches == 0, s"$mismatches keys differ from their latest fed value"))

    val lags = Measured.flatMap(j => Option(seenMs.get(j)).map(s => (s - landMs.get(j)) / 1e3))
    val lat = out.map(o => if (o.result.isRight) o.latencyMs else Double.PositiveInfinity)
    // the gated name: op = a fed file until it reads back; the upsert of a
    // measured micro-batch (the sink's addBatch) is detail
    val writeS = su.query.recentProgress.toSeq
      .filter(p => p.batchId > WarmFiles && p.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("addBatch")).map(_.doubleValue / 1e3))
    ctx.e2e("op_p50_s", Stats.median(lags), "s")
    ctx.detail("add_batch_p50_s", Stats.median(writeS), "s")
    ctx.layer("trace.op_p50_s", Stats.median(lags), "s")
    ctx.detail("fresh_lag_p50_s", Stats.median(lags), "s")
    ctx.detail("fresh_lag_p90_s", Stats.percentile(lags, 0.9), "s")
    // served latency moves too much from run to run on a shared 4-core
    // machine to gate on (README)
    ctx.detail("serve_p50_ms", Stats.median(lat), "ms")
    ctx.detail("serve_p99_ms", Stats.percentile(lat, 0.99), "ms")
    Main.log(f"fresh lag p50=${Stats.median(lags).getOrElse(-1.0)}%.3f s, " +
      f"addBatch p50=${Stats.median(writeS).getOrElse(-1.0)}%.3f s (${writeS.size} batches), reads=${rs.size}")

    sp.foreach { p =>
      p.settle()
      layers(ctx, p, probe, su, cold, landMs, seenMs, gcMs)
      servingLayers(ctx, probe, rs, out, t0)
      p.unregister()
    }
    su.stop()
  }

  /** Serving-path layers of the reads (the freshness probe reads untimed). */
  private def servingLayers(ctx: Ctx, probe: LayerProbe, rs: IndexedSeq[Req],
      out: IndexedSeq[OpenLoop.Outcome], t0: Long): Unit = {
    def lat(grpc: Boolean) = rs.indices.filter(rs(_).grpc == grpc).map(out(_).latencyMs)
    ctx.detail("serving.grpc_p50_ms", Stats.median(lat(true)), "ms")
    ctx.detail("serving.grpc_p99_ms", Stats.percentile(lat(true), 0.99), "ms")
    ctx.detail("serving.http_p50_ms", Stats.median(lat(false)), "ms")
    ctx.detail("serving.http_p99_ms", Stats.percentile(lat(false), 0.99), "ms")
    val facade = probe.facadeMs.values
    ctx.detail("store.get_online_p50_ms", Stats.median(facade), "ms")
    ctx.detail("store.get_online_p99_ms", Stats.percentile(facade, 0.99), "ms")
    // client spans (send -> reply) around the server facade spans
    rs.indices.foreach { i =>
      ctx.tracer.record(rs(i).spanId, rs(i).spanId, 0L, "loadgen.request", t0 + out(i).startNs, t0 + out(i).endNs)
    }
    val spans = ctx.tracer.all
    val self = Trace.selfTimes(spans)
    ctx.detail("serving.self_p50_ms",
      Stats.median(spans.filter(_.name == "loadgen.request").map(s => self(s.id) / 1e6)), "ms")
    val lookups = probe.registryLookupUs.values
    ctx.layer("registry.lookup_p50_us", Stats.median(lookups), "us")
    ctx.detail("registry.lookup_p99_us", Stats.percentile(lookups, 0.99), "us")
    val reads = probe.onlineReadMs.values
    ctx.layer("online.read_p50_ms", Stats.median(reads), "ms")
    ctx.detail("online.read_p99_ms", Stats.percentile(reads, 0.99), "ms")
    val n = math.max(1, reads.size)
    ctx.detail("online.fs_read_ops_per_req", probe.readFsOps.values.sum / n, "count")
    ctx.detail("online.fs_bytes_read_per_req", probe.readFsBytes.values.sum / n, "bytes")
    ctx.detail("online.zero_io_share", probe.readFsBytes.values.count(_ == 0).toDouble / n, "ratio")
    ctx.detail("loadgen.late_p99_ms", Stats.percentile(out.map(_.lateMs), 0.99), "ms")
  }

  private def layers(ctx: Ctx, p: SparkProbe, probe: LayerProbe, su: Setup, cold: Setup,
      landMs: ConcurrentHashMap[Int, java.lang.Long], seenMs: ConcurrentHashMap[Int, java.lang.Long],
      gcMs: Long): Unit = {
    import SparkProbe._
    val batches = p.batches.toSeq.filter(b => b.rows > 0 && b.id > WarmFiles)
    def med(xs: Seq[Double]) = Stats.median(xs)
    val jobs = batches.map(b => p.jobsOfBatch(b.id))
    def tasks(js: Seq[Job]) = p.stagesOf(js).flatMap(_.tasks)
    def perBatch(f: Seq[Task] => Double) = med(jobs.map(js => f(tasks(js))))
    // gated: per measured micro-batch (op and write), the cold first batch
    ctx.layer("store.jobs_per_op", med(jobs.map(_.size.toDouble)), "count")
    ctx.layer("store.tasks_per_op", perBatch(_.size.toDouble), "count")
    ctx.layer("store.driver_gap_ms", med(batches.zip(jobs).map { case (b, js) =>
      b.triggerMs - Trace.covered(b.startMs, b.startMs + b.triggerMs.toLong, js.map(j => (j.startMs, j.endMs))) }), "ms")
    ctx.layer("plans.planning_ms", med(batches.map(_.planningMs)), "ms")
    // the first batch recorded: set-up 1's batch 0, file 0 into an empty store
    ctx.layer("plans.cold_planning_ms", p.batches.headOption.map(_.planningMs), "ms")
    ctx.layer("plans.cold_codegen_ms", cold.coldCodegenMs, "ms")
    ctx.layer("operators.executor_run_ms", perBatch(_.map(_.runMs).sum.toDouble), "ms")
    ctx.layer("operators.executor_cpu_ms", perBatch(_.map(_.cpuMs).sum.toDouble), "ms")
    ctx.layer("operators.task_wait_ms", med(jobs.map(js => OfflineBatch.taskWait(p, js))), "ms")
    ctx.layer("operators.gc_ms", Stats.mean(jobs.map(js => tasks(js).map(_.gcMs).sum.toDouble)), "ms")
    ctx.layer("operators.shuffle_write_bytes", perBatch(_.map(_.shuffleWrite).sum.toDouble), "bytes")
    ctx.layer("sources.bytes_read", perBatch(_.map(_.bytesRead).sum.toDouble), "bytes")
    ctx.layer("online.upsert_ms", med(probe.upsertMs.values), "ms")
    val written = jobs.map(js => tasks(js).map(_.bytesWritten).sum).sum
    ctx.layer("online.write_bytes_per_row", written.toDouble / math.max(1L, batches.map(_.rows).sum), "bytes")
    ctx.layer("jvm.gc_pause_ms", gcMs.toDouble, "ms")

    // this workload's own layers
    ctx.detail("streaming.trigger_ms", med(batches.map(_.triggerMs)), "ms")
    ctx.detail("streaming.add_batch_ms", med(batches.map(_.addBatchMs)), "ms")
    ctx.detail("streaming.latest_offset_ms", med(batches.map(_.latestOffsetMs)), "ms")
    ctx.detail("streaming.wal_commit_ms", med(batches.map(_.walMs)), "ms")
    ctx.detail("streaming.rows_per_batch", med(batches.map(_.rows.toDouble)), "rows")
    // which batch took which file: the file source's own commit log
    val fileBatch = SourceLog.fileBatches(s"${su.ckpt}/sources/0")
    val startOf = p.batches.map(b => b.id -> b.startMs).toMap
    val landToStart = Measured.flatMap { j =>
      fileBatch.get(f"f$j%06d.json").flatMap(startOf.get).map(s => (s - landMs.get(j)).toDouble)
    }
    ctx.detail("streaming.land_to_start_ms", med(landToStart), "ms")
    // spans: feed file (land -> read back) -> stream batch -> upsert; a
    // batch hangs under the first file it took
    Measured.foreach { j =>
      val id = FeedSpanBase + j
      ctx.tracer.record(id, id, 0L, "feed.file", Clock.ns(landMs.get(j)),
        Clock.ns(Option(seenMs.get(j)).map(_.longValue).getOrElse(landMs.get(j))))
    }
    p.batches.foreach { b =>
      val id = LayerProbe.BatchSpanBase + b.id
      val first = fileBatch.collect { case (f, bid) if bid == b.id => f.drop(1).takeWhile(_ != '.').toLong }
        .minOption.map(FeedSpanBase + _).getOrElse(0L)
      ctx.tracer.record(id, id, first, "stream.batch", Clock.ns(b.startMs), Clock.ns(b.startMs + b.triggerMs.toLong))
    }
  }
}

/** Reads Structured Streaming's file-source log: file name -> batch id. */
object SourceLog {
  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
  def fileBatches(dir: String): Map[String, Long] = {
    val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().collect { case Entry(path, b) => path.split('/').last -> b.toLong }.toList
      finally src.close()
    }.toMap
  }
}
