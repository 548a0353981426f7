package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import java.time.Duration

import graft.model._
import graft.online.ParquetOnlineStore
import graft.registry.Registry
import graft.serving.{GrpcServingClient, GrpcServingServer, ServingServer}
import graft.store.FeatureStore

/** Serving-tier latency SLO harness (dev tool, never part of the
  * library surface): p50/p99 of getOnlineFeatures over BOTH transports
  * (HTTP/JSON and gRPC) at 1 / 8 / 32 concurrent clients, decoded-
  * bucket serving cache warm and cold, against the durable bucketed
  * [[ParquetOnlineStore]] — the reference's online read
  * (`sdk/python/feast/infra/online_stores/sqlite.py:130-164`, served
  * as GetOnlineFeaturesV2, `protos/feast/serving/ServingService
  * .proto:30-36`) is THE latency surface. Default request = one entity
  * row (pure point-read latency), keys rotating across the
  * materialized key space plus a miss share, like a production key
  * stream; pass a second arg to measure batched requests (the
  * reference serving benchmark's shape — N entity rows per call).
  * Cold passes drop the bucket cache before every call, so each
  * request pays footer + row-group decode; warm passes measure the
  * steady block-cache path. Prints a markdown table for BENCH_NOTES
  * .md. The warm single-client floor is regression-pinned in
  * ServingSpec ("serving latency SLO").
  *
  *   runMain graft.tools.ServingSlo [sfDir] [rowsPerRequest]
  */
object ServingSlo {

  private def pct(sorted: Array[Long], p: Double): Double =
    sorted((p * (sorted.length - 1)).round.toInt) / 1e6

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.Sessions.local()

    val tmp = s"/tmp/graft_slo_${java.util.UUID.randomUUID().toString.take(8)}"
    graft.queries.TmpSweeper.register(tmp)
    // "parquet" (default) = the single bucketed store; "sharded" runs
    // the SAME cells through the HRW composite over 3 parquet shards
    // (VERDICT r14 #4 — routing + per-shard swap windows must be
    // measured, not assumed), and appends a rebalance-under-load cell
    val storeKind = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SLO_STORE", "parquet"))
    val shardDirs = (0 until 3).map(i => s"$tmp/store$i")
    val (store, dropCache) = storeKind match {
      case "sharded" =>
        val s = new graft.online.ShardedOnlineStore(
          shardDirs.map(d => new ParquetOnlineStore(d, numBuckets = 32)).toIndexedSeq)
        (s: graft.online.OnlineStore,
          () => s.children.foreach(
            _.asInstanceOf[ParquetOnlineStore].dropServingCache("slo", "user_events")))
      case _ =>
        val s = new ParquetOnlineStore(s"$tmp/store", numBuckets = 32)
        (s: graft.online.OnlineStore,
          () => s.dropServingCache("slo", "user_events"))
    }
    val fs = new FeatureStore("slo", new Registry(), store, spark)
    fs.applyEntity(Entity("user", GraftType.Int64, joinKeyOpt = Some("user_id")))
    fs.applyFeatureView(FeatureView(
      name = "user_events", entities = Seq("user"),
      features = Seq(Feature("event_type", GraftType.Str), Feature("value", GraftType.Dbl)),
      ttl = Duration.ZERO,
      batchSource = DataFrameSource(
        graft.sources.Tables.read(spark, sfDir, "events"), eventTimestampColumn = "ts")))
    fs.materialize(Seq("user_events"),
      Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-31 00:00:00"))

    // serving pools sized to the top client concurrency measured — the
    // deployment guidance the harness itself demonstrates (a 4-thread
    // pool at 32 clients shows up directly as queueing tail)
    val http = new ServingServer(fs, poolSize = 32).start()
    val grpc = new GrpcServingServer(fs, dispatchThreads = 32)
    val httpPort = http.boundPort
    val grpcPort = grpc.boundPort

    val keySpace = 200L // materialized ids ~0..149 + a NOT_FOUND share
    val rowsPerReq = args.lift(1).map(_.toInt).getOrElse(1)
    val refs = Seq("user_events:event_type", "user_events:value")
    def reqIds(seed: Long): Seq[Long] =
      (0 until rowsPerReq).map(r => (seed + r * 31) % keySpace)

    def httpCall(client: HttpClient, seed: Long): Unit = {
      val rows = reqIds(seed).map(id => s"""{"user_id":$id}""").mkString(",")
      val body =
        s"""{"features":["user_events:event_type","user_events:value"],"entity_rows":[$rows]}"""
      val resp = client.send(HttpRequest.newBuilder()
          .uri(URI.create(s"http://127.0.0.1:$httpPort/get-online-features"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200, s"http ${resp.statusCode()}: ${resp.body()}")
    }

    final case class Cell(proto: String, clients: Int, cache: String,
        n: Int, p50: Double, p99: Double, max: Double, rps: Double)

    def run(proto: String, clients: Int, cache: String, perThread: Int): Cell = {
      val lats = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val t0 = System.nanoTime()
      val threads = (0 until clients).map { t =>
        new Thread(() => {
          val httpClient = if (proto == "http") HttpClient.newHttpClient() else null
          val grpcClient =
            if (proto == "grpc") new GrpcServingClient("127.0.0.1", grpcPort) else null
          try {
            var i = 0
            while (i < perThread) {
              val seed = (t.toLong * 7919 + i * 13) % keySpace
              if (cache == "cold") dropCache()
              val s = System.nanoTime()
              if (proto == "http") httpCall(httpClient, seed)
              else {
                grpcClient.getOnlineFeatures(refs,
                  reqIds(seed).map(id => Map[String, Any]("user_id" -> id)))
                ()
              }
              lats.add(System.nanoTime() - s)
              i += 1
            }
          } finally if (grpcClient != null) grpcClient.close()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      val sorted = {
        val it = lats.iterator(); val b = Array.newBuilder[Long]
        while (it.hasNext) b += it.next()
        b.result().sorted
      }
      Cell(proto, clients, cache, sorted.length,
        pct(sorted, 0.50), pct(sorted, 0.99), sorted.last / 1e6, sorted.length / wall)
    }

    // JIT + codec warmup on both transports, off the books
    run("http", 4, "warm", 150)
    run("grpc", 4, "warm", 150)

    val cells = for {
      proto <- Seq("http", "grpc")
      clients <- Seq(1, 8, 32)
      cache <- Seq("cold", "warm")
    } yield run(proto, clients, cache,
      perThread = if (cache == "cold") 60 else 300)

    println(s"\nSLO sfDir=$sfDir store=$storeKind(32 buckets" +
      (if (storeKind == "sharded") " x 3 shards" else "") +
      s") $rowsPerReq row(s)/req keys=0..${keySpace - 1}")
    println("| transport | clients | cache | n | p50 ms | p99 ms | max ms | req/s |")
    println("|---|---|---|---|---|---|---|---|")
    cells.foreach { c =>
      println(f"| ${c.proto} | ${c.clients} | ${c.cache} | ${c.n} | ${c.p50}%.2f | ${c.p99}%.2f | ${c.max}%.2f | ${c.rps}%.0f |")
    }

    // ---- SLO UNDER MAINTENANCE CHURN (VERDICT r13 #5) ----------------
    // The steady table above is the happy path; the mid-swap read retry
    // (bounded re-resolve + backoff) and the write-path cache
    // invalidation engage exactly when an upsert/expire storm is
    // swapping buckets. A maintenance thread loops upsert batches (all
    // 200 keys + ephemeral pre-cutoff rows) with an expire pass every
    // third round, WHILE the grpc clients hammer point reads — the
    // tails show what the retry actually costs a serving tier.
    {
      import spark.implicits._
      val vv = fs.registry.getFeatureView("user_events")
      val base = Timestamp.valueOf("2024-01-31 00:00:00").getTime
      @volatile var churnStop = false
      @volatile var maintRounds = 0
      @volatile var maintError: Throwable = null
      val maintenance = new Thread(() => {
        try maintLoop()
        catch { case e: Throwable => maintError = e }
        def maintLoop(): Unit = {
        var i = 0
        while (!churnStop) {
          val main = (0L until keySpace)
            .map(k => (k, new Timestamp(base + i * 1000L), "churn", k * 1.0))
          val eph = Seq((100000L + i, Timestamp.valueOf("2020-01-01 00:00:00"),
            "eph", -1.0))
          (main ++ eph).toDF("user_id", "ts", "event_type", "value")
            .createOrReplaceTempView("__churn_batch")
          store.upsert("slo", vv, Seq("user_id"),
            spark.table("__churn_batch"), "ts", None)
          if (i % 3 == 2) {
            val cutoff = Timestamp.valueOf("2021-01-01 00:00:00")
            store match {
              case e: graft.online.ExpirableOnlineStore =>
                e.expire(spark, "slo", vv, Seq("user_id"), "ts", cutoff)
              case _ => ()
            }
            ()
          }
          i += 1
          maintRounds = i
        }
        }
      }, "slo-churn-maintenance")
      maintenance.setDaemon(true)
      maintenance.start()
      // reads run UNTIL several maintenance rounds complete under them
      // (a fixed read count finished before the first multi-second
      // upsert job even landed — zero swaps measured), so every cell's
      // tail actually contains bucket swaps + cache invalidations
      def runChurn(clients: Int, minRounds: Int): Cell = {
        val lats = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val readErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val startRound = maintRounds
        @volatile var stopReads = false
        val t0 = System.nanoTime()
        val threads = (0 until clients).map { t =>
          new Thread(() => {
            // a reader throw must FAIL the cell loudly — a silently
            // dead client under-samples exactly the bad tail this tool
            // exists to measure (review r14)
            try {
              val cli = new graft.serving.GrpcServingClient("127.0.0.1", grpcPort)
              try {
                var i = 0
                while (!stopReads) {
                  val seed = (t.toLong * 7919 + i * 13) % keySpace
                  val s = System.nanoTime()
                  cli.getOnlineFeatures(refs,
                    reqIds(seed).map(id => Map[String, Any]("user_id" -> id)))
                  lats.add(System.nanoTime() - s)
                  i += 1
                }
              } finally cli.close()
            } catch { case e: Throwable => readErrors.add(e); stopReads = true }
          })
        }
        threads.foreach(_.start())
        // a dead maintenance thread must FAIL the run, not wedge it:
        // the round-wait otherwise spins forever with clients hammering
        // the server and no output (review r14)
        while (!stopReads && maintRounds < startRound + minRounds) {
          if (!maintenance.isAlive) {
            stopReads = true
            threads.foreach(_.join(30000))
            throw new IllegalStateException(
              "churn maintenance thread died mid-measurement", maintError)
          }
          Thread.sleep(50L)
        }
        stopReads = true
        threads.foreach(_.join(30000))
        if (!readErrors.isEmpty)
          throw new IllegalStateException(
            s"churn reader(s) died mid-measurement (${readErrors.size})",
            readErrors.peek())
        val wall = (System.nanoTime() - t0) / 1e9
        val sorted = {
          val it = lats.iterator(); val b = Array.newBuilder[Long]
          while (it.hasNext) b += it.next()
          b.result().sorted
        }
        require(sorted.nonEmpty, "churn cell collected zero latencies")
        Cell("grpc", clients, "churn", sorted.length,
          pct(sorted, 0.50), pct(sorted, 0.99), sorted.last / 1e6, sorted.length / wall)
      }
      val churnCells = Seq(1, 8, 32).map(c => runChurn(c, minRounds = 6))
      churnStop = true
      maintenance.join(60000)
      println(s"\nSLO UNDER CHURN: grpc, warm cache, sustained upsert+expire loop " +
        s"(>=6 maintenance rounds per cell; $maintRounds total rounds)")
      println("| transport | clients | n | p50 ms | p99 ms | max ms | req/s |")
      println("|---|---|---|---|---|---|---|")
      churnCells.foreach { c =>
        println(f"| ${c.proto} | ${c.clients} | ${c.n} | ${c.p50}%.2f | ${c.p99}%.2f | ${c.max}%.2f | ${c.rps}%.0f |")
      }
    }

    // ---- SLO DURING RING GROWTH (sharded mode only) ------------------
    // The operational grow sequence: serving restarts on the grown
    // 4-ring FIRST (the old shards' ring markers still record size 3,
    // so the grow-window read fallback is armed), then the migration
    // runs UNDER live point reads. The cell pins what the move costs a
    // serving tier and that no materialized key EVER misses mid-move —
    // upsert-before-delete plus the fallback is the contract.
    if (storeKind == "sharded") {
      val grownStore = new graft.online.ShardedOnlineStore(
        (shardDirs :+ s"$tmp/store3").map(d =>
          new ParquetOnlineStore(d, numBuckets = 32)).toIndexedSeq)
      val fs2 = new FeatureStore("slo", fs.registry, grownStore, spark)
      val grpc2 = new GrpcServingServer(fs2, dispatchThreads = 32)
      val lats = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      // ABSENT-key mix (VERDICT r15 #5): ~10% of reads target ids that
      // were never materialized. Mid-grow a genuinely absent key whose
      // HRW winner changed in the grow pays the 2-probe miss path
      // (miss on the new home → re-probe the pre-grow home) — the one
      // serving path the materialized-ids-only cell never exercises.
      // Absent latencies are bucketed by phase (grow window vs after
      // commitRingMarkers disarms the fallback) so the 2-probe tail is
      // pinned AGAINST its own steady-state, same run, same box.
      val latsAbsGrow = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val latsAbsSteady = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val misses = new java.util.concurrent.atomic.AtomicLong(0L)
      val ghosts = new java.util.concurrent.atomic.AtomicLong(0L)
      val readErr = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      @volatile var stopReads = false
      @volatile var phase = 0 // 0 = grow window, 1 = markers committed
      val clients = 8
      val threads = (0 until clients).map { t =>
        new Thread(() => {
          try {
            val cli = new GrpcServingClient("127.0.0.1", grpc2.boundPort)
            try {
              var i = 0
              while (!stopReads) {
                val absent = i % 10 == 9
                val id =
                  if (absent) 1000000L + ((t.toLong * 7919 + i * 13) % 100000L)
                  else (t.toLong * 7919 + i * 13) % 150L // materialized ids
                val ph = phase
                val s = System.nanoTime()
                val r = cli.getOnlineFeatures(refs,
                  Seq(Map[String, Any]("user_id" -> id)))
                val dt = System.nanoTime() - s
                val allPresent = r.head._2.valuesIterator.forall(
                  _ == graft.serving.FeastProto.StatusPresent)
                if (absent) {
                  (if (ph == 0) latsAbsGrow else latsAbsSteady).add(dt)
                  if (allPresent) ghosts.incrementAndGet() // phantom serve
                } else {
                  lats.add(dt)
                  if (!allPresent) misses.incrementAndGet()
                }
                i += 1
              }
            } finally cli.close()
          } catch { case e: Throwable => readErr.add(e); stopReads = true }
        })
      }
      threads.foreach(_.start())
      Thread.sleep(300L) // readers established on the pre-migration state
      // SPARK_GRAFT_REBALANCE_PAR=N migrates N shards concurrently —
      // the r16 --parallel knob, measured here under live reads
      val rebPar = sys.env.get("SPARK_GRAFT_REBALANCE_PAR")
        .map(_.toInt).getOrElse(1)
      val tReb = System.nanoTime()
      val movedRows = fs2.rebalanceOnline(None, parallelism = rebPar)
      val rebWall = (System.nanoTime() - tReb) / 1e9
      phase = 1 // rebalanceOnline committed the markers: fallback disarmed
      Thread.sleep(600L) // a post-commit steady tail in the same cell
      stopReads = true
      threads.foreach(_.join(30000))
      if (!readErr.isEmpty) throw new IllegalStateException(
        s"rebalance-cell reader died (${readErr.size})", readErr.peek())
      def drain(q: java.util.concurrent.ConcurrentLinkedQueue[Long]): Array[Long] = {
        val it = q.iterator(); val b = Array.newBuilder[Long]
        while (it.hasNext) b += it.next()
        b.result().sorted
      }
      val sorted = drain(lats)
      val absGrow = drain(latsAbsGrow)
      val absSteady = drain(latsAbsSteady)
      require(sorted.nonEmpty, "rebalance cell collected zero latencies")
      require(absGrow.nonEmpty && absSteady.nonEmpty,
        "absent-key cell collected zero samples in a phase")
      println(f"\nSLO DURING REBALANCE: grpc, $clients clients, grow 3->4, 10%% absent-key mix " +
        f"(moved $movedRows rows in $rebWall%.2f s), misses=${misses.get()} (must be 0), " +
        f"phantom absent-key serves=${ghosts.get()} (must be 0)")
      println("| key mix | phase | n | p50 ms | p99 ms | max ms |")
      println("|---|---|---|---|---|---|")
      println(f"| materialized | whole cell | ${sorted.length} | ${pct(sorted, 0.50)}%.2f " +
        f"| ${pct(sorted, 0.99)}%.2f | ${sorted.last / 1e6}%.2f |")
      println(f"| absent (2-probe path) | grow window | ${absGrow.length} | ${pct(absGrow, 0.50)}%.2f " +
        f"| ${pct(absGrow, 0.99)}%.2f | ${absGrow.last / 1e6}%.2f |")
      println(f"| absent (fallback off) | post-commit | ${absSteady.length} | ${pct(absSteady, 0.50)}%.2f " +
        f"| ${pct(absSteady, 0.99)}%.2f | ${absSteady.last / 1e6}%.2f |")
      require(misses.get() == 0L,
        s"reads missed ${misses.get()} times during rebalance")
      require(ghosts.get() == 0L,
        s"${ghosts.get()} absent keys served PRESENT during rebalance")
      grpc2.stop()
    }

    grpc.stop(); http.stop()
    spark.stop()
  }
}
