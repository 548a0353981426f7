package graft.tools

import org.apache.spark.sql.functions._

/** Sort-merge vs broadcast as-of route at scale (VERDICT r11 #1): the
  * production retrieval shape is a SMALL entity frame (a training
  * batch) against a LARGE feature log — the case the broadcast route
  * exists for. This probe holds the entity frame fixed (sf0.1 orders,
  * ~150k rows) and grows the feature side through the ScaleCheck
  * replicas (sf0.1 lineitem 1× = 11 MB / 600k rows, 10× = 110 MB / 6M,
  * 100× = 1.1 GB / 60M), timing BOTH routes on the identical workload.
  * Calibrates `graft.asof.broadcastRightMin` and backs the BENCH_NOTES
  * r12 scaling row.
  *
  * usage: AsofScale [entityDir] [featureDir1x] [replica10x] [replica100x]
  */
object AsofScale {
  def main(args: Array[String]): Unit = {
    val entDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val feat1 = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val feat10 = args.lift(2).getOrElse("/tmp/graft_scale10")
    val feat100 = args.lift(3).getOrElse("/tmp/graft_scale100")
    val spark = graft.Sessions.local(benchAqe = true)

    // shuffle accounting: wall time on local[32] hides the exchange cost
    // (shuffles are RAM-speed in one JVM); at cluster scale shuffled
    // bytes cross the network and ARE the cost — report both
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          shuffleWrite.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })

    val entity = graft.sources.Tables.read(spark, entDir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      (col("o_orderdate") + expr("INTERVAL 365 DAY")).as("event_timestamp"))

    def run(tag: String, featDir: String): Unit = {
      val feat = graft.sources.Tables.read(spark, featDir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"))
      for (strategy <- Seq(graft.plans.AsOfJoin.SortMerge, graft.plans.AsOfJoin.Broadcast)) {
        val df = graft.plans.AsOfJoin.join(entity, feat, Seq("o_orderkey"),
          "event_timestamp", "l_shipdate", java.time.Duration.ofDays(400),
          orderCols = Seq("l_linenumber"),
          featureCols = Seq("l_quantity", "l_extendedprice", "l_returnflag"),
          strategy = strategy)
        def force(): Unit = df.write.format("noop").mode("overwrite").save()
        force() // cold: codegen + listings
        shuffleWrite.set(0)
        val walls = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); force(); (System.nanoTime() - t0) / 1e9
        }
        Thread.sleep(500) // let the listener bus drain task-end events
        val shufMb = shuffleWrite.get / 3.0 / 1e6
        println(f"[asof-scale] $tag%-5s $strategy%-10s min=${walls.min}%7.3f s " +
          f"shuffleWrite=$shufMb%9.2f MB/run " +
          f"walls=${walls.map(w => f"$w%.3f").mkString(",")}")
      }
    }
    run("1x", feat1)
    if (new java.io.File(s"$feat10/lineitem.parquet").exists()) run("10x", feat10)
    else println("[asof-scale] 10x replica missing (run ScaleCheck first)")
    if (new java.io.File(s"$feat100/lineitem.parquet").exists()) run("100x", feat100)
    else println("[asof-scale] 100x replica missing (run ScaleCheck first)")

    // ---- TEXT-payload rows (VERDICT r12 #1): a feature view whose
    // payload is document text — the LLM-retrieval shape whose winners
    // frame the defaultSize gate under-priced ~15x (flat 20 B vs
    // measured footer actuals). Per scale: the measured width, what the
    // BLIND (defaultSize) gate would have decided vs what the
    // width-aware gate decides, and both routes forced — the
    // shuffled/broadcast bytes show what the refused route would have
    // shipped.
    def runText(tag: String, dir: String): Unit = {
      val p = s"$dir/documents.parquet"
      if (!new java.io.File(p).exists()) {
        println(s"[asof-scale] $tag text: documents replica missing"); return
      }
      val docsRaw = spark.read.parquet(p)
      val feat = docsRaw.select(col("doc_id"),
        (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) +
          expr("make_interval(0,0,0,CAST(doc_id % 28 AS INT),0,0,0)")).as("f_ts"),
        col("text"))
      val ent = docsRaw.select(col("doc_id"),
        lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")).as("event_timestamp"))
      val w = graft.sources.FooterBounds.avgRowBytes(feat, "text")
      val est = ent.queryExecution.optimizedPlan.stats.sizeInBytes
      val leftW = ent.schema.map(_.dataType.defaultSize).sum
      val blindB = est * (8 + 20) / leftW
      val measuredB = w.map(x => est * BigInt((8 + x).toLong) / leftW)
      spark.conf.set("graft.asof.broadcastRightMin", "1b")
      val decided =
        try graft.plans.AsOfJoin.chooseStrategy(ent, feat, Seq((feat, "text")))
        finally spark.conf.unset("graft.asof.broadcastRightMin")
      println(f"[asof-scale] $tag%-5s text: width=${w.map(x => f"$x%.0f").getOrElse("?")} B/row " +
        s"entityEst=$est blindWinnersEst=$blindB measuredWinnersEst=${measuredB.getOrElse("?")} " +
        s"gate=$decided (blind would ${if (blindB <= (10L << 20)) "APPROVE" else "refuse"} at 10MB)")
      for (strategy <- Seq(graft.plans.AsOfJoin.SortMerge, graft.plans.AsOfJoin.Broadcast)) {
        val df = graft.plans.AsOfJoin.join(ent, feat, Seq("doc_id"),
          "event_timestamp", "f_ts", java.time.Duration.ZERO,
          orderCols = Nil, featureCols = Seq("text"), strategy = strategy)
        def force(): Unit = df.write.format("noop").mode("overwrite").save()
        force()
        shuffleWrite.set(0)
        val walls = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); force(); (System.nanoTime() - t0) / 1e9
        }
        Thread.sleep(500)
        val shufMb = shuffleWrite.get / 3.0 / 1e6
        println(f"[asof-scale] $tag%-5s text-$strategy%-10s min=${walls.min}%7.3f s " +
          f"shuffleWrite=$shufMb%9.2f MB/run")
      }
    }
    runText("1x", feat1)
    runText("10x", feat10)
    runText("100x", feat100)

    // ---- MULTI-VIEW chain rows (VERDICT r16 #8): the q_pit_join_multi
    // shape — two views on DIFFERENT keys (user_id then custkey), so the
    // chain re-exchanges the accumulated frame once per view. Prices the
    // route decision the auto gate makes ONCE for the whole chain:
    // sortmerge (acc + each feature table exchanged) vs broadcast (the
    // accumulated frame broadcast per link, feature scans never
    // exchanged) at growing feature scale, wall + shuffled bytes, plus
    // what the gate decides from stats. Entity is held at 1x (a
    // training batch); the feature sides grow through the replicas.
    def runMulti(tag: String, featDir: String): Unit = {
      if (!new java.io.File(s"$featDir/events.parquet").exists()) {
        println(s"[asof-scale] $tag multi: events replica missing"); return
      }
      val ev1 = graft.sources.Tables.read(spark, entDir, "events")
      val entity = ev1.select(col("event_id"), col("user_id"),
        col("user_id").as("custkey"), col("ts").as("event_timestamp"))
      val evFeat = graft.sources.Tables.read(spark, featDir, "events")
        .select(col("user_id"), col("ts"), col("event_id").as("f_event_id"),
          col("event_type"), col("value"))
      val ordFeat = graft.sources.Tables.read(spark, featDir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val payload = Seq((evFeat, "event_type"), (evFeat, "value"),
        (ordFeat, "o_totalprice"), (ordFeat, "o_orderstatus"))
      val biggest = Seq(evFeat, ordFeat).maxBy(
        _.queryExecution.optimizedPlan.stats.sizeInBytes)
      val decided = graft.plans.AsOfJoin.chooseStrategy(entity, biggest, payload)
      println(s"[asof-scale] $tag multi: auto gate decides $decided")
      for (strategy <- Seq(graft.plans.AsOfJoin.SortMerge, graft.plans.AsOfJoin.Broadcast)) {
        val link1 = graft.plans.AsOfJoin.join(entity, evFeat, Seq("user_id"),
          "event_timestamp", "ts", java.time.Duration.ofDays(2),
          orderCols = Seq("f_event_id"), featureCols = Seq("event_type", "value"),
          strategy = strategy)
        val df = graft.plans.AsOfJoin.join(link1, ordFeat, Seq("custkey"),
          "event_timestamp", "o_orderdate", java.time.Duration.ZERO,
          orderCols = Seq("o_orderkey"),
          featureCols = Seq("o_totalprice", "o_orderstatus"),
          strategy = strategy)
        def force(): Unit = df.write.format("noop").mode("overwrite").save()
        force() // cold: codegen + listings
        shuffleWrite.set(0)
        val walls = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); force(); (System.nanoTime() - t0) / 1e9
        }
        Thread.sleep(500)
        val shufMb = shuffleWrite.get / 3.0 / 1e6
        println(f"[asof-scale] $tag%-5s multi-$strategy%-10s min=${walls.min}%7.3f s " +
          f"shuffleWrite=$shufMb%9.2f MB/run " +
          f"walls=${walls.map(w => f"$w%.3f").mkString(",")}")
      }
    }
    runMulti("1x", feat1)
    runMulti("10x", feat10)
    runMulti("100x", feat100)
    spark.stop()
  }
}
