package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the properties that decide 100 TB
  * viability — these are the things a refactor could silently regress
  * while every value-check stays green:
  *
  *  - ts-bounds predicates reach the parquet scan (PushedFilters), so
  *    row groups outside the retrieval window are skipped;
  *  - the PIT join runs the sort-merge as-of exec, never a candidate
  *    join or a row_number window (a hot entity's 10^6 feature rows
  *    stream through one merge; no candidate row materializes);
  *  - small dimension joins broadcast;
  *  - LSH dedup never degenerates into a cartesian product.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.configure(s)
    s
  }

  private val sfDir = "/root/testdata/sf0.001"

  test("PIT join: ts bounds pushed into the parquet scan, no window operator") {
    // single view + caller tie-break → the custom sort-merge as-of plan:
    // no candidate join, no max_by, each side shuffled exactly once
    val plan = graft.queries.CoreQueries.pitJoinSingle(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected l_shipdate bound pushed to scan:\n$plan")
    assert(!plan.contains("Window"), s"PIT join must not use a window:\n$plan")
    assert(plan.contains("AsOfJoin"),
      s"single-view tie-broken PIT should ride the sort-merge as-of plan:\n$plan")
  }

  test("engine-owned AQE policy: PIT chain is static through the public API in an AQE-on session") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    // the sort-merge as-of exec has no logical link, so Spark's
    // InsertAdaptiveSparkPlan leaves any query containing it
    // non-adaptive, on the caller's own session
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "precondition: parent session runs AQE-on")
    def adaptive(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]
    assert(!adaptive(graft.queries.CoreQueries.pitJoinSingle(spark, sfDir)),
      "PIT chain through the public API must be non-adaptive by default")

    val t = (s: String) => java.sql.Timestamp.valueOf(s"2024-01-0$s 00:00:00")
    val entity = Seq((1L, t("3")), (2L, t("3")), (3L, t("3"))).toDF("k", "ets")
    val feature = Seq((1L, t("1"), 10.0), (1L, t("2"), 20.0), (2L, t("4"), 40.0))
      .toDF("k", "fts", "v")
    val df = graft.plans.AsOfJoin.join(entity, feature, Seq("k"), "ets", "fts",
      java.time.Duration.ZERO, Nil, Seq("v"))
    assert(df.sparkSession eq spark, "the result stays on the caller's session")
    assert(!adaptive(df))
    val derived = df.join(Seq((1L, "a"), (2L, "b")).toDF("k", "tag"), "k")
      .groupBy("tag").agg(sum("v").as("v"))
    assert(!adaptive(derived), "a plan that contains the exec is static")
    df.createOrReplaceTempView("plan_spec_asof")
    try assert(spark.sql("SELECT k, v FROM plan_spec_asof").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toSet ==
      Set(1L -> Some(20.0), 2L -> None, 3L -> None))
    finally spark.catalog.dropTempView("plan_spec_asof")
    assert(adaptive(feature.groupBy("k").agg(max("v"))),
      "a plain aggregate in the same session stays adaptive")
  }

  test("PIT join declarative fallback (date-typed feature ts): partial max_by, no window") {
    import org.apache.spark.sql.functions._
    import java.time.Duration
    import graft.model._
    import graft.operators.PointInTimeJoin
    // same workload as pitJoinSingle but with a DATE-typed feature ts:
    // the chain link casts it to TIMESTAMP itself, so there is no
    // declarative fallback left — no candidate max_by, no row ids
    val entity = spark.read.parquet(s"$sfDir/orders.parquet").select(
      col("o_orderkey"), (col("o_orderdate") + expr("INTERVAL 365 DAY")).as("event_timestamp"))
    val src = FileSource(s"$sfDir/lineitem.parquet", eventTimestampColumn = "l_shipdate")
    val view = FeatureView("li", Seq("order"),
      Seq(Feature("l_quantity", GraftType.Dbl)), Duration.ofDays(400), src)
    val feat = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"),
        col("l_shipdate").cast("date").as("l_shipdate"), col("l_quantity"))
    val plan = PointInTimeJoin.join(entity,
        Seq(PointInTimeJoin.ViewJoin(view, Seq("o_orderkey"), Seq("l_quantity"), feat)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin") && !plan.contains("max_by") &&
      !plan.contains("__graft_row_id"),
      s"a DATE feature ts must ride the sort-merge as-of chain:\n$plan")
    assert(!plan.contains("Window"))

    // an entity column named like the source feature keeps an
    // all-TIMESTAMP call on the chain
    val featTs = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"), col("l_quantity"))
    val tsView = PointInTimeJoin.ViewJoin(view, Seq("o_orderkey"), Seq("l_quantity"), featTs)
    val named = PointInTimeJoin.join(entity.withColumn("l_quantity", lit(-1.0)),
        Seq(tsView), fullFeatureNames = true)
      .queryExecution.executedPlan.toString
    assert(named.contains("AsOfJoin") && !named.contains("__graft_row_id") &&
      !named.contains("max_by"), s"a named-like-the-feature call must chain:\n$named")

    // a mixed call: the TIMESTAMP view and the DATE view both link
    val dateView = PointInTimeJoin.ViewJoin(
      view.copy(name = "li_d"), Seq("o_orderkey"), Seq("l_quantity"), feat)
    val mixed = PointInTimeJoin.join(entity, Seq(tsView, dateView), fullFeatureNames = true)
      .queryExecution.executedPlan.toString
    def count(p: String, s: String) = p.split(java.util.regex.Pattern.quote(s), -1).length - 1
    assert(count(mixed, "AsOfJoin") == 2 && count(mixed, "max_by") == 0,
      s"a mixed call must plan two chain links:\n$mixed")
  }

  test("pullLatest: partial aggregation before the shuffle") {
    val plan = graft.queries.CoreQueries.pullLatestQ(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by") && !plan.contains("Window"))
    assert(plan.contains("PushedFilters: [IsNotNull(ts)") || plan.contains("GreaterThanOrEqual(ts"),
      s"window-range filter should push into the scan:\n$plan")
  }

  test("FooterBounds: metadata-only ts bounds match the aggregation, shift and filters included") {
    import graft.sources.FooterBounds
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")

    def aggBounds(df: org.apache.spark.sql.DataFrame, c: String) = {
      val r = df.agg(min(col(c)), max(col(c))).collect()(0)
      (r.getTimestamp(0), r.getTimestamp(1))
    }

    // direct column
    val direct = orders.select(col("o_orderkey"), col("o_orderdate"))
    assert(FooterBounds.tsBounds(direct, "o_orderdate").contains(
      aggBounds(direct, "o_orderdate")))

    // aliased + constant interval shift (the PIT bench entity shape)
    val shifted = orders.select(col("o_orderkey"),
      (col("o_orderdate") + expr("INTERVAL 365 DAY")).as("event_timestamp"))
    assert(FooterBounds.tsBounds(shifted, "event_timestamp").contains(
      aggBounds(shifted, "event_timestamp")))

    // filtered plan: bounds are the UNfiltered superset (footer stats
    // can't see the filter) — still a correct pruning window
    val filtered = shifted.filter(col("o_orderkey") < 10)
    val sup = FooterBounds.tsBounds(filtered, "event_timestamp")
    val (fMn, fMx) = aggBounds(filtered, "event_timestamp")
    assert(sup.exists { case (mn, mx) => !mn.after(fMn) && !mx.before(fMx) })

    // TIMESTAMP(NANOS) physical column read through the ingest layer's
    // nanosAsLong + timestamp_micros(ts div 1000) normalization: footer
    // nanos stats floor-divide to the same micros the conversion yields
    val events = graft.sources.Tables.read(spark, sfDir, "events")
      .select(col("event_id"), col("ts").as("event_timestamp"))
    assert(FooterBounds.tsBounds(events, "event_timestamp").contains(
      aggBounds(events, "event_timestamp")))

    // computed (non-traceable) expression and non-file relations fall back
    assert(FooterBounds.tsBounds(
      orders.select(date_trunc("month", col("o_orderdate")).as("m")), "m").isEmpty)
    import spark.implicits._
    val mem = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts")
    assert(FooterBounds.tsBounds(mem, "ts").isEmpty)
  }

  test("FooterBounds: leaf-path chunk lookup survives a struct column before ts; pre-1970 nanos truncate like div") {
    import graft.sources.FooterBounds
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_footer_spec").toString

    // (1) group-typed field BEFORE the ts column: getColumns() is
    // leaf-ordered, so a top-level-field-index lookup would read
    // profile.s's statistics (an INT64 leaf — the type gate on the
    // NAMED field cannot catch it) as the ts bounds
    val structFirst = s"$tmp/structfirst"
    Seq(
      (5L, 7L, java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), 1L),
      (9L, 2L, java.sql.Timestamp.valueOf("2024-06-15 08:30:00"), 2L))
      .toDF("uid", "s", "ts0", "id")
      .select(struct(col("uid"), col("s")).as("profile"), col("ts0").as("ts"), col("id"))
      .coalesce(1).write.mode("overwrite").parquet(structFirst)
    val df = spark.read.parquet(structFirst).select(col("id"), col("ts"))
    assert(FooterBounds.tsBounds(df, "ts").contains(
      (java.sql.Timestamp.valueOf("2024-03-01 12:00:00"),
       java.sql.Timestamp.valueOf("2024-06-15 08:30:00"))))

    // (2) TIMESTAMP(NANOS) with pre-1970 values: Spark's `div`
    // truncates toward zero (-1500 div 1000 = -1), floorDiv would
    // report -2 and the max bound would sit 1µs BELOW the true
    // converted max — hand-written via parquet-mr (Spark can't write
    // NANOS)
    val nanosDir = new java.io.File(s"$tmp/nanos"); nanosDir.mkdirs()
    val nanosFile = s"$nanosDir/part-0.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(nanosFile)).withConf(conf).build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    Seq((1L, -2500L), (2L, -1500L), (3L, 1999L)).foreach { case (id, ns) =>
      w.write(gf.newGroup().append("id", id).append("ts", ns))
    }
    w.close()
    val raw = spark.read.parquet(s"$tmp/nanos") // nanosAsLong via Tables.configure
    val converted = raw.select(col("id"),
      timestamp_micros(expr("ts div 1000")).as("event_timestamp"))
    val r = converted.agg(min(col("event_timestamp")), max(col("event_timestamp"))).collect()(0)
    val got = FooterBounds.tsBounds(converted, "event_timestamp")
    assert(got.contains((r.getTimestamp(0), r.getTimestamp(1))),
      s"footer bounds $got must equal the div-converted agg bounds (${r.getTimestamp(0)}, ${r.getTimestamp(1)})")
  }

  test("small dimension join broadcasts") {
    val plan = graft.queries.CoreQueries.broadcastJoinAgg(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"customer join should broadcast:\n$plan")
  }

  test("IVF top-k is one bounded-heap aggregation: k-capped partials, no window, no unbounded collect") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 64)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val q = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 4)
    val plan = graft.functions.Similarity.ivfTopK(
        q, "vec_id", "embedding", corpus, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 2, kmeansIters = 0)
      .queryExecution.executedPlan.toString
    // bounded_min_k partials are k-capped map-side, so ONE exchange
    // carries <= k candidates per (query, map task); a row_number
    // window would buffer every candidate of a hot query on one
    // reducer. (The anchors side still collect_lists — bounded at
    // nCells rows by construction, not per-query.)
    assert(plan.toLowerCase.contains("partial_bounded_min_k"),
      s"IVF top-k must partial-aggregate through the bounded heap map-side:\n$plan")
    assert(!plan.toLowerCase.contains("window"),
      s"IVF top-k must not plan a window:\n$plan")
  }

  test("store upsert merge: ONE exchange, partial max_by before it, no window") {
    import spark.implicits._
    val df = (0 until 100)
      .map(i => (i % 7L, new java.sql.Timestamp(1700000000000L + i * 1000L), i.toDouble))
      .toDF("user_id", "ts", "value")
    val plan = graft.online.ParquetOnlineStore
      .mergedFrame(df, Seq("user_id"), "ts", None, Seq("value"), buckets = 4)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges === 1, s"upsert merge must plan exactly one exchange:\n$plan")
    assert(plan.toLowerCase.contains("partial_max_by"),
      s"latest-per-key must partial-aggregate map-side before the exchange:\n$plan")
    assert(!plan.contains("Window"), s"no window in the upsert merge:\n$plan")
  }

  test("PQ ADC top-k: one joinless scan of the code table scores every query") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 64)
      .map(i => (i.toLong, Array.fill(16)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val anchors = Array.fill(4)(Array.fill(16)(rnd.nextFloat()))
    val q = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
    val plan = graft.functions.Similarity.pqAdcTopK(
        q, "vec_id", "embedding", corpus, "vec_id", "embedding",
        anchors, m = 4, subDim = 4, k = 5)
      .queryExecution.executedPlan.toString
    // the whole point of ADC: codes + LUT lookups in a narrow
    // projection — scoring joins nothing and shuffles only the k-capped
    // bounded-heap partials
    assert(!plan.toLowerCase.contains("join"),
      s"ADC scoring must not plan any join:\n$plan")
    assert(plan.toLowerCase.contains("partial_bounded_min_k"),
      s"ADC top-k must partial-aggregate through the bounded heap map-side:\n$plan")
    assert(!plan.toLowerCase.contains("collect_list") && !plan.toLowerCase.contains("window"),
      s"ADC top-k must not plan an unbounded collect or window:\n$plan")
  }

  test("History.scd2 / sessionize: one shuffle on the key — windows share a single key partitioning") {
    import spark.implicits._
    val df = (0 until 100)
      .map(i => (i % 5L, new java.sql.Timestamp(1700000000000L + i * 60000L), i.toLong, s"t${i % 3}"))
      .toDF("k", "ts", "eid", "attr")
    val scd2Plan = graft.operators.History.scd2(df, Seq("k"), "ts", Seq("attr"),
      tieBreaks = Seq("eid")).queryExecution.executedPlan.toString
    val sessPlan = graft.operators.History.sessionize(df, Seq("k"), "ts", 600,
      tieBreaks = Seq("eid")).queryExecution.executedPlan.toString
    for ((name, plan) <- Seq("scd2" -> scd2Plan, "sessionize" -> sessPlan)) {
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"$name should shuffle on the key once, found $exchanges exchanges:\n$plan")
      assert(!plan.toLowerCase.contains("cartesian"), s"$name plans a cartesian:\n$plan")
    }
  }

  test("bucketed feature tables co-locate the equi join and the same-key agg: zero exchanges") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val feats = (0 until 1000).map(i => (i.toLong % 97, i.toLong, i * 1.5))
      .toDF("user_id", "event_id", "value")
    val ents = (0 until 500).map(i => (i.toLong % 97, s"u$i")).toDF("user_id", "tag")
    graft.sources.Bucketing.writeBucketed(feats, s"$tmp/f", "graft_bkt_feats", Seq("user_id"), 8)
    graft.sources.Bucketing.writeBucketed(ents, s"$tmp/e", "graft_bkt_ents", Seq("user_id"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join must prove co-location, not dodge it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = graft.sources.Bucketing.readBucketed(spark, "graft_bkt_feats")
        .join(graft.sources.Bucketing.readBucketed(spark, "graft_bkt_ents"), "user_id")
        .groupBy("user_id").agg(sum($"value").as("sv"), first($"tag").as("tag"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join + same-key agg must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scan must engage bucketed reading:\n$plan")
      // Spark >= 3 does not propagate the on-disk sortBy order at plan
      // time (that listing is gated behind
      // spark.sql.legacy.bucketedTableScan.outputOrdering), so SMJ keeps
      // per-partition Sorts. Those sort co-located, shuffle-free
      // partitions — cheap and spill-local; the exchange elimination
      // above is the property that matters at 100 TB.
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_feats")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_ents")
    }
  }

  test("writeBucketed sweeps a crashed predecessor's stage dir and orphaned catalog entry") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt_crash").toString
    val path = s"$tmp/t"
    // crash residue 1: a staged DATA dir from a writer that died before
    // the swap, old enough to clear the live-writer age guard
    val staleDir = new java.io.File(s"$path.stage-deadbeef")
    assert(staleDir.mkdirs())
    val staleFile = new java.io.File(staleDir, "part-0.parquet")
    java.nio.file.Files.write(staleFile.toPath, Array[Byte](1, 2, 3))
    val old = System.currentTimeMillis() - graft.sources.StagedWrite.stageStaleMs - 60000
    assert(staleFile.setLastModified(old) && staleDir.setLastModified(old))
    // crash residue 2: the same writer's catalog entry, pointing at a
    // staged dir that no longer exists (swept / never written)
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    val cat = spark.sessionState.catalog
    val orphan = TableIdentifier("graft_bkt_crash_t_stage_cafe0000")
    cat.createTable(CatalogTable(
      identifier = orphan,
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new java.net.URI(s"file:$tmp/vanished"))),
      schema = new org.apache.spark.sql.types.StructType()
        .add("user_id", "long").add("value", "double"),
      provider = Some("parquet"),
      createTime = old), ignoreIfExists = false)
    // a FRESH entry with a missing dir must survive (it could be a live
    // writer inside its own publish window)
    val young = TableIdentifier("graft_bkt_crash_t_stage_cafe1111")
    cat.createTable(CatalogTable(
      identifier = young,
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new java.net.URI(s"file:$tmp/also_vanished"))),
      schema = new org.apache.spark.sql.types.StructType().add("user_id", "long"),
      provider = Some("parquet")), ignoreIfExists = false)
    try {
      val df = (0 until 100).map(i => (i.toLong % 7, i * 1.0)).toDF("user_id", "value")
      graft.sources.Bucketing.writeBucketed(df, path, "graft_bkt_crash_t", Seq("user_id"), 4)
      assert(!staleDir.exists(), "stale stage dir must be swept on entry")
      assert(!cat.tableExists(orphan), "orphaned old stage catalog entry must be dropped")
      assert(cat.tableExists(young), "fresh stage entry (possible live writer) must survive")
      assert(graft.sources.Bucketing.readBucketed(spark, "graft_bkt_crash_t").count() == 100)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_crash_t")
      spark.sql(s"DROP TABLE IF EXISTS ${young.table}")
      spark.sql(s"DROP TABLE IF EXISTS ${orphan.table}")
    }
  }

  test("packShards: no unpartitioned window over the data — only over per-slice totals") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, 10L)).toDF("id", "tok")
    val plan = graft.functions.Packing.packShards(df, "id", "tok", 100L, Some(4))
      .queryExecution.executedPlan match {
        // AQE wraps the physical plan; inspect the inner plan tree
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected window operators in the packing plan")
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      // a global window is allowed ONLY above the per-slice totals
      // aggregate (#partitions rows); over the raw data it would pull
      // the corpus into one task
      assert(w.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
        s"unpartitioned window must sit above the totals aggregate:\n$plan")
    }
    // the data-side running sum must be partitioned (by the slice id)
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"per-slice running sum must be a partitioned window:\n$plan")
  }

  test("rollingAgg: one key-partitioned window, no self-join") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.RollingFeatures.rollingAgg(
      graft.sources.Tables.read(spark, sfDir, "events"),
      Seq("user_id"), "ts", 7L * 24 * 3600,
      Seq("cnt" -> count(lit(1)), "sv" -> sum(col("value"))))
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"rolling aggregation must be a key-partitioned window:\n$plan")
    assert(windows.size == 1,
      s"all aggregates must fuse into ONE window (one sort pass):\n$plan")
    val planStr = plan.toString
    assert(!planStr.contains("Join"),
      s"rolling aggregation must not plan a self-join:\n$planStr")
    // both aggs share one window -> exactly one shuffle of the data
    assert(planStr.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one hash exchange:\n$planStr")
  }

  test("oovRate: the vocabulary side broadcasts, the corpus is never reshuffled by the join") {
    val plan = graft.queries.PipelineQueries.oovRate(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"vocab join must broadcast the k-row vocab side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not be shuffled for the vocab join:\n$plan")
  }

  test("edit-distance pairs: length-bucket equi join, no cartesian product") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"title number $i of the set")).toDF("id", "key")
    val plan = graft.functions.Dedup.editDistancePairs(df, "id", "key", maxEdits = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("cartesian") &&
      !plan.toLowerCase.contains("broadcastnestedloop"),
      s"blocking must plan an equi join on the length bucket:\n$plan")
  }

  test("minhash LSH dedup plans no cartesian product") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, s"doc $i words tokens sample text payload"))
      .toDF("doc_id", "text")
    val plan = graft.functions.Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 32, 8, 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"LSH dedup must stay bucketed, never all-pairs:\n$plan")
  }

  test("containmentJoin plans equi joins only — no cartesian, no nested loop") {
    import spark.implicits._
    val docs = (0 until 40)
      .map(i => (i.toLong, s"alpha beta gamma doc $i body words tokens sample"))
      .toDF("doc_id", "text")
    val needles = (0 until 5).map(i => (100L + i, s"alpha beta gamma doc $i"))
      .toDF("doc_id", "text")
    val plan = graft.functions.Dedup.containmentJoin(
        needles, "doc_id", "text", docs, "doc_id", "text", 3, 0.8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix-filter candidates must ride gram equi joins, never all-pairs:\n$plan")
    // corpus-needle route: NOTHING broadcasts — size estimates below an
    // explode are width-ratio guesses, and the static planner once
    // broadcast a 10x replica's corpus-sized posting list off one
    val mergePlan = graft.functions.Dedup.containmentJoin(
        needles, "doc_id", "text", docs, "doc_id", "text", 3, 0.8,
        broadcastNeedles = Some(false))
      .queryExecution.executedPlan.toString
    assert(!mergePlan.contains("BroadcastExchange"),
      s"merge route must never elect a broadcast build side:\n$mergePlan")
    // small-needle route: the corpus posting stream is probe side of
    // broadcast joins — filtered in place, zero corpus-side sorts
    // before candidates exist (the verify fetch is the one merge join)
    val bcPlan = graft.functions.Dedup.containmentJoin(
        needles, "doc_id", "text", docs, "doc_id", "text", 3, 0.8,
        broadcastNeedles = Some(true))
      .queryExecution.executedPlan.toString
    assert(bcPlan.contains("BroadcastHashJoin"),
      s"small-needle route must broadcast the needle-derived frames:\n$bcPlan")
    assert("SortMergeJoin".r.findAllIn(bcPlan).size == 1,
      s"broadcast route: the hay verify fetch must be the ONE merge join:\n$bcPlan")
  }

  test("rangeSearch literal-probe plan has no exchange (single codegen stage)") {
    import spark.implicits._
    val corpus = (0 until 200)
      .map(i => (i.toLong, Array.fill(8)((i * 31 % 17).toFloat / 17f).toSeq))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val plan = graft.functions.Similarity.rangeSearch(
        queries, "vec_id", "embedding", corpus, "vec_id", "embedding", minCos = 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"literal-batch radius scan must be scan->score->filter, no shuffle/broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"literal path must not plan a join at all:\n$plan")
  }

  test("interval join plans a hash equi join on the bin, never a nested loop") {
    import spark.implicits._
    import java.sql.Timestamp
    val probe = (0 until 100)
      .map(i => (i.toLong, new Timestamp(1704067200000L + i * 600_000L)))
      .toDF("id", "ts")
    val ivs = (0 until 20)
      .map(i => (s"w$i", new Timestamp(1704067200000L + i * 3600_000L),
        new Timestamp(1704067200000L + (i + 2) * 3600_000L)))
      .toDF("w", "ws", "we")
    val plan = graft.operators.IntervalJoin.binned(probe, "ts", ivs, "ws", "we", 7200)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range predicate must ride the binned equi join, not a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi join on the bin id:\n$plan")
  }

  test("topKPerKey: partial bounded aggregation, no window, no whole-group collect") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"k${i % 3}", i.toLong)).toDF("key", "v")
    val plan = graft.functions.Quota.topKPerKey(df, "key", "v", 5)
      .queryExecution.executedPlan.toString
    // partial_bounded_min_k on the map side = the shuffle carries ≤ k
    // values per (key, map task); a window or collect_list formulation
    // would ship/buffer the hot key's whole row set
    assert(plan.contains("partial_bounded_min_k"),
      s"quota cut must partial-aggregate with the bounded heap:\n$plan")
    assert(!plan.contains("Window"), s"quota cut must not use a window:\n$plan")
    assert(!plan.contains("collect_list"),
      s"quota cut must not buffer whole groups:\n$plan")
  }

  test("lineDedupGlobal: winner aggregation is partial (map-side combinable)") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"line a$i\nshared line\nline b$i"))
      .toDF("id", "text")
    val plan = graft.functions.Dedup.lineDedupGlobal(df, "id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min_by"),
      s"per-line winner must be a partial-aggregating min_by:\n$plan")
    assert(!plan.contains("Window"),
      s"global line dedup must not use a window over the corpus:\n$plan")
  }

  test("gram attribution (novelty) aggregates partially and never self-joins the gram table") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"alpha beta gamma doc $i body"))
      .toDF("id", "text")
    val plan = graft.queries.CorpusQueries.noveltyOf(df, "id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"gram min/count must partial-aggregate before the shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"novelty must stay an equi-join of doc-keyed aggregates:\n$plan")
  }

  test("Sessions.staticPlan restores the session's own AQE value, static-plan member or not") {
    val aqe = "spark.sql.adaptive.enabled"
    val own = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      val member = "q_window_topk"
      assert(Bench.StaticPlanQueries(member))
      assert(Sessions.staticPlan(spark, member)(spark.conf.get(aqe)) == "false")
      assert(spark.conf.get(aqe) == "false", s"AQE after the toggle for $member")
      val other = "q_pit_join_single"
      assert(!Bench.StaticPlanQueries(other))
      Sessions.staticPlan(spark, other)(())
      assert(spark.conf.get(aqe) == "false", s"AQE after the toggle for $other")
    } finally spark.conf.set(aqe, own)
  }

  test("BPE pair counting partial-aggregates; merge application plans no shuffle") {
    import spark.implicits._
    val df = Seq("aaab aaab ab").toDF("text")
    // one round's pair-count plan: build it the way trainMerges does
    val wf = df.select(explode(graft.functions.TextFunctions.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("s", filter(split(col("word"), ""), c => c =!= ""))
    val pairs = wf.select(col("freq"), explode(
        transform(sequence(lit(1), size(col("s")) - 1),
          i => struct(element_at(col("s"), i).as("l"),
            element_at(col("s"), i + lit(1)).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
    val pairPlan = pairs.queryExecution.executedPlan.toString
    assert(pairPlan.contains("partial_sum"),
      s"pair counts must map-side combine before the shuffle:\n$pairPlan")
    // applying a merge is a narrow per-row fold — no exchange on top of
    // the input's own shuffle
    val applied = wf.withColumn("s", graft.functions.Bpe.mergeApply(col("s"), "a", "a"))
    val appliedPlan = applied.queryExecution.executedPlan.toString
    val baseExchanges = wf.queryExecution.executedPlan.toString
      .sliding("Exchange".length).count(_ == "Exchange")
    val appliedExchanges = appliedPlan.sliding("Exchange".length).count(_ == "Exchange")
    assert(appliedExchanges == baseExchanges,
      s"mergeApply must add no exchange:\n$appliedPlan")
  }

  test("sort-removed queries: no range exchange directly above an expensive per-row map") {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, ScalaUDF}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{GenerateExec, ObjectConsumerExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    // These six ended in an ORDER BY whose range-partition sampling pass
    // ran the map a second time; they now return unordered rows. A sort
    // creeping back (here or in a helper they share) must fail here.
    val sortRemoved = Seq("q_random_projection", "q_image_decode", "q_audio_decode",
      "q_image_resize", "q_image_phash", "q_span_corruption")
    val aqe = new AdaptiveSparkPlanHelper {}
    // a per-row map: typed object operators, generators, and projections
    // through a Scala UDF, a lambda over an array or a graft expression
    def perRowMap(p: SparkPlan): Boolean = p match {
      case _: ObjectConsumerExec | _: GenerateExec => true
      case pr: ProjectExec => pr.projectList.exists(_.exists(e =>
        e.isInstanceOf[ScalaUDF] || e.isInstanceOf[HigherOrderFunction] ||
          e.getClass.getName.startsWith("graft.")))
      case _ => false
    }
    // the exchange's own map side: its child down to the next exchange
    def mapSide(p: SparkPlan): Seq[SparkPlan] =
      p +: p.children.filterNot(_.isInstanceOf[Exchange]).flatMap(mapSide)
    def tripped(df: org.apache.spark.sql.DataFrame): Seq[String] =
      aqe.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] &&
            mapSide(e.child).exists(perRowMap) => e.simpleString(200)
      }
    sortRemoved.foreach { q =>
      val df = Sessions.staticPlan(spark, q)(SparkEntry.queries(q)(spark, sfDir))
      assert(tripped(df).isEmpty, s"$q:\n${df.queryExecution.executedPlan}")
      // the wire is live: the same query ordered again trips it
      assert(tripped(df.orderBy(df.columns.map(col): _*)).nonEmpty,
        s"$q ordered: no range exchange above a per-row map found")
    }
  }
}
