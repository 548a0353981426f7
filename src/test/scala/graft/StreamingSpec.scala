package graft

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.online.InMemoryOnlineStore
import graft.operators.PullLatest
import graft.registry.Registry
import graft.store.FeatureStore
import graft.streaming.StreamMaterializer

/** Streaming semantics: out-of-order micro-batches and replays must
  * converge to the same online state as a batch materialize (idempotent
  * last-write-wins). */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("stream of out-of-order batches converges to batch-materialize state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val fs = new FeatureStore("stream_t", new Registry(), new InMemoryOnlineStore(), spark)
    fs.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    val view = FeatureView("uv", Seq("user"),
      Seq(Feature("v", GraftType.Dbl)), Duration.ZERO,
      DataFrameSource(Seq.empty[(Long, Timestamp, Double)].toDF("user_id", "ts", "v"), "ts"))
    fs.applyFeatureView(view)

    val input = MemoryStream[(Long, Timestamp, Double)]
    val stream = input.toDF().toDF("user_id", "ts", "v")

    val q = stream.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val latest = PullLatest.latestPerKey(batch, Seq("user_id"), "ts", None, Seq("v"))
          fs.onlineStore.upsert(fs.project, fs.registry.getFeatureView("uv"),
            Seq("user_id"), latest, "ts", None)
        }
        ()
      }.start()

    // batch 1: the NEWEST event arrives first
    input.addData((1L, ts("2024-01-05 00:00:00"), 5.0))
    q.processAllAvailable()
    // batch 2: older events arrive late — must NOT overwrite
    input.addData((1L, ts("2024-01-01 00:00:00"), 1.0), (2L, ts("2024-01-02 00:00:00"), 2.0))
    q.processAllAvailable()
    // batch 3: replay of batch 1 (simulates at-least-once redelivery)
    input.addData((1L, ts("2024-01-05 00:00:00"), 5.0))
    q.processAllAvailable()
    q.stop()

    val resp = fs.getOnlineFeatures(Seq("uv:v"),
      Seq(Map[String, Any]("user_id" -> 1L), Map[String, Any]("user_id" -> 2L)))
    assert(resp.toMap("uv:v") == Seq(5.0, 2.0),
      "late data must not regress state; replays must be idempotent")
    fs.teardown()
  }

  test("materializeStream pre-reduces for key-grain stores and converges to LWW (review r6)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("msm_").toString
    // one file = one micro-batch; heavy in-batch duplication exercises
    // the in-memory store's own latestPerKey reduce of each batch
    Seq((1L, ts("2024-01-03 00:00:00"), 3.0), (1L, ts("2024-01-05 00:00:00"), 5.0),
        (1L, ts("2024-01-04 00:00:00"), 4.0), (2L, ts("2024-01-01 00:00:00"), 1.0))
      .toDF("user_id", "ts", "v").coalesce(1).write.parquet(s"$dir/in")
    val fs = new FeatureStore("msm_t", new Registry(), new InMemoryOnlineStore(), spark)
    fs.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    fs.applyFeatureView(FeatureView("uv", Seq("user"),
      Seq(Feature("v", GraftType.Dbl)), Duration.ZERO,
      batchSource = FileSource(s"$dir/in", eventTimestampColumn = "ts"),
      streamSource = Some(FileStreamSource(s"$dir/in", "parquet", "ts"))))
    val q = StreamMaterializer.materializeStream(fs, "uv",
      trigger = Trigger.AvailableNow(), checkpointDir = Some(s"$dir/ckpt"))
    q.awaitTermination()
    val resp = fs.getOnlineFeatures(Seq("uv:v"),
      Seq(Map[String, Any]("user_id" -> 1L), Map[String, Any]("user_id" -> 2L)))
    assert(resp.toMap("uv:v") == Seq(5.0, 1.0))
    fs.teardown()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("streaming dedup rejects key sets that cannot evict state (review r6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val stream = input.toDF().toDF("user_id", "ts")
    val e = intercept[IllegalArgumentException] {
      StreamMaterializer.runStreamDedupToCompletion(
        stream, "ts", Seq("user_id"), "1 hour", "dedup_guard_t")
    }
    assert(e.getMessage.contains("event-time"))
  }

  test("logStream appends the stream to the view's date-partitioned offline log") {
    import spark.implicits._
    graft.sources.Tables.configure(spark)
    val dir = java.nio.file.Files.createTempDirectory("graftlog").toString
    // replayable stream input: two files -> two micro-batches
    Seq((1L, ts("2024-04-01 10:00:00"), 1.0), (2L, ts("2024-04-02 11:00:00"), 2.0))
      .toDF("user_id", "ts", "v").repartition(2)
      .write.parquet(s"$dir/in")

    val fs = new FeatureStore("log", new Registry(), new InMemoryOnlineStore(), spark)
    fs.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    fs.applyFeatureView(FeatureView("lv", Seq("user"),
      Seq(Feature("v", GraftType.Dbl)), Duration.ZERO,
      batchSource = FileSource(s"$dir/log", eventTimestampColumn = "ts",
        datePartitionColumn = Some("event_date")),
      streamSource = Some(FileStreamSource(s"$dir/in", "parquet", "ts",
        maxFilesPerTrigger = Some(1)))))

    val q = graft.streaming.StreamMaterializer.logStream(fs, "lv",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = s"$dir/ckpt")
    q.awaitTermination()

    val dates = new java.io.File(s"$dir/log").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
      .map(_.getName).sorted
    assert(dates.toSeq == Seq("event_date=2024-04-01", "event_date=2024-04-02"))
    // the offline log is now a normal batch source for retrieval
    val entity = Seq((1L, ts("2024-04-03 00:00:00")), (2L, ts("2024-04-03 00:00:00")))
      .toDF("user_id", "event_timestamp")
    val hist = fs.getHistoricalFeatures(entity, Seq("lv:v")).orderBy("user_id").collect()
    assert(hist.map(_.getAs[Double]("v")).toSeq == Seq(1.0, 2.0))
    // restart with the same checkpoint: no duplicates (exactly-once sink)
    val q2 = graft.streaming.StreamMaterializer.logStream(fs, "lv",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      checkpointDir = s"$dir/ckpt")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$dir/log").count() == 2)
  }

  test("Kafka value decode round-trips JSON and Avro payloads (no broker needed)") {
    import spark.implicits._
    val rows = Seq((1L, 0.5, "a"), (2L, 1.5, "b"))
    // JSON: encode rows as a Kafka-shaped frame (binary `value`)
    val jsonFrame = rows.toDF("user_id", "v", "tag")
      .select(to_json(struct(col("user_id"), col("v"), col("tag"))).cast("binary").as("value"))
    val jsonOut = SourceReader.decodeKafkaValue(jsonFrame,
        StreamFormat.Json("user_id BIGINT, v DOUBLE, tag STRING"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(jsonOut == rows.toSet)

    // Avro: to_avro -> from_avro with an explicit schema. The functions
    // resolve only when the spark-avro provider is on the classpath
    // (standard in Spark distributions; absent in this container) — so
    // verify the round-trip when present, or that the declarative path
    // fails with the provider-missing analysis error when not.
    val avroSchema =
      """{"type":"record","name":"r","fields":[
        |{"name":"user_id","type":"long"},{"name":"v","type":"double"},
        |{"name":"tag","type":"string"}]}""".stripMargin
    try {
      val avroFrame = rows.toDF("user_id", "v", "tag")
        .select(org.apache.spark.sql.avro.functions.to_avro(
          struct(col("user_id"), col("v"), col("tag")), avroSchema).as("value"))
      val avroOut = SourceReader.decodeKafkaValue(avroFrame, StreamFormat.Avro(avroSchema))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      assert(avroOut == rows.toSet)
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        assert(e.getMessage.contains("AVRO_NOT_LOADED") || e.getMessage.toLowerCase.contains("avro"),
          s"unexpected analysis error: ${e.getMessage}")
    }

    // field mapping applies after decode, as on the streaming path
    val mapped = SourceReader.applyFieldMapping(
      SourceReader.decodeKafkaValue(jsonFrame,
        StreamFormat.Json("user_id BIGINT, v DOUBLE, tag STRING")),
      Map("v" -> "value_renamed"))
    assert(mapped.columns.toSeq == Seq("user_id", "value_renamed", "tag"))
  }

  test("stream-stream interval join matches pairs that straddle micro-batches") {
    import spark.implicits._
    // Two files, one row each, SAME key, 1 hour apart, maxFilesPerTrigger=1:
    // the (late, early) pair can only appear if the right row from
    // micro-batch 1 is still in join state when batch 2's left row
    // arrives — cross-batch state is the thing under test.
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    Seq((1L, 7L, ts("2024-01-01 10:00:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "value").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    Seq((2L, 7L, ts("2024-01-01 11:00:00"), 2.0))
      .toDF("event_id", "user_id", "ts", "value").coalesce(1)
      .write.mode("append").parquet(dir)
    def stream() = SourceReader.readStream(spark,
      FileStreamSource(dir, "parquet", "ts", maxFilesPerTrigger = Some(1)))
    val right = stream().select(col("user_id").as("r_user_id"),
      col("ts").as("r_ts"), col("event_id").as("r_event_id"))
    val name = "ssj_" + java.util.UUID.randomUUID().toString.take(8)
    val pairs = graft.streaming.StreamMaterializer.runStreamJoinToCompletion(
        stream(), "ts", right, "r_ts", Seq("user_id" -> "r_user_id"),
        lookback = "1 day", watermarkDelay = "30 days", name)
      .select(col("event_id"), col("r_event_id")).as[(Long, Long)].collect().toSet
    // self-pairs plus the cross-batch (2 <- 1) enrichment; (1 <- 2) is
    // excluded by the as-of direction r_ts <= ts
    assert(pairs === Set((1L, 1L), (2L, 2L), (2L, 1L)))
  }

  test("stream-static join enriches rows in every micro-batch from the dimension table") {
    import spark.implicits._
    // Two files → two micro-batches; both reference the same dimension
    // keys, so per-batch enrichment (not any cross-batch state) is what
    // produces the segment column on every row.
    val dir = java.nio.file.Files.createTempDirectory("graft_ssd").toString
    Seq((1L, 7L, ts("2024-01-01 10:00:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "value").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    Seq((2L, 8L, ts("2024-01-01 11:00:00"), 2.0),
        (3L, 9L, ts("2024-01-01 12:00:00"), 3.0)) // no dimension row → dropped
      .toDF("event_id", "user_id", "ts", "value").coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = SourceReader.readStream(spark,
      FileStreamSource(dir, "parquet", "ts", maxFilesPerTrigger = Some(1)))
    val dim = Seq((7L, "SEG_A"), (8L, "SEG_B")).toDF("key", "segment")
    val name = "ssd_" + java.util.UUID.randomUUID().toString.take(8)
    val got = graft.streaming.StreamMaterializer.runStreamStaticJoinToCompletion(
        stream, dim, Seq("user_id" -> "key"), name)
      .select(col("event_id"), col("segment")).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "SEG_A"), (2L, "SEG_B")))
  }

  test("windowed aggregate with watermark drops late rows in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = graft.streaming.StreamMaterializer.windowedAggregate(
      input.toDF().toDF("ts", "k", "v"), "ts", Seq("k"),
      "1 hour", "30 minutes", Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    input.addData((ts("2024-01-01 10:10:00"), "a", 1.0))
    q.processAllAvailable()
    // advance watermark far past the first window
    input.addData((ts("2024-01-01 14:00:00"), "a", 1.0))
    q.processAllAvailable()
    // this row is older than the watermark -> dropped
    input.addData((ts("2024-01-01 10:20:00"), "a", 1.0))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 18:00:00"), "a", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wm_test")
      .select(unix_millis(col("window.start")), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val w10 = ts("2024-01-01 10:00:00").getTime
    assert(rows(w10) == 1L, s"late row must be dropped, got $rows")
  }

  test("materializeChangelogStream: only changed values reach the store; state converges to LWW") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mcs_").toString
    // snapshot-style feed: 3 time-ordered files re-delivering BOTH keys
    // each scan; key 1 changes once, key 2 never changes
    val batches = Seq(
      Seq((1L, ts("2024-01-01 10:00:00"), "a", 1.0), (2L, ts("2024-01-01 10:00:00"), "z", 9.0)),
      Seq((1L, ts("2024-01-01 11:00:00"), "a", 1.0), (2L, ts("2024-01-01 11:00:00"), "z", 9.0)),
      Seq((1L, ts("2024-01-01 12:00:00"), "b", 2.0), (2L, ts("2024-01-01 12:00:00"), "z", 9.0)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val piece = s"$dir/in/part-0000$i.parquet"
      val tmp = s"$dir/tmp$i"
      rows.toDF("user_id", "ts", "event_type", "value").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      new java.io.File(s"$dir/in").mkdirs()
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(piece))
      new java.io.File(piece).setLastModified(1700000000000L + i * 60000L)
    }
    // counting wrapper: how many ROWS actually reach upsert
    val rowsWritten = new java.util.concurrent.atomic.AtomicLong()
    val store = new InMemoryOnlineStore() {
      override def upsert(project: String, view: FeatureView, joinKeys: Seq[String],
          df: org.apache.spark.sql.DataFrame, tsCol: String,
          createdCol: Option[String]): Unit = {
        val n = df.count()
        rowsWritten.addAndGet(n)
        super.upsert(project, view, joinKeys, df, tsCol, createdCol)
      }
    }
    val fs = new FeatureStore("mcs_t", new Registry(), store, spark)
    fs.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    fs.applyFeatureView(FeatureView("uv", Seq("user"),
      Seq(Feature("event_type", GraftType.Str), Feature("value", GraftType.Dbl)),
      Duration.ZERO,
      batchSource = FileSource(s"$dir/in", eventTimestampColumn = "ts"),
      streamSource = Some(FileStreamSource(s"$dir/in", "parquet", "ts",
        maxFilesPerTrigger = Some(1)))))
    val q = graft.streaming.StreamMaterializer.materializeChangelogStream(
      fs, "uv", watermarkDelay = "3650 days", stateTtl = Duration.ofDays(3650),
      trigger = Trigger.AvailableNow(), checkpointDir = Some(s"$dir/ckpt"))
    q.awaitTermination()
    // 6 feed rows, but only 3 transitions (1:a, 2:z, 1:b) may be written
    assert(rowsWritten.get() == 3L,
      s"changelog materialize must suppress no-op writes, wrote ${rowsWritten.get()}")
    val resp = fs.getOnlineFeatures(Seq("uv:event_type", "uv:value"),
      Seq(Map[String, Any]("user_id" -> 1L), Map[String, Any]("user_id" -> 2L)))
    assert(resp.toMap("uv:event_type") == Seq("b", "z") &&
      resp.toMap("uv:value") == Seq(2.0, 9.0), "store must hold the LWW state")
    fs.teardown()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("changelog: cross-batch suppression, transitions, replay idempotence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val chg = graft.streaming.Changelog.derive(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      "ts", Seq("user_id"), Seq("event_id"), Seq("event_type"),
      watermarkDelay = "365 days", stateTtl = Duration.ofDays(365))
    val q = chg.writeStream.outputMode("append")
      .format("memory").queryName("chg_basic").start()
    // batch 1: first value emits; same-batch ties resolve by event_id
    input.addData((1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:00:00"), 2L, "a")) // tie: later event_id, same value -> suppressed
    q.processAllAvailable()
    // batch 2: unchanged value straddling the batch boundary must be
    // SUPPRESSED by carried state (a per-batch LAG would re-emit it),
    // and an at-least-once replay of event 2 must stay silent
    input.addData((1L, ts("2024-01-01 11:00:00"), 3L, "a"),
      (1L, ts("2024-01-01 10:00:00"), 2L, "a"))
    q.processAllAvailable()
    // batch 3: a genuine transition emits; a second key baselines
    input.addData((1L, ts("2024-01-01 12:00:00"), 4L, "b"),
      (2L, ts("2024-01-01 12:00:00"), 5L, "z"))
    q.processAllAvailable()
    // batch 4: flap back -> emits (dropDuplicates would eat this one)
    input.addData((1L, ts("2024-01-01 13:00:00"), 6L, "a"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chg_basic")
      .select("user_id", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set((1L, 1L, "a"), (1L, 4L, "b"), (2L, 5L, "z"), (1L, 6L, "a")),
      s"changelog must emit exactly the transitions, got $got")
  }

  test("changelog: BINARY feature values compare by content, not reference (review r11)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Row.get on a BinaryType column yields a fresh Array[Byte] per
    // deserialized row — reference equality read every re-delivered
    // unchanged blob as "changed" and the changelog re-emitted the
    // full feed every batch
    val input = MemoryStream[(Long, Timestamp, Long, Array[Byte])]
    val chg = graft.streaming.Changelog.derive(
      input.toDF().toDF("user_id", "ts", "event_id", "blob"),
      "ts", Seq("user_id"), Seq("event_id"), Seq("blob"),
      watermarkDelay = "365 days", stateTtl = Duration.ofDays(365))
    val q = chg.writeStream.outputMode("append")
      .format("memory").queryName("chg_bytes").start()
    input.addData((1L, ts("2024-01-01 10:00:00"), 1L, Array[Byte](1, 2, 3)))
    q.processAllAvailable()
    // identical CONTENT, distinct array instance -> must be suppressed
    input.addData((1L, ts("2024-01-01 11:00:00"), 2L, Array[Byte](1, 2, 3)))
    q.processAllAvailable()
    // changed content -> must emit
    input.addData((1L, ts("2024-01-01 12:00:00"), 3L, Array[Byte](9, 9)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chg_bytes").select("event_id").collect()
      .map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L),
      s"unchanged bytes must suppress, changed bytes must emit — got $got")
  }

  test("changelog: out-of-order row behind the frontier is dropped, not retro-inserted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val chg = graft.streaming.Changelog.derive(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      "ts", Seq("user_id"), Seq("event_id"), Seq("event_type"),
      watermarkDelay = "365 days", stateTtl = Duration.ofDays(365))
    val q = chg.writeStream.outputMode("append")
      .format("memory").queryName("chg_ooo").start()
    input.addData((1L, ts("2024-01-01 10:00:00"), 1L, "a"))
    q.processAllAvailable()
    // older than the frontier: a changelog cannot rewrite emitted
    // history, so this "b" must NOT appear
    input.addData((1L, ts("2024-01-01 09:00:00"), 0L, "b"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chg_ooo").select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L), s"stale row must be dropped, got $got")
  }

  test("changelog: event-time timeout evicts idle state and the key re-baselines") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val chg = graft.streaming.Changelog.derive(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      "ts", Seq("user_id"), Seq("event_id"), Seq("event_type"),
      watermarkDelay = "0 seconds", stateTtl = Duration.ofHours(1))
    val q = chg.writeStream.outputMode("append")
      .format("memory").queryName("chg_ttl").start()
    input.addData((1L, ts("2024-01-01 10:00:00"), 1L, "a"))
    q.processAllAvailable()
    // push the watermark past key 1's 11:00 timeout (watermark updates
    // lag a batch, so feed two advancing batches on another key)
    input.addData((2L, ts("2024-01-01 13:00:00"), 2L, "x"))
    q.processAllAvailable()
    input.addData((2L, ts("2024-01-01 14:00:00"), 3L, "y"))
    q.processAllAvailable()
    // key 1 returns with the SAME value: with state evicted it must
    // re-baseline (emit); with state alive it would be suppressed
    input.addData((1L, ts("2024-01-01 15:00:00"), 4L, "a"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chg_ttl")
      .filter(col("user_id") === 1L).select("event_id").collect()
      .map(_.getLong(0)).toSet
    assert(got === Set(1L, 4L),
      s"ttl-evicted key must re-baseline on next activity, got $got")
  }

  test("changelog: a null event-time row is dropped, not a query-killing NPE") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val chg = graft.streaming.Changelog.derive(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      "ts", Seq("user_id"), Seq("event_id"), Seq("event_type"),
      watermarkDelay = "365 days", stateTtl = Duration.ofDays(365))
    val q = chg.writeStream.outputMode("append")
      .format("memory").queryName("chg_nullts").start()
    // the watermark does NOT filter null event times before
    // flatMapGroupsWithState; without the explicit filter this batch
    // NPEs the group function and kills the query
    input.addData(
      (1L, null.asInstanceOf[Timestamp], 0L, "junk"),
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"))
    q.processAllAvailable()
    input.addData((1L, ts("2024-01-01 11:00:00"), 2L, "b"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chg_nullts").select("event_id").collect()
      .map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L), s"null-ts row must vanish silently, got $got")
  }

  test("changelog: MAP-of-binary values compare by content; non-comparable order col fails at derive (review r13)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // map<string,binary>: Map.equals compares VALUES with reference
    // equality for byte arrays — each micro-batch deserializes fresh
    // arrays, so an unchanged map read as "changed" every re-delivery
    val input = MemoryStream[(Long, Timestamp, Long, Map[String, Array[Byte]])]
    val chg = graft.streaming.Changelog.derive(
      input.toDF().toDF("user_id", "ts", "event_id", "m"),
      "ts", Seq("user_id"), Seq("event_id"), Seq("m"),
      watermarkDelay = "365 days", stateTtl = Duration.ofDays(365))
    val q = chg.writeStream.outputMode("append")
      .format("memory").queryName("chg_map").start()
    input.addData((1L, ts("2024-01-01 10:00:00"), 1L, Map("k" -> Array[Byte](1, 2))))
    q.processAllAvailable()
    // same map content, fresh arrays, later event: must be SUPPRESSED
    input.addData((1L, ts("2024-01-01 11:00:00"), 2L, Map("k" -> Array[Byte](1, 2))))
    q.processAllAvailable()
    // changed nested bytes: must emit
    input.addData((1L, ts("2024-01-01 12:00:00"), 3L, Map("k" -> Array[Byte](9, 9))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chg_map").select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L),
      s"unchanged map-of-binary must suppress, changed must emit; got $got")

    // an array-typed ORDER column has no Comparable surface — the old
    // per-row check killed the query on its first matching batch; now
    // derive() fails at plan time, before any state/checkpoint exists
    val bad = MemoryStream[(Long, Timestamp, Seq[Long], String)]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Changelog.derive(
        bad.toDF().toDF("user_id", "ts", "ord", "v"),
        "ts", Seq("user_id"), Seq("ord"), Seq("v"),
        watermarkDelay = "1 hour", stateTtl = Duration.ofDays(1))
    }
    assert(e.getMessage.contains("no total order"))
  }

  /** A CDC view over one parquet file: one AvailableNow batch of
    * `(user_id, ts, op, v)` rows into a fresh in-memory store. */
  private def cdcStream(project: String, rows: Seq[(Long, Timestamp, Option[String], Option[Double])])
      : (FeatureStore, FeatureView, org.apache.spark.sql.streaming.StreamingQuery, String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc_").toString
    rows.toDF("user_id", "ts", "op", "v").coalesce(1).write.parquet(s"$dir/in")
    val fs = new FeatureStore(project, new Registry(), new InMemoryOnlineStore(), spark)
    fs.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    val view = FeatureView("uv", Seq("user"), Seq(Feature("v", GraftType.Dbl)), Duration.ZERO,
      batchSource = FileSource(s"$dir/in", eventTimestampColumn = "ts"),
      streamSource = Some(FileStreamSource(s"$dir/in", "parquet", "ts")))
    fs.applyFeatureView(view)
    val q = StreamMaterializer.materializeCdcStream(fs, "uv", "op",
      trigger = Trigger.AvailableNow(), checkpointDir = Some(s"$dir/ckpt"))
    (fs, view, q, dir)
  }

  test("materializeCdcStream: a superseded NULL-op record fails the stream, like cdcApply") {
    // the NULL op is older than the key's upsert, so a check after the
    // collapse never sees it
    val (fs, view, q, dir) = cdcStream("cdc_nullop_t", Seq(
      (1L, ts("2024-01-01 00:00:01"), None, Some(1.0)),
      (1L, ts("2024-01-01 00:00:02"), Some("U"), Some(2.0))))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("NULL op")), e.getMessage)
    val r = fs.onlineStore.read(fs.project, view, Seq("user_id"), Seq(Seq("user_id" -> 1L)), Seq("v"))
    assert(r.head._2("v").status == "NOT_FOUND", "a failed batch must write nothing")
    fs.teardown()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("materializeCdcStream and cdcApply collapse one changelog to the same keys and values") {
    import spark.implicits._
    val t1 = ts("2024-01-01 00:00:01")
    val t2 = ts("2024-01-01 00:00:02")
    val feed = Seq[(Long, Timestamp, Option[String], Option[Double])](
      // exact ts tie: the upsert beats the delete, whatever the values
      (1L, t1, Some("U"), Some(1.0)), (1L, t1, Some("D"), Some(2.0)),
      (2L, t1, Some("U"), Some(5.0)), (2L, t2, Some("U"), Some(6.0)),
      (3L, t1, Some("U"), Some(3.0)), (3L, t2, Some("D"), None),
      // out of order: the later upsert wins over an earlier delete
      (4L, t2, Some("U"), Some(7.0)), (4L, t1, Some("D"), Some(8.0)),
      (5L, t1, Some("D"), None))
    val empty = Seq.empty[(Long, Double)].toDF("user_id", "v")
    val applied = graft.operators.Merge.cdcApply(empty,
        feed.toDF("user_id", "ts", "op", "v"), Seq("user_id"), "op", Seq("ts"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(applied === Map(1L -> 1.0, 2L -> 6.0, 4L -> 7.0))

    val (fs, view, q, dir) = cdcStream("cdc_agree_t", feed)
    q.awaitTermination()
    val keys = (1L to 5L).map(k => Seq("user_id" -> k))
    val streamed = keys.zip(fs.onlineStore.read(fs.project, view, Seq("user_id"), keys, Seq("v")))
      .collect { case (k, (_, vals)) if vals("v").status == "PRESENT" =>
        k.head._2.asInstanceOf[Long] -> vals("v").value }
      .toMap
    assert(streamed === applied, "the CDC stream must leave what cdcApply leaves")
    fs.teardown()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
