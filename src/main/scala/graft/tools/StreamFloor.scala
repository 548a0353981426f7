package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Dev probe: wall time of an AvailableNow foreachBatch(noop) over the
  * same 8-file input q_stream_materialize replays — isolates the
  * structured-streaming driver floor (query start, offset/commit WAL,
  * micro-batch planning) from the store-upsert work. Dev-tool only. */
object StreamFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local()

    val input = s"/tmp/graft_stream_in8_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
    if (!new java.io.File(s"$input/_SUCCESS").exists()) {
      graft.sources.Tables.read(spark, sfDir, "events")
        .select("user_id", "ts", "event_type", "value")
        .repartition(8)
        .write.mode("overwrite").parquet(input)
    }

    // optional 2nd arg: checkpoint base dir (probe /tmp-on-disk vs
    // /dev/shm tmpfs — the WAL floor is partly fs metadata latency)
    val ckptBase = if (args.length > 1) args(1) else "/tmp"

    def run(tag: String, maxFiles: Option[Int], body: DataFrame => Unit): Unit = {
      val ckpt = s"$ckptBase/graft_floor_${java.util.UUID.randomUUID().toString.take(8)}"
      val t0 = System.nanoTime()
      val base = spark.readStream.format("parquet")
        .schema(spark.read.parquet(input).schema)
      val src = maxFiles.fold(base)(n => base.option("maxFilesPerTrigger", n))
      val q = src.load(input)
        .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => body(b) }
        .start()
      q.awaitTermination()
      println(f"[floor] $tag wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    // the real micro-batch work of q_stream_materialize: LWW collapse +
    // driver collect, run (a) inside the stream, (b) as the identical
    // batch plan — the delta is pure streaming-scan overhead
    def lww(b: DataFrame): Unit = {
      graft.operators.PullLatest.latestPerKey(
        b, Seq("user_id"), "ts", None, Seq("event_type", "value")).collect()
      ()
    }
    (0 until 3).foreach { i =>
      run(s"noop-8batch run=$i", Some(1), _ => ())
      run(s"noop-1batch run=$i", None, _ => ())
      run(s"count-8batch run=$i", Some(1), b => { b.count(); () })
      run(s"lww-1batch run=$i", None, lww)
      locally {
        val own = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try run(s"lww-1batch-sp8 run=$i", None, lww)
        finally spark.conf.set("spark.sql.shuffle.partitions", own)
      }
      locally {
        val t0 = System.nanoTime()
        lww(spark.read.parquet(input))
        println(f"[floor] lww-batch-twin run=$i wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }

    // ---- async / amortized progress tracking probe (VERDICT r12 #5):
    // can the per-batch offset/commit WAL be taken off the hot path?
    // (a) Spark's built-in asyncProgressTracking on this exact shape —
    //     expected to be REFUSED (it supports only Kafka sinks and
    //     ProcessingTime triggers; foreachBatch + AvailableNow is the
    //     materializer's replayable contract), but measure, don't
    //     assume.
    // (b) the WAL's fs-latency share: same run with the checkpoint on
    //     tmpfs (/dev/shm) — an async tracker could at best hide the
    //     WAL fsync, so ckpt-on-tmpfs bounds the winnable time from
    //     above without giving up exactly-once.
    def runAsync(tag: String, maxFiles: Option[Int]): Unit = {
      val ckpt = s"$ckptBase/graft_floor_${java.util.UUID.randomUUID().toString.take(8)}"
      try {
        val t0 = System.nanoTime()
        val base = spark.readStream.format("parquet")
          .schema(spark.read.parquet(input).schema)
        val src = maxFiles.fold(base)(n => base.option("maxFilesPerTrigger", n))
        val q = src.load(input)
          .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .option("asyncProgressTrackingEnabled", "true")
          .foreachBatch { (_: DataFrame, _: Long) => () }
          .start()
        q.awaitTermination()
        println(f"[floor] $tag wall=${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch {
        case e: Throwable =>
          println(s"[floor] $tag REFUSED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(160)}")
      }
    }
    (0 until 2).foreach { i =>
      runAsync(s"async-noop-8batch run=$i", Some(1))
    }

    // ---- batch-size amortization probe (VERDICT r16 #7): the claim
    // "the ~0.3-0.5 s/batch WAL floor amortizes at any real micro-batch
    // size" gets a measured row — the SAME single-batch stream shape
    // (LWW collapse + collect) over a 10x-row input. Per-batch wall
    // must grow far below 10x: the floor is per-BATCH (offset/commit
    // WAL + re-analysis), the marginal cost per-ROW.
    locally {
      val input10 = s"${input}_x10"
      if (!new java.io.File(s"$input10/_SUCCESS").exists()) {
        import org.apache.spark.sql.functions._
        val base = spark.read.parquet(input)
        val reps = spark.range(10).select(col("id").as("__rep"))
        base.crossJoin(broadcast(reps))
          .select((col("user_id") + col("__rep") * 10000000L).as("user_id"),
            col("ts"), col("event_type"), col("value"))
          .repartition(8)
          .write.mode("overwrite").parquet(input10)
      }
      def runOn(tag: String, in: String): Double = {
        val ckpt = s"$ckptBase/graft_floor_${java.util.UUID.randomUUID().toString.take(8)}"
        val t0 = System.nanoTime()
        val q = spark.readStream.format("parquet")
          .schema(spark.read.parquet(in).schema)
          .load(in)
          .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) => lww(b) }
          .start()
        q.awaitTermination()
        val w = (System.nanoTime() - t0) / 1e9
        println(f"[floor] $tag wall=$w%.3f s")
        w
      }
      val pairs = (0 until 3).map { i =>
        val w1 = runOn(s"amortize-1x-1batch run=$i", input)
        val w10 = runOn(s"amortize-10x-1batch run=$i", input10)
        (w1, w10)
      }
      val b1 = pairs.map(_._1).min; val b10 = pairs.map(_._2).min
      println(f"[floor] amortization: 10x rows -> ${b10 / b1}%.2fx wall " +
        f"(1x=$b1%.3f s, 10x=$b10%.3f s; per-batch floor amortizes, marginal cost is per-row)")
    }
    spark.stop()
  }
}
