package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Session + testdata table normalization (O8 — timezone/precision
  * normalization at the ingest boundary; reference file.py:88-100,
  * feast/utils.py make_tzaware).
  *
  * Everything inside the engine is µs TimestampType in a UTC session:
  *  - parquet naive timestamps read as TimestampType, not NTZ
  *    (spark.sql.parquet.inferTimestampNTZ.enabled=false);
  *  - parquet TIMESTAMP(NANOS) — which Spark refuses by default — is
  *    read as raw nanos (nanosAsLong) and floored to µs.
  */
object Tables {

  def configure(spark: SparkSession): Unit = {
    // first: the session's first spark.conf call below initializes its
    // shared state, which caches the JVM's `file:` filesystem
    graft.util.ForkFreeFs.register(spark.sparkContext.hadoopConfiguration)
    Seq(
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      // adaptive.enabled deliberately NOT forced here: it is Spark's
      // default and the bench's SPARK_GRAFT_AQE A/B knob must not be
      // silently overridden on the first Tables.read (review r6)
      // INT64-micros timestamps instead of legacy INT96: modern readers
      // (and the job-free ParquetPointReader on the online path) get a
      // plain annotated int64.
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      // ObjectHashAggregate (the exec that runs every
      // TypedImperativeAggregate: BoundedMinK top-k, bounded_collect,
      // count-min) falls back to SORT-BASED aggregation past 128
      // distinct groups per task — a guard sized for unbounded
      // collect_list states. Every graft typed agg carries an
      // explicitly BOUNDED per-group state by design (k-heaps, capped
      // collects, fixed sketch cells), so the hash path's memory is
      // O(groups * cap) and the conservative default only buys an
      // extra sort of the full input per task (key-grain group counts
      // routinely exceed 128 in every partition). 64k keeps worst-case
      // hash-state per task bounded (~64k groups x ~1-2 KB bounded
      // state ≈ 100 MB) while covering real per-task group counts;
      // the sort fallback still engages above it, and its
      // serialize/merge correctness stays spec-pinned (PipelineSpec).
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536"
    ).foreach { case (k, v) =>
      try spark.conf.set(k, v) catch { case _: Throwable => () }
    }
    // v2 file-output commit: tasks rename their output into the
    // destination directly, removing the committer's sequential
    // driver-side rename pass at job commit. Safe because every graft
    // durable-write path stages into a private dir and publishes
    // ABOVE the committer: online-store buckets and compaction swap
    // staged dirs, VersionedTable claims a manifest over
    // commit-private files, the streaming parquet sink has its own
    // committed-file log, and the direct ingest/date-partition/zorder
    // paths go through StagedWrite's move-on-success (which restores
    // exactly v1's commit-time-only visibility for appends and beats
    // both committers for overwrites). The committer's v1 crash
    // atomicity is therefore redundant here. At cluster scale this is
    // the same decision cloud committers make; in the local bench it
    // is a measurable slice of every store write.
    try spark.sparkContext.hadoopConfiguration
      .set("mapreduce.fileoutputcommitter.algorithm.version", "2")
    catch { case _: Throwable => () }
  }

  /** Read a testdata table with all timestamp columns normalized to µs
    * TimestampType. `nanosLongCols` marks INT64-nanos physical columns
    * (the `events.ts` case).
    *
    * The resolved relation is CACHED per (session, dir, table) — what a
    * catalog does. `spark.read.parquet` builds a fresh file index every
    * call (schema inference + file listing = a driver job), so a bench
    * or serving session issuing many queries over the same immutable
    * tables re-paid listing per query. The cache holds lazy logical
    * plans only (no data); entries of stopped sessions are purged on
    * access. Testdata is immutable for a session's lifetime — a mutated
    * dir would need an explicit new session (same contract as the
    * multiget store cache). */
  private val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    relationCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    relationCache.computeIfAbsent((spark, dir, name), _ => {
      configure(spark)
      val df = spark.read.parquet(s"$dir/$name.parquet")
      normalize(df, if (name == "events") Seq("ts") else Nil)
    })
  }

  def normalize(df: DataFrame, nanosLongCols: Seq[String]): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if nanosLongCols.contains(f.name) =>
          // ns -> µs with truncating integer division (a double
          // division would lose precision above 2^53 ns); FooterBounds
          // mirrors this `div` exactly when pruning from footer stats
          // backquoted: a raw interpolation misparses names carrying
          // operator chars ("a-b" -> subtraction) or dots (struct
          // resolution); `div` itself has no Column-API form
          acc.withColumn(f.name, timestamp_micros(expr(s"`${f.name}` div 1000")))
        case TimestampNTZType =>
          acc.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => acc
      }
    }
}
