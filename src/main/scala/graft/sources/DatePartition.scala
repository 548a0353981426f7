package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Date-partitioned datasets (reference ingest.py:82-120 for derived
  * partition-column writes; data_source.py:295-306 declares the
  * `date_partition_column` the scans should prune on).
  *
  * At 100 TB this is the biggest scan-cost lever after the ts-bounds
  * predicate: a parquet ts filter only skips row groups INSIDE files the
  * scan still has to list and open, while a date-partition filter prunes
  * whole directories out of the listing (explain shows PartitionFilters,
  * not just PushedFilters).
  */
object DatePartition {

  /** Write `df` partitioned by a date column derived from the event
    * timestamp when absent (ingest.py:104-109). */
  def write(df: DataFrame, path: String, tsCol: String, dateCol: String,
      mode: String = "overwrite"): Unit = {
    val withDate =
      if (df.columns.contains(dateCol)) df
      else df.withColumn(dateCol, to_date(col(tsCol)))
    // staged publish (StagedWrite): a failed direct write must never
    // leave v2-committed task files visible in the live dataset
    StagedWrite.parquet(withDate, path, mode, Seq(dateCol))
  }

  /** Inclusive date-range predicate over the partition column — a coarse
    * superset of the ts range [lower, upper], so stacking it under the
    * exact ts filter never changes results, only prunes directories.
    *
    * The window is widened by one day on each side: the partition dates
    * were derived in the WRITER's session timezone while to_date(lit(ts))
    * here evaluates in the READER's — with mismatched sessions an edge
    * timestamp's date can differ by up to one calendar day, and an
    * unwidened bound would prune a directory that holds matching rows
    * (review r6). One extra directory per side is noise at any scale;
    * a dropped partition is silent wrong results. */
  def pruneFilter(dateCol: String, lower: Option[Timestamp], upper: Option[Timestamp]): Option[Column] = {
    val conds = lower.map(l => col(dateCol) >= date_sub(to_date(lit(l)), 1)).toSeq ++
      upper.map(u => col(dateCol) <= date_add(to_date(lit(u)), 1)).toSeq
    conds.reduceOption(_ && _)
  }

  /** Apply pruneFilter if the source declares a date partition column. */
  def prune(df: DataFrame, datePartitionColumn: Option[String],
      lower: Option[Timestamp], upper: Option[Timestamp]): DataFrame =
    (for {
      dc <- datePartitionColumn
      f <- pruneFilter(dc, lower, upper)
    } yield df.filter(f)).getOrElse(df)

  /** Small-file compaction: rewrite each date partition whose file
    * count exceeds `maxFiles` into `ceil(bytes / targetBytes)` files —
    * the other half of lake maintenance next to [[vacuum]]. Streaming
    * ingest (a file per micro-batch per writer) degrades scans via
    * listing cost and tiny row groups; compaction restores
    * row-group-sized files. Each partition rewrites INDEPENDENTLY:
    * write-aside to `_compact_tmp_<part>`, then
    * [[graft.util.RenameAside.swap]] with `_compact_old_<part>` as the
    * aside copy — a crash loses at most one partition's rewrite, never
    * data, and a failed rename restores the original and aborts
    * loudly. Returns (partition, filesBefore, filesAfter) for the
    * rewritten partitions. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      dateCol: String, targetBytes: Long = 128L << 20,
      maxFiles: Int = 4): Seq[(String, Int, Int)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val prefix = s"$dateCol="
    // heal a crashed swap FIRST: a death between the swap's two renames
    // leaves the partition's only copy in the underscore-hidden
    // _compact_old_ dir, which every scan ignores (review r6)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"_compact_old_$prefix"))
      .foreach { orphan =>
        graft.util.RenameAside.heal(fs, new org.apache.hadoop.fs.Path(root,
          orphan.getPath.getName.stripPrefix("_compact_old_")), orphan.getPath)
      }
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap { part =>
        val dataFiles = fs.listStatus(part.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (dataFiles.length <= maxFiles) None
        else {
          val bytes = dataFiles.map(_.getLen).sum
          val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          val parent = part.getPath.getParent
          val tmp = new org.apache.hadoop.fs.Path(parent,
            s"_compact_tmp_${part.getPath.getName}")
          val old = new org.apache.hadoop.fs.Path(parent,
            s"_compact_old_${part.getPath.getName}")
          fs.delete(tmp, true) // the heal above already cleared `old`
          spark.read.parquet(part.getPath.toString)
            .repartition(nOut)
            .write.mode("overwrite").parquet(tmp.toString)
          graft.util.RenameAside.swap(fs, tmp, part.getPath, old)
          Some((part.getPath.getName, dataFiles.length, nOut))
        }
      }
      .sortBy(_._1)
  }

  /** Retention vacuum: drop whole date partitions strictly OLDER than
    * `keepFrom` from a date-partitioned dataset. Partition-level
    * deletion is the 100 TB retention primitive — a directory unlink
    * per expired day, never a rewrite of surviving data (the
    * row-filtering alternative rewrites the whole table to delete 1%
    * of it). Returns the dropped partition names. Hadoop-FS API, so
    * the same call works on local disk, HDFS, or an object store. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
      dateCol: String, keepFrom: java.time.LocalDate): Seq[String] = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hadoopPath)) return Nil
    val prefix = s"$dateCol="
    fs.listStatus(hadoopPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith(prefix) &&
          (try java.time.LocalDate.parse(p.getName.stripPrefix(prefix))
              .isBefore(keepFrom)
           catch { case _: java.time.format.DateTimeParseException => false })
      }
      .map { p => fs.delete(p, true); p.getName }
      .sorted
  }
}
