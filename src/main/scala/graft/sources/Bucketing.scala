package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table support: the co-located-join primitive for 100 TB
  * feature tables.
  *
  * A feature table that is re-joined on the same entity keys every
  * retrieval (the PIT join's candidate equi-join, incremental-dedup
  * anti-joins, the online materialize latest-per-key aggregation)
  * should be bucketed by those keys ON WRITE: both sides of a
  * same-bucketing equi-join then report `HashPartitioning` straight
  * from the scan and Catalyst plans NO exchange — the join's shuffle,
  * the single biggest cost of repeated retrievals, is paid once at
  * ingest instead of per query. sortBy on the same keys additionally
  * lets sort-merge joins skip their sorts.
  *
  * Spark requires a catalog entry for bucketing metadata (the bucket
  * spec lives in the table, not the files), so this writes an EXTERNAL
  * table: files at `path`, bucket spec in the session catalog.
  * PlanSpec pins the zero-exchange property.
  */
object Bucketing {

  def writeBucketed(
      df: DataFrame,
      path: String,
      table: String,
      keys: Seq[String],
      buckets: Int): Unit = {
    require(keys.nonEmpty, "bucketing needs at least one key")
    // Pre-shuffle into the bucket partitioning: repartition(n, keys)
    // and bucketBy(n, keys) use the same murmur3 HashPartitioning, so
    // each task then owns exactly one bucket and writes exactly one
    // file. One-file-per-bucket is what lets the scan report its
    // sortBy order (multi-file buckets force a Sort below SMJ — Spark
    // only trusts per-file order) and avoids the
    // files-per-bucket-per-writer small-file explosion at scale.
    //
    // STAGED publication, like every other graft durable write: a
    // direct mode(overwrite) saveAsTable deletes the live data BEFORE
    // writing, and under the session's v2 committer (Tables.configure)
    // task output is visible before job commit — a crash mid-write
    // destroyed the only copy and left a torn file set readable
    // (review r11). Data is written to a staged dir under a staging
    // catalog name, the dir is swapped in by
    // [[graft.util.RenameAside.swap]], then the catalog entry swaps —
    // metadata-only, the bucket spec rides along. The only crash
    // residue is a staging table/dir (inspectable) or a brief
    // table-name gap between DROP and RENAME; the data dir is never
    // torn.
    val spark = df.sparkSession
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val stagePathS = s"$path.stage-$uid"
    val stageTable = s"${table}_stage_$uid"
    // Crash-residue sweep on entry (ADVICE r11 — this path previously
    // leaked a `<path>.stage-<uid>` dir AND a `<table>_stage_<uid>`
    // catalog entry forever if the JVM died before the swap): stale
    // staged DIRS go first (StagedWrite's age-guarded sweep — same
    // naming scheme, same live-writer guard), then catalog entries
    // whose staged dir no longer exists are orphans and are dropped.
    // The dir-existence check alone would race THIS function's own
    // publish window (between the data rename and ALTER SET LOCATION
    // the live stage table's dir is already gone), so entries younger
    // than the stale window are never touched.
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    locally {
      StagedWrite.sweepStaleStages(fs, dest)
      val cat = spark.sessionState.catalog
      val (db, bare) = table.lastIndexOf('.') match {
        case -1 => (cat.getCurrentDatabase, table)
        case i => (table.substring(0, i), table.substring(i + 1))
      }
      try cat.listTables(db, s"${bare}_stage_*").foreach { ident =>
        try {
          val meta = cat.getTableMetadata(ident)
          val loc = new org.apache.hadoop.fs.Path(meta.location)
          val old = System.currentTimeMillis() - meta.createTime > StagedWrite.stageStaleMs
          if (old && !fs.exists(loc))
            cat.dropTable(ident, ignoreIfNotExists = true, purge = false)
        } catch { case _: Exception => () } // raced: someone else handled it
      } catch { case _: Exception => () }   // db listing unavailable: skip sweep
    }
    df.repartition(buckets, keys.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("errorifexists")
      .option("path", stagePathS)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(stageTable)
    val aside = new org.apache.hadoop.fs.Path(path + ".old")
    graft.util.RenameAside.heal(fs, dest, aside) // a crashed predecessor's swap
    graft.util.RenameAside.swap(fs, new org.apache.hadoop.fs.Path(stagePathS), dest, aside)
    def q(n: String) = n.split('.').map(p => s"`$p`").mkString(".")
    spark.sql(s"ALTER TABLE ${q(stageTable)} SET LOCATION '${path.replace("'", "''")}'")
    spark.sql(s"DROP TABLE IF EXISTS ${q(table)}")
    spark.sql(s"ALTER TABLE ${q(stageTable)} RENAME TO ${q(table)}")
    ()
  }

  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
