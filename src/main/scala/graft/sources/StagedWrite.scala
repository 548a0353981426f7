package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.util.RenameAside

/** Crash-safe publication for writes that target a LIVE dataset
  * directory, independent of the committer algorithm: the job writes
  * into a private staging dir next to the destination, and only after
  * the job fully succeeds do the results publish —
  *
  *  - `append`: staged part files MOVE into the destination in one
  *    driver-side rename pass. A job that dies mid-write leaves only
  *    the staging dir; readers of the destination never see a partial
  *    append. This is exactly the visibility guarantee the v1
  *    committer's commitJob gave direct appends (and the same residual
  *    window: a driver crash mid-rename-loop), restored on top of the
  *    session-wide v2 committer.
  *  - `overwrite`: whole-dir [[graft.util.RenameAside.swap]] with
  *    `dest.old` as the aside copy — STRICTLY stronger than either
  *    committer version, which both delete the old data before the
  *    new write lands; here a crash at any point leaves a complete
  *    copy (old or new) discoverable on disk.
  *
  * Staging leftovers from crashed jobs (`.stage-*` dirs) are swept on
  * the next write to the same destination — AGE-GATED by directory
  * modification time (the registry's lockStaleMs pattern): a fresh
  * `.stage-*` dir may belong to a live concurrent writer, and deleting
  * it mid-write would fail that job or publish a partial listing. Only
  * dirs untouched for [[stageStaleMs]] are treated as crash debris.
  */
object StagedWrite {

  /** A `.stage-*` dir whose NEWEST tree mtime is older than this is
    * considered a crashed writer's leftover and is swept. The newest
    * mtime over the whole tree, not the root dir's: a partitioned
    * write creates its partition subdirs early and then only touches
    * files inside them, leaving the root mtime frozen for the job's
    * whole duration (review r7) — an active writer is only visible in
    * its leaves. The recursive walk prices in as one listing of a
    * candidate dir: crashed leftovers are small and live dirs return a
    * fresh leaf quickly. */
  private[graft] val stageStaleMs: Long = 10 * 60 * 1000L

  /** Sweep crash debris: `<dest>.stage-*` siblings whose newest tree
    * mtime is older than [[stageStaleMs]]. Shared with
    * [[Bucketing.writeBucketed]], whose staged dirs follow the same
    * naming and previously leaked forever on a pre-swap crash
    * (ADVICE r11). A concurrent writer can sweep (or finish
    * publishing) the same stale dir mid-walk — a vanished subtree
    * means someone else handled it, never a reason to abort THIS
    * healthy write. */
  private[graft] def sweepStaleStages(
      fs: org.apache.hadoop.fs.FileSystem, dest: Path): Unit = {
    val parent = dest.getParent
    if (parent != null && fs.exists(parent)) {
      val now = System.currentTimeMillis()
      fs.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        val stale =
          try n.startsWith(dest.getName + ".stage-") &&
            now - newestMtime(fs, st.getPath) > stageStaleMs
          catch { case _: java.io.FileNotFoundException => false }
        if (stale)
          try { fs.delete(st.getPath, true); () }
          catch { case _: java.io.FileNotFoundException => () }
      }
    }
  }

  /** Newest modification time in the tree under `p`. */
  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long = {
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else (st.getModificationTime +:
      fs.listStatus(p).toSeq.map(c => newestMtime(fs, c.getPath))).max
  }

  def parquet(df: DataFrame, destPath: String, mode: String,
      partitionBy: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Unit = {
    require(mode == "append" || mode == "overwrite",
      s"StagedWrite supports append/overwrite, got $mode")
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val dest = new Path(destPath)
    val fs = dest.getFileSystem(hconf)
    // heal a crashed overwrite swap; sweep crashed staging dirs. The
    // heal is CHECKED like every other rename here: ignoring a false
    // return let an append that followed a crashed overwrite conclude
    // "dest missing" and publish the append batch as the ENTIRE
    // dataset, after which the next heal deleted the .old copy — the
    // only surviving pre-crash data (review r11).
    val aside = new Path(destPath + ".old")
    RenameAside.heal(fs, dest, aside)
    sweepStaleStages(fs, dest)

    val staging = new Path(destPath + ".stage-" +
      java.util.UUID.randomUUID().toString.take(8))
    val w0 = df.write.mode("overwrite").options(options)
    val w = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    w.parquet(staging.toString)

    if (mode == "overwrite") RenameAside.swap(fs, staging, dest, aside)
    else if (!fs.exists(dest))
      RenameAside.renameOrThrow(fs, staging, dest, "StagedWrite publish")
    else {
      // append: move data files (and partition dirs) in; `_`-prefixed
      // metadata files stay behind with the staging dir. Part-file
      // names embed the write's job UUID, so cross-job collisions
      // cannot occur.
      def move(src: Path, dst: Path): Unit = {
        if (!fs.exists(dst)) fs.mkdirs(dst)
        fs.listStatus(src).foreach { st =>
          val name = st.getPath.getName
          if (!name.startsWith("_")) {
            if (st.isDirectory) move(st.getPath, new Path(dst, name))
            else RenameAside.renameOrThrow(fs, st.getPath, new Path(dst, name),
              "StagedWrite append")
          }
        }
      }
      move(staging, dest)
      fs.delete(staging, true)
    }
  }
}
