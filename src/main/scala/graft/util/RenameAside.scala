package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** The rename-aside commit every durable directory or file publish in
  * graft shares: StagedWrite, Bucketing.writeBucketed,
  * DatePartition.compact, the small files of [[publishFile]] (the
  * registry and the sharded ring markers), and the parquet online
  * store's per-bucket swaps plus one first publish (a new table needs no
  * aside copy, so that is one [[renameOrThrow]]). Move the live copy
  * ASIDE, rename the staged copy in, and only then drop the aside copy. At
  * every instant the data exists in `live` or in `aside`, so a crash at
  * any step loses nothing, and [[heal]] on the next write puts the
  * aside copy back when `live` is missing.
  *
  * Every rename is CHECKED: Hadoop signals a failed rename by returning
  * false, and carrying on past a false return destroyed data — e.g.
  * deleting the aside copy after the staged-to-live move silently
  * failed (review r6, review r11).
  *
  * Callers run [[heal]] first, so `aside` is absent when [[swap]]
  * starts: a rename onto an existing directory moves the source INTO it
  * on HDFS and the local filesystem.
  */
object RenameAside {

  /** Rename `src` to `dst`, throwing when the filesystem reports failure. */
  def renameOrThrow(fs: FileSystem, src: Path, dst: Path, what: String): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"$what: rename $src -> $dst failed")

  /** Repair a swap that crashed between its two renames: restore the
    * aside copy when `live` is missing, otherwise drop the aside copy as
    * a stale duplicate of the newer live one. */
  def heal(fs: FileSystem, live: Path, aside: Path): Unit =
    if (fs.exists(aside)) {
      if (!fs.exists(live)) renameOrThrow(fs, aside, live, "crash-heal")
      else fs.delete(aside, true)
    }

  /** Publish `staged` as `live`, keeping the old live copy at `aside`
    * until the publish has succeeded. A missing `live` is a first
    * publish; a missing `staged` means "drop live" (a bucket emptied by
    * a delete or an expire). A failed publish puts the old copy back
    * and rethrows, leaving `staged` on disk for inspection. The happy
    * path costs exactly its renames and the delete: existence is only
    * asked after a rename that did not move anything. */
  def swap(fs: FileSystem, staged: Path, live: Path, aside: Path): Unit = {
    val movedAside = moved(fs, live, aside, "move-aside")
    try moved(fs, staged, live, "publish")
    catch {
      case e: Throwable =>
        if (movedAside && !fs.rename(aside, live))
          e.addSuppressed(new java.io.IOException(
            s"restore: rename $aside -> $live failed; the old copy stays at $aside"))
        throw e
    }
    if (movedAside) fs.delete(aside, true)
  }

  /** Publish `bytes` as the small file `live`: write a uniquely named
    * tmp sibling, [[heal]] a crashed predecessor's publish, then [[swap]]
    * the tmp file in with `live.old` as the aside copy. */
  def publishFile(fs: FileSystem, live: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(s"$live.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    heal(fs, live, asideOf(live))
    swap(fs, tmp, live, asideOf(live))
  }

  /** The bytes of a [[publishFile]] file, None when there is none. Looks
    * at `live`, then at the aside copy a publish crashed between its
    * renames left, then at `live` once more: a concurrent publish can
    * finish its whole swap between the first two looks. A file that
    * vanishes between the look and the open is the same race and is
    * retried twice, 50 ms apart, before the FileNotFoundException
    * propagates. */
  def readFile(fs: FileSystem, live: Path): Option[Array[Byte]] = {
    def attempt(tries: Int): Option[Array[Byte]] =
      try Seq(live, asideOf(live), live).find(fs.exists).map { f =>
        val in = fs.open(f)
        try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      } catch {
        case _: java.io.FileNotFoundException if tries < 3 =>
          Thread.sleep(50L)
          attempt(tries + 1)
      }
    attempt(1)
  }

  /** Delete a [[publishFile]] file: the aside copy first, so a crash
    * between the two deletes leaves the live copy, never a stale aside
    * copy that [[readFile]] would resurrect. */
  def deleteFile(fs: FileSystem, live: Path): Unit = {
    fs.delete(asideOf(live), false)
    fs.delete(live, false)
  }

  private def asideOf(live: Path): Path = new Path(s"$live.old")

  /** True when `src` moved to `dst`, false when there was no `src` to
    * move (the local filesystem reports that as FileNotFoundException,
    * HDFS as a false return); any other failure throws. */
  private def moved(fs: FileSystem, src: Path, dst: Path, what: String): Boolean =
    (try fs.rename(src, dst) catch { case _: java.io.FileNotFoundException => false }) ||
      (if (fs.exists(src)) throw new java.io.IOException(s"$what: rename $src -> $dst failed")
       else false)
}
