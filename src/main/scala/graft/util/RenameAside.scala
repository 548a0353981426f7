package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** The rename-aside commit every durable directory or file publish in
  * graft shares (StagedWrite, Bucketing.writeBucketed,
  * DatePartition.compact, Registry.persist and the parquet online
  * store's whole-table and per-bucket swaps): move the live copy ASIDE,
  * rename the staged copy in, and only then drop the aside copy. At
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

  /** True when `src` moved to `dst`, false when there was no `src` to
    * move (the local filesystem reports that as FileNotFoundException,
    * HDFS as a false return); any other failure throws. */
  private def moved(fs: FileSystem, src: Path, dst: Path, what: String): Boolean =
    (try fs.rename(src, dst) catch { case _: java.io.FileNotFoundException => false }) ||
      (if (fs.exists(src)) throw new java.io.IOException(s"$what: rename $src -> $dst failed")
       else false)
}
