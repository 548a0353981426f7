package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `.rename(` call in `src/main` (outside the oracle query suite)
  * sits where this spec expects it: directory commits go through
  * [[graft.util.RenameAside]], whose renames are checked, so a new
  * hand-written swap with an unchecked rename cannot reappear. A file
  * on the list fails too when its count changes. The second test pins
  * the commit shapes themselves: the per-file `swap(` / `heal(` /
  * `renameOrThrow(` call sites, so the parquet online store keeps one
  * commit per bucket plus the first publish, and a second commit shape
  * cannot come back unnoticed. */
class RenameCallSiteSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala/graft")

  /** (path under src/main/scala/graft, occurrences of `pattern`) for
    * every file outside queries/ that has at least one. */
  private def callSites(pattern: String): Map[String, Int] = {
    assert(root.isDirectory, s"run from the repository root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val re = pattern.r
    files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try src.getLines().map(re.findAllMatchIn(_).size).sum finally src.close()
      if (rel.startsWith("queries/") || n == 0) None else Some(rel -> n)
    }.toMap
  }

  private val allowed = Map(
    "util/RenameAside.scala" -> 3,      // the checked swap and heal
    "util/FileLease.scala" -> 4,        // tombstone breaks and restores
    "functions/TfRecord.scala" -> 1,    // per-shard commit
    "functions/WebDataset.scala" -> 1)  // per-shard commit

  test("fs.rename call sites in src/main outside queries/ are exactly the allow-list") {
    assert(callSites("""\.rename\(""") === allowed,
      s"rename call sites changed; route directory commits through graft.util.RenameAside")
  }

  test("RenameAside swap/heal/renameOrThrow call sites are pinned per file") {
    // the `def` line of each method counts as one occurrence in RenameAside
    val pinned = Map(
      "swap" -> Map(
        "util/RenameAside.scala" -> 2,      // def + publishFile
        "online/OnlineStore.scala" -> 1,    // rewriteBuckets, the per-bucket commit
        "sources/StagedWrite.scala" -> 1,
        "sources/Bucketing.scala" -> 1,
        "sources/DatePartition.scala" -> 1),
      "heal" -> Map(
        "util/RenameAside.scala" -> 2,      // def + publishFile
        "online/OnlineStore.scala" -> 2,    // recover: whole table (earlier builds), per bucket
        "sources/StagedWrite.scala" -> 1,
        "sources/Bucketing.scala" -> 1,
        "sources/DatePartition.scala" -> 1),
      "renameOrThrow" -> Map(
        "util/RenameAside.scala" -> 2,      // def + heal
        "online/OnlineStore.scala" -> 1,    // the first publish of a new table
        "sources/StagedWrite.scala" -> 2))
    pinned.foreach { case (name, want) =>
      assert(callSites(s"\\b$name\\(") === want,
        s"`$name(` call sites changed: a new commit shape needs its crash test and this pin")
    }
  }
}
