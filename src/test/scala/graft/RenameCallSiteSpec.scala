package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `.rename(` call in `src/main` (outside the oracle query suite)
  * sits where this spec expects it: directory commits go through
  * [[graft.util.RenameAside]], whose renames are checked, so a new
  * hand-written swap with an unchecked rename cannot reappear. A file
  * on the list fails too when its count changes. */
class RenameCallSiteSpec extends AnyFunSuite {

  private val allowed = Map(
    "util/RenameAside.scala" -> 3,      // the checked swap and heal
    "util/FileLease.scala" -> 4,        // tombstone breaks and restores
    "functions/TfRecord.scala" -> 1,    // per-shard commit
    "functions/WebDataset.scala" -> 1)  // per-shard commit

  test("fs.rename call sites in src/main outside queries/ are exactly the allow-list") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val found = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try src.getLines().map(_.split("\\.rename\\(", -1).length - 1).sum
        finally src.close()
      if (rel.startsWith("queries/") || n == 0) None else Some(rel -> n)
    }.toMap
    assert(found === allowed,
      s"rename call sites changed; route directory commits through graft.util.RenameAside")
  }
}
