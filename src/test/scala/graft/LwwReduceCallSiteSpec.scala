package graft

import org.scalatest.funsuite.AnyFunSuite

/** Last-write-wins is reduced in one place: `PullLatest.latestPerKey`.
  * Every online store's upsert, the parquet store's bucketed merge and
  * the CDC net change call it, so the (ts, created, payload) order and
  * its tie rules cannot drift between them. A new site that groups and
  * aggregates with `max_by` itself would bring back a second copy. The
  * oracle queries under `queries/` are left out: they state their own
  * SQL-shaped answers. The as-of joins reduce nothing with `max_by`:
  * they run on the sort-merge exec. */
class LwwReduceCallSiteSpec extends AnyFunSuite {

  // `.agg(max_by(` or `.agg(functions.max_by(`, possibly across a line break
  private val call = """\.agg\(\s*(?:[\w.]+\.)?max_by\(""".r

  test("a grouped max_by has one call site outside queries/: PullLatest.latestPerKey") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def read(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    def rel(f: java.io.File) = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
    val found = files(root).filterNot(f => rel(f).startsWith("queries/")).flatMap { f =>
      val n = call.findAllIn(read(f)).size
      if (n == 0) None else Some(rel(f) -> n)
    }.toMap
    assert(found === Map("operators/PullLatest.scala" -> 1),
      "reduce last-write-wins through graft.operators.PullLatest.latestPerKey")
    // and that one call sits inside latestPerKey's body
    val text = read(new java.io.File(root, "operators/PullLatest.scala"))
    val start = text.indexOf("def latestPerKey(")
    val end = text.indexOf("\n  }", start)  // latestPerKey's closing brace
    val at = call.findFirstMatchIn(text).map(_.start).getOrElse(-1)
    assert(start >= 0 && start < at && at < end,
      "the grouped max_by must be in PullLatest.latestPerKey")
  }
}
