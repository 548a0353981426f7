package graft

import org.scalatest.funsuite.AnyFunSuite

/** Row ids are stamped in one place: `PointInTimeJoin.stamp`, which
  * pins them with `localCheckpoint` when the entity plan could replay
  * rows in another order. A new as-of operator that calls
  * `monotonically_increasing_id` itself would skip that check, and its
  * candidate join and join-back could then disagree on ids. */
class RowIdStampSpec extends AnyFunSuite {

  private val call = "monotonically_increasing_id("

  test("monotonically_increasing_id has one call site in src/main: PointInTimeJoin.stamp") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def read(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val found = files(root).flatMap { f =>
      val n = read(f).split(java.util.regex.Pattern.quote(call), -1).length - 1
      if (n == 0) None
      else Some(root.toPath.relativize(f.toPath).toString.replace('\\', '/') -> n)
    }.toMap
    assert(found === Map("operators/PointInTimeJoin.scala" -> 1),
      "stamp row ids through graft.operators.PointInTimeJoin.stamp")
    // and that one call sits inside stamp's body
    val text = read(new java.io.File(root, "operators/PointInTimeJoin.scala"))
    val start = text.indexOf("def stamp(")
    val end = text.indexOf("\n  }", start)  // stamp's closing brace
    val at = text.indexOf(call)
    assert(start >= 0 && start < at && at < end,
      "the monotonically_increasing_id call must be in PointInTimeJoin.stamp")
  }
}
