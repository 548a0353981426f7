package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sort-merge as-of exec is the only as-of operator, reached through
  * `AsOfJoin.join0` from four places: the public `AsOfJoin.join`,
  * `PointInTimeJoin.join`'s chain link (one per view), `LabelJoin`'s
  * forward pass and `NearestJoin`'s nearest pass. A new caller of
  * `join0` is a new as-of route, and has to be named here. */
class AsOfCallSiteSpec extends AnyFunSuite {

  // a call, not the definition
  private val call = """(?<!def )\bjoin0\(""".r

  test("AsOfJoin.join0 callers: AsOfJoin.join, the PIT chain, LabelJoin, NearestJoin") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def read(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val found = files(root).flatMap { f =>
      val n = call.findAllMatchIn(read(f)).size
      if (n == 0) None
      else Some(root.toPath.relativize(f.toPath).toString.replace('\\', '/') -> n)
    }.toMap
    assert(found === Map(
        "operators/LabelJoin.scala" -> 1,
        "operators/NearestJoin.scala" -> 1,
        "operators/PointInTimeJoin.scala" -> 1,
        "plans/AsOfJoinPlan.scala" -> 1),
      "a new as-of route through AsOfJoin.join0 must be named in AsOfCallSiteSpec")
    // and the AsOfJoinPlan call sits inside join's body
    val text = read(new java.io.File(root, "plans/AsOfJoinPlan.scala"))
    val start = text.indexOf("  def join(")
    val end = text.indexOf("private[graft] def join0(", start)
    val at = call.findFirstMatchIn(text).map(_.start).getOrElse(-1)
    assert(start >= 0 && start < at && at < end,
      "the AsOfJoinPlan.scala join0 call must be in AsOfJoin.join")
  }
}
