package graft

import org.scalatest.funsuite.AnyFunSuite

/** No operator in src/main stamps row ids: every as-of join runs on the
  * sort-merge exec, which needs none. `monotonically_increasing_id` is
  * evaluated independently in every plan branch that references it, so
  * an operator that stamps ids and joins back by them can disagree on
  * ids whenever the input plan replays rows in another order. A new
  * call has to be pinned (materialized once) and named here. */
class RowIdStampSpec extends AnyFunSuite {

  private val call = "monotonically_increasing_id("

  test("no monotonically_increasing_id( call in src/main") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def read(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val found = files(root).filter(f => read(f).contains(call))
      .map(f => root.toPath.relativize(f.toPath).toString.replace('\\', '/'))
    assert(found.isEmpty, s"row ids stamped in: ${found.mkString(", ")}")
  }
}
