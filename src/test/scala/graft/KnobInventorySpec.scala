package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every session conf or system property the library reads is named
  * here: the `"graft.<a>.<b>"` string literals under `src/main` (outside
  * the oracle query suite) are exactly this inventory, per file. A new
  * knob fails this spec until it is listed, so tuning settings cannot
  * pile up unnoticed. */
class KnobInventorySpec extends AnyFunSuite {

  // a whole string literal naming a three-part graft key
  private val knob = """"(graft\.\w+\.\w+)"""".r

  private val allowed = Map(
    "online/OnlineStore.scala" -> Set("graft.online.writerLeaseMs", "graft.online.writerAcquireMs"),
    "registry/Registry.scala" -> Set("graft.registry.lockStaleMs"),
    "functions/Multimodal.scala" -> Set("graft.video.backend"))

  test("graft.* knob literals in src/main outside queries/ are exactly the inventory") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"run from the repository root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val found = files(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val names = try knob.findAllMatchIn(src.mkString).map(_.group(1)).toSet
        finally src.close()
      if (rel.startsWith("queries/") || names.isEmpty) None else Some(rel -> names)
    }.toMap
    assert(found === allowed,
      "graft.* knobs changed; name every new session conf or system property here")
  }
}
