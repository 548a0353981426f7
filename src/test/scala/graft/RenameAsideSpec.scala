package graft

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.RenameAside

/** RenameAside's checked swap and heal over the local filesystem, with
  * a rename that fails on request the way Hadoop reports a failed
  * rename: by returning false and moving nothing. */
class RenameAsideSpec extends AnyFunSuite {

  /** The local filesystem, except that renaming a path in `failFrom`
    * returns false. */
  private class FailingRenameFs extends FilterFileSystem(FileSystem.getLocal(new Configuration())) {
    var failFrom = Set.empty[Path]
    override def rename(src: Path, dst: Path): Boolean =
      !failFrom(src) && super.rename(src, dst)
  }

  /** A fresh filesystem and the live, staged and aside dirs in a new
    * temp dir; live holds "old" and staged holds "new". */
  private def setup(): (FailingRenameFs, Path, Path, Path) = {
    val fs = new FailingRenameFs
    val root = new Path(java.nio.file.Files.createTempDirectory("rename_aside").toString)
    val (live, staged, aside) = (new Path(root, "t"), new Path(root, "t.tmp"), new Path(root, "t.old"))
    write(fs, live, "old"); write(fs, staged, "new")
    (fs, live, staged, aside)
  }
  private def write(fs: FileSystem, dir: Path, text: String): Unit = {
    val out = fs.create(new Path(dir, "part"), true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def text(fs: FileSystem, dir: Path): String = {
    val in = fs.open(new Path(dir, "part"))
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8) finally in.close()
  }

  test("swap publishes staged as live and drops the aside copy") {
    val (fs, live, staged, aside) = setup()
    RenameAside.swap(fs, staged, live, aside)
    assert(text(fs, live) === "new")
    assert(!fs.exists(staged) && !fs.exists(aside))
  }

  test("swap with no live copy is a first publish") {
    val (fs, live, staged, aside) = setup()
    fs.delete(live, true)
    RenameAside.swap(fs, staged, live, aside)
    assert(text(fs, live) === "new")
    assert(!fs.exists(staged) && !fs.exists(aside))
  }

  test("a failed publish throws, restores live and keeps the staged dir") {
    val (fs, live, staged, aside) = setup()
    fs.failFrom = Set(staged)
    val e = intercept[IOException](RenameAside.swap(fs, staged, live, aside))
    assert(e.getMessage.contains("publish"), e.getMessage)
    assert(text(fs, live) === "old")
    assert(text(fs, staged) === "new")
    assert(!fs.exists(aside))
  }

  test("a failed publish whose restore also fails says where the old copy is") {
    val (fs, live, staged, aside) = setup()
    fs.failFrom = Set(staged, aside)
    val e = intercept[IOException](RenameAside.swap(fs, staged, live, aside))
    assert(e.getSuppressed.exists(_.getMessage.contains(aside.toString)))
    assert(text(fs, aside) === "old")
    // the next write's heal puts it back
    fs.failFrom = Set.empty
    RenameAside.heal(fs, live, aside)
    assert(text(fs, live) === "old" && !fs.exists(aside))
  }

  test("a failed move-aside throws and changes nothing") {
    val (fs, live, staged, aside) = setup()
    fs.failFrom = Set(live)
    val e = intercept[IOException](RenameAside.swap(fs, staged, live, aside))
    assert(e.getMessage.contains("move-aside"), e.getMessage)
    assert(text(fs, live) === "old")
    assert(text(fs, staged) === "new")
    assert(!fs.exists(aside))
  }

  test("swapping a missing staged path removes live") {
    val (fs, live, staged, aside) = setup()
    fs.delete(staged, true)
    RenameAside.swap(fs, staged, live, aside)
    assert(!fs.exists(live) && !fs.exists(aside))
  }

  test("heal restores the aside copy when live is missing") {
    val (fs, live, _, aside) = setup()
    fs.rename(live, aside)
    RenameAside.heal(fs, live, aside)
    assert(text(fs, live) === "old")
    assert(!fs.exists(aside))
  }

  test("heal drops a stale aside copy when live is present") {
    val (fs, live, _, aside) = setup()
    write(fs, aside, "stale")
    RenameAside.heal(fs, live, aside)
    assert(text(fs, live) === "old")
    assert(!fs.exists(aside))
  }

  test("a failed heal restore throws and keeps the aside copy") {
    val (fs, live, _, aside) = setup()
    fs.rename(live, aside)
    fs.failFrom = Set(aside)
    intercept[IOException](RenameAside.heal(fs, live, aside))
    assert(text(fs, aside) === "old")
    assert(!fs.exists(live))
  }

  test("a sharded ring marker whose publish fails throws and keeps the old marker") {
    import graft.online.ShardedOnlineStore
    // the local filesystem, except that a staged marker (`.tmp-`) never
    // renames into place
    val fs = new FilterFileSystem(FileSystem.getLocal(new Configuration())) {
      override def rename(src: Path, dst: Path): Boolean =
        !src.getName.contains(".tmp-") && super.rename(src, dst)
    }
    val base = java.nio.file.Files.createTempDirectory("ring_marker").toString
    val local = FileSystem.getLocal(new Configuration())
    ShardedOnlineStore.writeRingMarker(local, base, 0, 2, "rdv")
    intercept[IOException](ShardedOnlineStore.writeRingMarker(fs, base, 1, 3, "rdv"))
    assert(ShardedOnlineStore.readRingMarker(local, base) === Some((0, 2, "rdv")))
  }
}
