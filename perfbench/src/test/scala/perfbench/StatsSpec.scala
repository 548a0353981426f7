package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 0.99).contains(990.0))
    assert(Stats.percentile(xs.take(999), 0.99).isEmpty)
    assert(Stats.percentile(xs.take(100), 0.90).contains(90.0))
    assert(Stats.percentile(xs.take(99), 0.90).isEmpty)
    assert(Stats.minSamples(0.99) == 1000 && Stats.minSamples(0.90) == 100)
    (1 to 300).foreach { n =>
      val ys = (1 to n).map(_.toDouble)
      Stats.percentile(ys, 0.95).foreach(p => assert(ys.count(_ > p) >= 10))
    }
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)).contains(2.0))
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)).contains(2.5))
    assert(Stats.median(Nil).isEmpty)
  }

  test("the thread read-call counter counts file reads and nothing else") {
    val f = java.io.File.createTempFile("fsstats", ".bin")
    try {
      java.nio.file.Files.write(f.toPath, new Array[Byte](1 << 16))
      val idle = FsStats.readCalls()
      assert(FsStats.readCallsSince(idle) == 0)
      val before = FsStats.readCalls()
      val in = new java.io.FileInputStream(f)
      val buf = new Array[Byte](4096)
      try while (in.read(buf) > 0) () finally in.close()
      assert(FsStats.readCallsSince(before) >= 16)
    } finally f.delete()
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(Span(1, 1, 0, "call", 0, 100), Span(1, 2, 1, "job", 10, 40),
      Span(1, 3, 1, "job", 30, 60), Span(1, 4, 2, "stage", 10, 20))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 50 && self(2) == 20 && self(4) == 10)
  }

  test("cover counts overlaps once and clips to the interval") {
    assert(Trace.covered(100, 200, Seq((90L, 130L), (120L, 150L), (180L, 260L))) == 70)
    assert(Trace.covered(100, 200, Nil) == 0)
  }
}
