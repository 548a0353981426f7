package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val cadenceNs = 100000000L
  private def readKeys(seed: Long): Seq[(Long, Boolean, Seq[Long])] =
    IngestWhileServing.reads(seed, 2.0, cadenceNs, traced = false).map(r => (r.atNs, r.grpc, r.keys.toSeq))

  test("the same seed gives byte-identical inputs") {
    assert(Gen.entityFrame(7, 3, 1000).bytes.sameElements(Gen.entityFrame(7, 3, 1000).bytes))
    assert(Gen.feedFileBytes(7, 5, 2000, 100).sameElements(Gen.feedFileBytes(7, 5, 2000, 100)))
    assert(readKeys(7) == readKeys(7))
    assert(Gen.window(7, 2, 30) == Gen.window(7, 2, 30))
  }

  test("a different seed gives different inputs") {
    assert(!Gen.entityFrame(7, 3, 1000).bytes.sameElements(Gen.entityFrame(8, 3, 1000).bytes))
    assert(!Gen.feedFileBytes(7, 5, 2000, 100).sameElements(Gen.feedFileBytes(8, 5, 2000, 100)))
    assert(readKeys(7) != readKeys(8))
    assert(Gen.window(7, 2, 30) != Gen.window(8, 2, 30))
  }

  test("entity frames: orders of one window, each with its own customer, after the order") {
    val f = Gen.entityFrame(1, 0, 5000)
    val base = f.orderId.map(o => Math.floorMod(o, Gen.ReplicaOffset))
    assert(base.forall(k => k >= 1 && k <= Gen.Orders))
    assert(f.orderId.forall(o => o / Gen.ReplicaOffset < Gen.Factor))
    assert(base.indices.forall(i => f.customerId(i) == Gen.custOf(base(i))))
    val orderTimes = base.map(Gen.orderSec)
    assert(orderTimes.max - orderTimes.min <= 90 * Gen.Day)
    assert(base.indices.forall(i => f.tsSec(i) >= orderTimes(i) && f.tsSec(i) < orderTimes(i) + 120 * Gen.Day))
    // every sampled order has a line inside its lineitem TTL somewhere
    assert(f.orderId.take(100).forall(o => Oracle.lines(o).size == Gen.LinesPerOrder))
  }

  test("windows and feed files have the stated shape") {
    val (lo, hi) = Gen.window(1, 0, 30)
    assert(hi - lo == 30 * Gen.Day && lo >= Gen.D0)
    // file j > 0: distinct users plus one probe key, clicks = j
    val lines = new String(Gen.feedFileBytes(1, 4, 2000, 50), "UTF-8").split("\n")
    assert(lines.length == 51 && lines.forall(_.contains("\"clicks\":4.0")))
    assert(lines.last.contains(s"\"user_id\":${Gen.ProbeBase + 4}"))
    assert(Gen.feedRows(1, 4, 2000, 50).distinct.length == 50)
    assert(Gen.feedRows(1, 0, 2000, 50).toSeq == (0L until 2000L))
  }

  test("reads favour the newest landed file") {
    val rs = IngestWhileServing.reads(3, 2.0, cadenceNs, traced = false)
    val files = IngestWhileServing.fileRows(3)
    val recent = rs.count { r =>
      val landed = IngestWhileServing.WarmFiles + math.min(IngestWhileServing.Files, (r.atNs / cadenceNs).toInt)
      files(landed).contains(r.keys.head)
    }
    assert(recent.toDouble / rs.size > 0.6)
    assert(rs.count(_.grpc).toDouble / rs.size > 0.4 && rs.count(_.grpc).toDouble / rs.size < 0.6)
  }

  test("reads mix one-row and batched requests, and keys no file holds") {
    import IngestWhileServing._
    val rs = reads(3, 10.0, cadenceNs, traced = false)
    assert(rs.size == (10 * ReadRps).toInt - 1)
    val batched = rs.filter(_.keys.length == BatchRows)
    assert(batched.size == rs.size / 20 && rs.forall(r => r.keys.length == 1 || r.keys.length == BatchRows))
    assert(math.abs(batched.count(_.grpc) * 2 - batched.size) <= 1)
    val keys = rs.flatMap(_.keys.toSeq)
    val absent = keys.count(_ >= Users)
    assert(math.abs(absent.toDouble / keys.size - AbsentShare) < 0.02)
    val fed = fileRows(3).flatMap(_.toSeq).toSet
    assert(keys.filter(_ >= Users).forall(k => k < 2L * Users && !fed(k)))
  }
}
