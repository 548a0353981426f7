package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs.
  *
  * Base tables: the sf0.1 shapes of `orders` (150k rows), `lineitem`
  * (600k) and `events` (100k), with every value a closed-form integer
  * function of the row key. Spark writes them from the formulas below;
  * [[Oracle]] evaluates the same formulas in Scala, so expected values
  * never come from the code under test. They are fixed (no seed): the 10x
  * replica made from them by `ScaleCheck.buildScaled` is built once per
  * checkout. Every other input (entity frames, windows, read keys, feed
  * files) is drawn from the run's `--seed`.
  */
object Gen {
  val Day = 86400L
  /** 1995-01-01T00:00:00Z */
  val D0 = 788918400L
  val SpanDays = 2400L
  val SpanSec: Long = SpanDays * Day

  val Orders = 150000L
  val LinesPerOrder = 4
  val Lineitems: Long = Orders * LinesPerOrder
  val Events = 100000L
  val Customers = 15000L
  val Users = 1500L
  val Factor = 10
  val ReplicaOffset: Long = graft.tools.ScaleCheck.ReplicaOffset

  // ---- closed forms (base keys only; a replica copies its base row) ---
  def custOf(k: Long): Long = 1 + Math.floorMod(k * 7919L + 13L, Customers)
  def orderSec(k: Long): Long = D0 + Math.floorMod(k * 1000003L, SpanSec)
  def totalPrice(k: Long): Double = Math.floorMod(k * 104729L + 7L, 50000000L) / 100.0
  /** lineitem row i (0-based) belongs to order i/4+1, line i%4+1 */
  def shipSec(i: Long): Long =
    orderSec(i / LinesPerOrder + 1) + ((i % LinesPerOrder + 1) * 10 + Math.floorMod(i * 13L, 7L)) * Day
  def quantity(i: Long): Double = (1 + Math.floorMod(i * 7L, 50L)).toDouble
  def extPrice(i: Long): Double = Math.floorMod(i * 104723L + 5L, 10000000L) / 100.0
  def userOf(e: Long): Long = Math.floorMod(e * 7901L + 17L, Users)
  def eventSec(e: Long): Long = D0 + Math.floorMod(e * 1000033L, SpanSec)
  def eventValue(e: Long): Double = Math.floorMod(e * 7877L + 1L, 100000L) / 100.0
  val EventTypes = Seq("view", "click", "purchase", "signup", "error")

  private def fm(c: Column, a: Long, b: Long, m: Long): Column = pmod(c * lit(a) + lit(b), lit(m))
  private def pick(c: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(c, lit(xs.size.toLong)) + 1).cast("int"))

  /** Write the three base tables under `dir` (idempotent on _SUCCESS). */
  def writeBase(spark: SparkSession, dir: String): Unit = {
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      if (!new java.io.File(s"$dir/$name.parquet/_SUCCESS").exists())
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val k = col("id")
    def odate(key: Column) = timestamp_seconds(lit(D0) + fm(key, 1000003L, 0L, SpanSec))
    write("orders", spark.range(1, Orders + 1).select(
      k.as("o_orderkey"),
      (fm(k, 7919L, 13L, Customers) + 1).as("o_custkey"),
      pick(k, Seq("F", "O", "P")).as("o_orderstatus"),
      (fm(k, 104729L, 7L, 50000000L) / 100.0).as("o_totalprice"),
      odate(k).as("o_orderdate"),
      pick(k, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    val ok = (k / LinesPerOrder).cast("long") + 1
    val ln = pmod(k, lit(LinesPerOrder.toLong)) + 1
    write("lineitem", spark.range(0, Lineitems).select(
      ok.as("l_orderkey"),
      (fm(k, 31L, 0L, 20000L) + 1).as("l_partkey"),
      (fm(k, 17L, 0L, 1000L) + 1).as("l_suppkey"),
      ln.cast("int").as("l_linenumber"),
      (fm(k, 7L, 0L, 50L) + 1).cast("double").as("l_quantity"),
      (fm(k, 104723L, 5L, 10000000L) / 100.0).as("l_extendedprice"),
      (pmod(k, lit(11L)) / 100.0).as("l_discount"),
      (pmod(k, lit(9L)) / 100.0).as("l_tax"),
      pick(k, Seq("A", "N", "R")).as("l_returnflag"),
      pick(k, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(D0) + fm(ok, 1000003L, 0L, SpanSec) +
        (ln * 10 + fm(k, 13L, 0L, 7L)) * Day).as("l_shipdate")))
    write("events", spark.range(0, Events).select(
      k.as("event_id"),
      timestamp_seconds(lit(D0) + fm(k, 1000033L, 0L, SpanSec)).as("ts"),
      fm(k, 7901L, 17L, Users).as("user_id"),
      pick(k, EventTypes).as("event_type"),
      (fm(k, 7877L, 1L, 100000L) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(k, lit(100L)).cast("string"), lit("}")).as("props")))
  }

  /** Base tables + their 10x replica under `dataDir`; returns the replica dir. */
  def ensureData(spark: SparkSession, dataDir: String): String = {
    val base = s"$dataDir/base"
    val x10 = s"$dataDir/x$Factor"
    writeBase(spark, base)
    def scaled(t: String, keys: Seq[String]): Unit =
      graft.tools.ScaleCheck.buildScaled(spark, base, x10, Factor, t, keys)
    scaled("orders", Seq("o_orderkey"))
    scaled("lineitem", Seq("l_orderkey"))
    scaled("events", Seq("event_id", "user_id"))
    x10
  }

  // ---- seeded per-run inputs ------------------------------------------

  /** A replica order key: base key k in replica r. */
  def replicaKey(r: Long, k: Long): Long = r * ReplicaOffset + k

  /** Entity rows: order_id, customer_id, user_id, epoch seconds. */
  final case class EntityFrame(orderId: Array[Long], customerId: Array[Long],
      userId: Array[Long], tsSec: Array[Long]) {
    def size: Int = orderId.length
    def bytes: Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(size * 32)
      (0 until size).foreach { i =>
        b.putLong(orderId(i)).putLong(customerId(i)).putLong(userId(i)).putLong(tsSec(i)) }
      b.array()
    }
  }

  /** Base orders sorted by order time, for drawing orders by date. */
  private lazy val ordersByTime: Array[Long] =
    (1L to Orders).sortBy(orderSec).toArray
  private def firstOrderAtOrAfter(sec: Long): Int = {
    var lo = 0; var hi = ordersByTime.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (orderSec(ordersByTime(m)) < sec) lo = m + 1 else hi = m }
    lo
  }

  /** Entity rows of the driver+customer shape, as a training job asks for
    * them: orders (any replica) placed inside a seeded `days`-long window,
    * each with that order's customer and a random user, at a time within
    * 120 days after the order. Columns: order_id, customer_id, user_id,
    * epoch seconds. */
  def entityFrame(seed: Long, call: Int, rows: Int, days: Long = 90): EntityFrame = {
    val rnd = new SplittableRandom(seed * 1000003L + call)
    val from = D0 + rnd.nextLong((SpanDays - days - 120) * Day)
    val a = firstOrderAtOrAfter(from)
    val b = firstOrderAtOrAfter(from + days * Day)
    val o, c, u, t = new Array[Long](rows)
    (0 until rows).foreach { i =>
      val k = ordersByTime(a + rnd.nextInt(b - a))
      o(i) = replicaKey(rnd.nextLong(Factor), k)
      c(i) = custOf(k)
      u(i) = replicaKey(rnd.nextLong(Factor), rnd.nextLong(Users))
      t(i) = orderSec(k) + rnd.nextLong(120 * Day)
    }
    EntityFrame(o, c, u, t)
  }

  /** A materialize window of `days` days inside the lineitem ship range. */
  def window(seed: Long, call: Int, days: Long): (Long, Long) = {
    val rnd = new SplittableRandom(seed * 7919L + 17L * call + 5)
    val lo = D0 + 30 * Day + rnd.nextLong((SpanDays - 30 - days) * Day)
    (lo, lo + days * Day)
  }

  // ---- feed files for ingest_while_serving ------------------------------

  /** 2024-01-01T00:00:00Z: event time of feed file 0. */
  val FeedT0Ms = 1704067200000L
  /** Probe keys live above the regular key space, one per feed file. */
  val ProbeBase = 1000000000L

  /** Feed file j: `rows` distinct users out of `users`, each with
    * clicks = j, plus the file's probe key; event time grows with j, so
    * the latest file holding a key wins. File 0 holds every user. */
  def feedRows(seed: Long, j: Int, users: Int, rows: Int): Array[Long] =
    if (j == 0) Array.tabulate(users)(_.toLong)
    else {
      val rnd = new SplittableRandom(seed * 131L + j)
      val picked = scala.collection.mutable.LinkedHashSet[Long]()
      while (picked.size < rows) picked += rnd.nextLong(users)
      picked.toArray
    }

  def feedFileBytes(seed: Long, j: Int, users: Int, rows: Int): Array[Byte] = {
    val sb = new StringBuilder
    def line(user: Long, ms: Long): Unit = sb
      .append("{\"user_id\":").append(user)
      .append(",\"ts\":\"").append(java.time.Instant.ofEpochMilli(ms)).append('"')
      .append(",\"clicks\":").append(j.toDouble).append("}\n")
    val tj = FeedT0Ms + j * 1000L
    feedRows(seed, j, users, rows).zipWithIndex.foreach { case (u, i) => line(u, tj + i % 1000) }
    if (j > 0) line(ProbeBase + j, tj)
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}

/** Expected values from the closed forms, independent of the engine. */
object Oracle {
  import Gen._

  private def base(key: Long): Long = Math.floorMod(key, ReplicaOffset)

  /** Lineitem rows of an order: (shipSec, quantity, extPrice). */
  def lines(orderId: Long): Seq[(Long, Double, Double)] = {
    val k = base(orderId)
    (0 until LinesPerOrder).map { l =>
      val i = (k - 1) * LinesPerOrder + l
      (shipSec(i), quantity(i), extPrice(i))
    }
  }

  private lazy val ordersByCustomer: Map[Long, Array[Long]] =
    (1L to Orders).groupBy(custOf).map { case (c, ks) => c -> ks.toArray }
  private lazy val eventsByUser: Map[Long, Array[Long]] =
    (0L until Events).groupBy(userOf).map { case (u, es) => u -> es.toArray }

  /** As-of value: latest row with ts in [t - ttl, t], else None. */
  private def asOf[A](rows: Seq[(Long, A)], t: Long, ttlSec: Long): Option[A] =
    rows.filter { case (ts, _) => ts <= t && ts >= t - ttlSec }
      .maxByOption(_._1).map(_._2)

  def lineAsOf(orderId: Long, t: Long, ttlSec: Long): Option[(Double, Double)] =
    asOf(lines(orderId).map(l => l._1 -> (l._2, l._3)), t, ttlSec)

  def customerAsOf(customerId: Long, t: Long, ttlSec: Long): Option[Double] =
    asOf(ordersByCustomer.getOrElse(customerId, Array.empty[Long]).toSeq
      .map(k => orderSec(k) -> totalPrice(k)), t, ttlSec)

  def userAsOf(userId: Long, t: Long, ttlSec: Long): Option[Double] =
    asOf(eventsByUser.getOrElse(base(userId), Array.empty[Long]).toSeq
      .map(e => eventSec(e) -> eventValue(e)), t, ttlSec)

  /** Latest line of an order among those shipped inside any window
    * (inclusive bounds, epoch seconds): (quantity, extPrice). */
  def latestLineIn(orderId: Long, windows: Seq[(Long, Long)]): Option[(Double, Double)] =
    lines(orderId).filter(l => windows.exists { case (lo, hi) => l._1 >= lo && l._1 <= hi })
      .maxByOption(_._1).map(l => (l._2, l._3))
}
