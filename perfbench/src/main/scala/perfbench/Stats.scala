package perfbench

/** Order statistics for timings. A tail percentile is only reported when
  * at least ten samples lie beyond it (p99 needs >= 1000 samples, p90 >=
  * 100), so a tail figure is never read off a handful of points. */
object Stats {

  val MinBeyond = 10

  /** Nearest-rank percentile of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie above its rank. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile must be in (0, 1): $p")
    val n = xs.size
    val rank = math.max(0, math.ceil(p * n - 1e-9).toInt - 1)
    if (n == 0 || n - 1 - rank < MinBeyond) None
    else Some(xs.toArray.sorted.apply(rank))
  }

  /** Smallest sample count at which `percentile(_, p)` reports. */
  def minSamples(p: Double): Int =
    Iterator.from(1).find(n => n - math.ceil(p * n - 1e-9).toInt >= MinBeyond).get

  /** Median; a central value needs no tail guard. */
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.toArray.sorted
      val n = s.length
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }

  def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)
}
