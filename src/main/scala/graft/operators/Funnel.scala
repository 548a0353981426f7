package graft.operators

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-step funnel conversion and cohort retention — the two
  * classic event-log analytics every product/growth pipeline runs next
  * to sessionization (reference scope: the events stream table the
  * feature store ingests; these are the batch reporting faces of the
  * same log).
  *
  * Shape at 100 TB (both operators): every stage is a key-grained hash
  * aggregation or an equi-join on the user key — the event log itself
  * is never window-sorted and never shuffled whole more than once per
  * step, and each step's frame is USER-grained (≤ one row per user),
  * shrinking monotonically down the funnel. No driver-side iteration:
  * the whole funnel is one declarative plan.
  */
object Funnel {

  /** Strict-order funnel: a user reaches step i+1 at the earliest
    * event of `steps(i+1)` STRICTLY after their step-i time (and
    * within `maxGap` of it, when set). Step 1 is the earliest
    * occurrence of `steps.head`. Returns one row per step:
    * (step, step_name, n_users, pct_of_first).
    *
    * Strictly-after on the raw timestamp makes the definition
    * tie-stable without a tiebreak column: two events at the same
    * microsecond never chain into each other, on any engine.
    */
  def funnel(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      stepCol: String,
      steps: Seq[String],
      maxGap: Option[Duration] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // a zero/negative gap makes the strictly-after + within-gap pair
    // unsatisfiable: steps 2..n would silently report 0 users
    require(maxGap.forall(g => !g.isNegative && !g.isZero),
      s"maxGap must be positive when set, got ${maxGap.get}")

    // step frames: (user, __t = time the user reached this step)
    val first = df.filter(col(stepCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    val frames = steps.tail.scanLeft(first) { (prev, step) =>
      val p = prev.select(col(userCol), col("__t").as("__pt"))
      val gapOk: Column = maxGap match {
        case Some(g) =>
          // (seconds, nanos) → micros directly: Duration.toNanos
          // overflows at ~292 years where long micros carry to ~292k
          // (the as-of window's rendering in AsOfJoin.join0)
          unix_micros(col(tsCol)) <=
            unix_micros(col("__pt")) + lit(g.getSeconds * 1000000L + g.getNano / 1000L)
        case None => lit(true)
      }
      df.filter(col(stepCol) === step)
        .join(p, Seq(userCol))
        .filter(col(tsCol) > col("__pt") && gapOk)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    }

    // one count row per step; frames are user-grained so each agg is a
    // map-side-combinable count of an already-reduced subtree
    val counts = frames.zip(steps).zipWithIndex.map { case ((f, name), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_ unionByName _)
    // pct_of_first via a one-row broadcast of the step-1 count — the
    // funnel summary is #steps rows, nothing here touches data scale
    val base = counts.filter(col("step") === 1)
      .select(col("n_users").as("__n1"))
    // guard the empty-funnel edge: with no step-1 users Spark's Divide
    // yields NULL but IEEE engines yield inf/nan — NULL explicitly so
    // the semantics are engine-independent
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("step_name"), col("n_users"),
        when(col("__n1") > 0,
          round(col("n_users").cast("double") / col("__n1"), 6))
          .as("pct_of_first"))
      .orderBy("step")
  }

  /** Cohort retention matrix: cohort = the user's first-event period
    * (integer index of `periodDays`-day periods since `originUs`,
    * floor-div on integer micros — identical on every engine);
    * activity = the distinct (user, period) pairs. Returns one row per
    * (cohort_period, period_offset): n_active, n_cohort, retention
    * (n_active / n_cohort, 6dp).
    *
    * Three key-grained hash aggregations (user → (user, period) →
    * (cohort, offset)) and one user-key equi-join; the output is
    * cohort×offset-sized. Offset 0 rows equal the cohort size by
    * construction (a user's first event is activity in their cohort
    * period).
    */
  def retention(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      originUs: Long,
      periodDays: Int = 7): DataFrame = {
    require(periodDays > 0, s"periodDays must be positive, got $periodDays")
    val periodUs = periodDays * 86400L * 1000000L
    // TRUE floor division on integer micros: `div` truncates toward
    // zero, which would fold the full period BEFORE the origin into
    // cohort 0 (e.g. origin−1s div week = 0, silently inflating
    // cohort 0). Subtracting the nonnegative pmod remainder makes the
    // dividend exactly divisible, so truncation equals floor and every
    // pre-origin event lands in a visibly negative cohort. The user's
    // ts column is bound via the Column API (a raw interpolation into
    // expr() misparses names like "t-s" as arithmetic); only the
    // internal __us name reaches the SQL string — `div` (exact long
    // division; a double quotient loses micros past 2^53) has no
    // Column-API form. Null-ts events carry no cohort information and
    // would otherwise flow through min/distinct into phantom
    // (cohort, NULL-offset) rows — excluded up front.
    val withP = df
      .filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"),
        (unix_micros(col(tsCol)) - lit(originUs)).as("__us"))
      .select(col("__u"),
        expr(s"(__us - pmod(__us, ${periodUs}L)) div ${periodUs}L").as("__p"))
    val cohorts = withP.groupBy("__u").agg(min("__p").as("__cohort"))
    val activity = withP.distinct()
    val joined = activity.join(cohorts, Seq("__u"))
      .groupBy(col("__cohort"), (col("__p") - col("__cohort")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cohorts.groupBy("__cohort").agg(count(lit(1)).as("n_cohort"))
    joined.join(sizes, Seq("__cohort"))
      .select(col("__cohort").as("cohort_period"), col("period_offset"),
        col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 6).as("retention"))
      .orderBy("cohort_period", "period_offset")
  }
}
