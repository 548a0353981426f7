package graft.queries

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators.{History, PointInTimeJoin}
import graft.operators.PointInTimeJoin.ViewJoin

/** Event-log lifecycle queries: SCD-2 version history, gap
  * sessionization, regular-grid training snapshots (a PIT-join
  * composition), and one-pass table profiling. Same oracle conventions
  * as CoreQueries (epoch-ms timestamps, rounded double aggregates,
  * unique-key sort).
  */
object HistoryQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.read(s, dir, "events")

  // ---- SCD-2 history -------------------------------------------------

  /** Collapse each user's event_type sequence into validity intervals:
    * the offline store's time-travel table (what the PIT join would
    * read instead of the raw log). Tie-break on event_id for a total
    * order under duplicate timestamps. */
  def scd2History(s: SparkSession, dir: String): DataFrame =
    History.scd2(ev(s, dir), Seq("user_id"), "ts", Seq("event_type"),
        tieBreaks = Seq("event_id"))
      .select(col("user_id"),
        col("event_type"),
        unix_millis(col("valid_from")).as("valid_from_ms"),
        unix_millis(col("valid_to")).as("valid_to_ms"),
        col("version"))
      .orderBy("user_id", "version")

  val scd2HistorySql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |c AS (SELECT user_id, ts, event_id, event_type, rn
      |      FROM o WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
      |iv AS (
      |  SELECT user_id, event_type, ts AS vf,
      |         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt,
      |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
      |  FROM c)
      |SELECT user_id, event_type, epoch_ms(vf) AS valid_from_ms,
      |       epoch_ms(vt) AS valid_to_ms, version
      |FROM iv ORDER BY user_id, version""".stripMargin

  // ---- gap sessionization (batch) ------------------------------------

  private val GapSeconds = 14400L // 4h

  def sessionize(s: SparkSession, dir: String): DataFrame =
    History.sessionize(ev(s, dir), Seq("user_id"), "ts", GapSeconds,
        tieBreaks = Seq("event_id"),
        aggs = Seq(round(sum(col("value")), 6).as("sum_value")))
      .select(col("user_id"), col("session_idx"),
        unix_millis(col("session_start")).as("session_start_ms"),
        unix_millis(col("session_end")).as("session_end_ms"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_idx")

  val sessionizeSql: String =
    s"""WITH x AS (
       |  SELECT user_id, ts, event_id, value,
       |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN pts IS NULL
       |                   OR epoch_us(ts) - epoch_us(pts) > ${GapSeconds * 1000000L}
       |                 THEN 1 ELSE 0 END AS cut
       |  FROM x),
       |s AS (
       |  SELECT *, SUM(cut) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                           ROWS UNBOUNDED PRECEDING) AS session_idx
       |  FROM f)
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |       epoch_ms(MIN(ts)) AS session_start_ms,
       |       epoch_ms(MAX(ts)) AS session_end_ms,
       |       COUNT(*) AS n_events, round(SUM(value), 6) AS sum_value
       |FROM s GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  // ---- regular-grid training snapshots (PIT-join composition) --------

  /** Weekly as-of snapshots of each user's latest event over a 4-point
    * date grid: the "generate training examples at regular intervals"
    * pattern — entity df is a generated grid (distinct keys × date
    * spine), the rest IS the PIT join (ttl = 7 days). The distinct
    * makes the entity plan shuffle-derived. */
  def gridSnapshot(s: SparkSession, dir: String): DataFrame = {
    val events = ev(s, dir)
    val grid = events.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(expr(
          "sequence(timestamp'2024-01-08 00:00:00', timestamp'2024-01-29 00:00:00', interval 7 days)"))
          .as("event_timestamp"))
    val src = DataFrameSource(events, eventTimestampColumn = "ts")
    val view = FeatureView("user_latest", Seq("user"),
      Seq(Feature("event_type", GraftType.Str), Feature("value", GraftType.Dbl)),
      ttl = Duration.ofDays(7), batchSource = src)
    PointInTimeJoin.join(grid,
        Seq(ViewJoin(view, Seq("user_id"), Seq("event_type", "value"),
          events, tieBreakCols = Seq("event_id"))))
      .select(col("user_id"),
        unix_millis(col("event_timestamp")).as("snap_ms"),
        col("event_type"), col("value"))
      .orderBy("user_id", "snap_ms")
  }

  val gridSnapshotSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |g AS (
      |  SELECT u.user_id, t.snap FROM u
      |  CROSS JOIN (SELECT UNNEST(generate_series(TIMESTAMP '2024-01-08',
      |                 TIMESTAMP '2024-01-29', INTERVAL 7 DAY)) AS snap) t),
      |cand AS (
      |  SELECT g.user_id, g.snap, f.event_type, f.value,
      |         ROW_NUMBER() OVER (PARTITION BY g.user_id, g.snap
      |                            ORDER BY f.ts DESC, f.event_id DESC) AS rn
      |  FROM g JOIN events f ON f.user_id = g.user_id
      |   AND f.ts <= g.snap AND f.ts >= g.snap - INTERVAL 7 DAY)
      |SELECT g.user_id, epoch_ms(g.snap) AS snap_ms, c.event_type, c.value
      |FROM g LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      |  ON c.user_id = g.user_id AND c.snap = g.snap
      |ORDER BY g.user_id, snap_ms""".stripMargin

  // ---- nearest as-of join --------------------------------------------

  /** Nearest-direction as-of join ([[graft.operators.NearestJoin]])
    * over the same weekly grid as q_grid_snapshot, tolerance ±3 days:
    * sensor-alignment semantics (closest reading to each anchor, ties
    * backward). The oracle ranks candidates by (|Δt|, direction, ts,
    * event_id) and keeps rank 1. */
  def nearestJoin(s: SparkSession, dir: String): DataFrame = {
    val events = ev(s, dir)
    val grid = events.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(expr(
          "sequence(timestamp'2024-01-08 00:00:00', timestamp'2024-01-29 00:00:00', interval 7 days)"))
          .as("event_timestamp"))
    graft.operators.NearestJoin.join(grid, events, Seq("user_id"),
        Seq("event_type", "value"), java.time.Duration.ofDays(3),
        featureTsCol = "ts", tieBreaks = Seq("event_id"))
      .select(col("user_id"),
        unix_millis(col("event_timestamp")).as("snap_ms"),
        col("event_type"), col("value"),
        unix_millis(col("matched_ts")).as("matched_ts_ms"))
      .orderBy("user_id", "snap_ms")
  }

  val nearestJoinSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |g AS (
      |  SELECT u.user_id, t.snap FROM u
      |  CROSS JOIN (SELECT UNNEST(generate_series(TIMESTAMP '2024-01-08',
      |                 TIMESTAMP '2024-01-29', INTERVAL 7 DAY)) AS snap) t),
      |cand AS (
      |  SELECT g.user_id, g.snap, f.event_type, f.value, f.ts,
      |         ROW_NUMBER() OVER (PARTITION BY g.user_id, g.snap
      |           ORDER BY abs(epoch_us(f.ts) - epoch_us(g.snap)),
      |                    CASE WHEN f.ts <= g.snap THEN 0 ELSE 1 END,
      |                    f.ts, f.event_id) AS rn
      |  FROM g JOIN events f ON f.user_id = g.user_id
      |   AND f.ts >= g.snap - INTERVAL 3 DAY AND f.ts <= g.snap + INTERVAL 3 DAY)
      |SELECT g.user_id, epoch_ms(g.snap) AS snap_ms, c.event_type, c.value,
      |       epoch_ms(c.ts) AS matched_ts_ms
      |FROM g LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      |  ON c.user_id = g.user_id AND c.snap = g.snap
      |ORDER BY g.user_id, snap_ms""".stripMargin

  // ---- time-decayed features -----------------------------------------

  /** Recency-weighted engagement features as of a fixed time:
    * Σ value / (1 + age_days) per user — the decayed-counter family
    * every ranking feature store carries. Hyperbolic decay instead of
    * exponential keeps the per-row arithmetic to IEEE ops both engines
    * execute identically (no libm exp divergence); a narrow
    * projection + one map-side-combinable aggregation, so it runs at
    * scan speed at 100 TB. */
  def decayFeatures(s: SparkSession, dir: String): DataFrame = {
    val asOf = lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    ev(s, dir)
      .filter(col("ts") <= asOf)
      .withColumn("__w",
        col("value") / (lit(1.0) +
          (unix_micros(asOf) - unix_micros(col("ts"))).cast("double") / lit(86400e6)))
      .groupBy(col("user_id"))
      .agg(round(sum(col("__w")), 6).as("decayed_value"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  val decayFeaturesSql: String =
    """SELECT user_id,
      |       round(SUM(value / (1 + CAST(epoch_us(TIMESTAMP '2024-02-01 00:00:00')
      |                  - epoch_us(ts) AS DOUBLE) / 86400e6)), 6) AS decayed_value,
      |       COUNT(*) AS n_events
      |FROM events
      |WHERE ts <= TIMESTAMP '2024-02-01 00:00:00'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Categorical PSI of the event-type mix between the first half of
    * January and the rest — the "did the traffic composition shift"
    * monitor next to the numeric q_feature_drift. The oracle derives
    * the same category spine and #categories smoothing constant from
    * the data. */
  def categoryDrift(s: SparkSession, dir: String): DataFrame = {
    val split = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    val e = ev(s, dir)
    graft.functions.Drift.categoricalPsi(
        e.filter(col("ts") < split), e.filter(col("ts") >= split), "event_type")
      .select(col("psi"), col("n_base"), col("n_cur"))
  }

  val categoryDriftSql: String =
    """WITH b AS (
      |  SELECT coalesce(event_type, '<null>') AS bin, COUNT(*) AS n_base
      |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1),
      |c AS (
      |  SELECT coalesce(event_type, '<null>') AS bin, COUNT(*) AS n_cur
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1),
      |cats AS (SELECT bin FROM b UNION SELECT bin FROM c),
      |k AS (SELECT COUNT(*) AS nbins FROM cats),
      |filled AS (
      |  SELECT cats.bin, coalesce(b.n_base, 0) AS n_base, coalesce(c.n_cur, 0) AS n_cur
      |  FROM cats LEFT JOIN b USING (bin) LEFT JOIN c USING (bin)),
      |p AS (
      |  SELECT n_base, n_cur,
      |         (n_base + 0.5::DOUBLE) / (SUM(n_base) OVER () + 0.5::DOUBLE * k.nbins) AS pb,
      |         (n_cur + 0.5::DOUBLE) / (SUM(n_cur) OVER () + 0.5::DOUBLE * k.nbins) AS pc
      |  FROM filled CROSS JOIN k)
      |SELECT CASE WHEN SUM(n_base) > 0 AND SUM(n_cur) > 0
      |            THEN round(SUM((pc - pb) * ln(pc / pb)), 6) END AS psi,
      |       CAST(SUM(n_base) AS BIGINT) AS n_base,
      |       CAST(SUM(n_cur) AS BIGINT) AS n_cur
      |FROM p""".stripMargin

  // ---- CDC merge-apply ------------------------------------------------

  /** Advance the pre-split latest-per-user snapshot by the post-split
    * event feed treated as a changelog: 'error' events are delete
    * tombstones, everything else upserts (event_type, value). Per user
    * only the LATEST change matters (max_by over (ts, event_id)); the
    * oracle restates the same collapse with ROW_NUMBER and re-applies
    * the op with a full outer join. */
  def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    val split = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    val e = ev(s, dir)
    val base = graft.operators.PullLatest.latestPerKey(
        e.filter(col("ts") < split), Seq("user_id"), "ts", None,
        Seq("event_type", "value"), Seq("event_id"))
      .select("user_id", "event_type", "value")
    val changes = e.filter(col("ts") >= split)
      .withColumn("op", when(col("event_type") === "error", "D").otherwise("U"))
    graft.operators.Merge.cdcApply(base, changes,
        keys = Seq("user_id"), opCol = "op",
        orderCols = Seq("ts", "event_id"), valueCols = Seq("event_type", "value"))
      .select(col("user_id"), col("event_type"),
        round(col("value"), 6).as("value"))
      .orderBy("user_id")
  }

  val cdcMergeSql: String =
    """WITH base AS (
      |  SELECT user_id, event_type, value FROM (
      |    SELECT user_id, event_type, value,
      |           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00')
      |  WHERE rn = 1),
      |net AS (
      |  SELECT user_id, op, event_type, value FROM (
      |    SELECT user_id,
      |           CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |           event_type, value,
      |           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
      |  WHERE rn = 1)
      |SELECT coalesce(n.user_id, b.user_id) AS user_id,
      |       CASE WHEN n.op IS NOT NULL THEN n.event_type ELSE b.event_type END AS event_type,
      |       round(CASE WHEN n.op IS NOT NULL THEN n.value ELSE b.value END, 6) AS value
      |FROM base b FULL OUTER JOIN net n ON b.user_id = n.user_id
      |WHERE n.op IS NULL OR n.op <> 'D'
      |ORDER BY user_id""".stripMargin

  // ---- incremental aggregate state -----------------------------------

  /** Lifetime per-user counters maintained incrementally: state built
    * from the first half of January, merged with the delta from the
    * rest of the log — the oracle recomputes from the FULL log in one
    * pass, pinning merge(fromBatch(a), fromBatch(b)) ==
    * fromBatch(a ∪ b). Derived avg comes from the state at read time
    * (non-mergeable aggregates are never stored). */
  def aggIncremental(s: SparkSession, dir: String): DataFrame = {
    val split = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    val e = ev(s, dir)
    val state = graft.operators.AggState.fromBatch(
      e.filter(col("ts") < split), Seq("user_id"), "value")
    val delta = graft.operators.AggState.fromBatch(
      e.filter(col("ts") >= split), Seq("user_id"), "value")
    graft.operators.AggState.merge(state, delta)
      .select(col("user_id"), col("cnt"),
        round(col("sum"), 6).as("sum_value"),
        col("min").as("min_value"), col("max").as("max_value"),
        // avg from the ROUNDED sum: the raw sums differ across engines
        // in the last ulp (aggregation order), and dividing them can
        // land on opposite sides of the 6-decimal rounding boundary;
        // the rounded sums are bit-identical, so this is deterministic
        round(round(col("sum"), 6) / col("cnt"), 6).as("avg_value"))
      .orderBy("user_id")
  }

  val aggIncrementalSql: String =
    """SELECT user_id, COUNT(value) AS cnt,
      |       round(SUM(value), 6) AS sum_value,
      |       MIN(value) AS min_value, MAX(value) AS max_value,
      |       round(round(SUM(value), 6) / COUNT(value), 6) AS avg_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- declarative validation rules ----------------------------------

  /** Expectation-suite gate over orders: four value-level rules
    * evaluated in one aggregation over one scan. */
  def validateOrders(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Validate
    val o = graft.sources.Tables.read(s, dir, "orders")
    Validate.report(o, Seq(
      Validate.Rule("custkey_nonnull", col("o_custkey").isNotNull),
      Validate.Rule("orderdate_in_range",
        col("o_orderdate").between(
          java.sql.Timestamp.valueOf("1990-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2010-01-01 00:00:00"))),
      Validate.Rule("status_known", col("o_orderstatus").isin("O", "F", "P")),
      Validate.Rule("totalprice_positive", col("o_totalprice") > 0)))
      .orderBy("rule")
  }

  val validateOrdersSql: String =
    """WITH agg AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN NOT coalesce(o_custkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_key,
      |    CAST(SUM(CASE WHEN NOT coalesce(o_orderdate BETWEEN TIMESTAMP '1990-01-01' AND TIMESTAMP '2010-01-01', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
      |    CAST(SUM(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
      |    CAST(SUM(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_price
      |  FROM orders)
      |SELECT 'custkey_nonnull' AS rule, n AS n_rows, v_key AS n_violations, v_key = 0 AS pass FROM agg
      |UNION ALL SELECT 'orderdate_in_range', n, v_date, v_date = 0 FROM agg
      |UNION ALL SELECT 'status_known', n, v_status, v_status = 0 FROM agg
      |UNION ALL SELECT 'totalprice_positive', n, v_price, v_price = 0 FROM agg
      |ORDER BY rule""".stripMargin

  // ---- feature drift (PSI) -------------------------------------------

  /** PSI drift of the event value distribution per event_type between
    * the first half of January (training baseline) and the rest of the
    * log (serving window), over frozen bin edges — the
    * monitoring-the-model's-inputs pass. The oracle reproduces the
    * bins (CASE over the same edges = count of edges ≤ v), the dense
    * group×bin spine, the +0.5 Laplace smoothing, and the Σ(Δp·ln)
    * sum. */
  def featureDrift(s: SparkSession, dir: String): DataFrame = {
    val split = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val e = ev(s, dir)
    graft.functions.Drift.psi(
        e.filter(col("ts") < lit(split)),
        e.filter(col("ts") >= lit(split)),
        "value", Seq(2.0, 5.0, 10.0, 20.0), Seq("event_type"))
      .orderBy("event_type")
  }

  val featureDriftSql: String =
    """WITH binned AS (
      |  SELECT event_type,
      |         CASE WHEN value >= 20 THEN 4 WHEN value >= 10 THEN 3
      |              WHEN value >= 5 THEN 2 WHEN value >= 2 THEN 1 ELSE 0 END AS bin,
      |         ts < TIMESTAMP '2024-01-15 00:00:00' AS is_base
      |  FROM events WHERE value IS NOT NULL),
      |cnt AS (
      |  SELECT event_type, bin,
      |         SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS n_base,
      |         SUM(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS n_cur
      |  FROM binned GROUP BY event_type, bin),
      |spine AS (
      |  SELECT g.event_type, t.bin
      |  FROM (SELECT DISTINCT event_type FROM binned) g,
      |       UNNEST(range(0, 5)) AS t(bin)),
      |filled AS (
      |  SELECT s.event_type, s.bin,
      |         coalesce(c.n_base, 0) AS n_base, coalesce(c.n_cur, 0) AS n_cur
      |  FROM spine s LEFT JOIN cnt c
      |    ON s.event_type IS NOT DISTINCT FROM c.event_type AND s.bin = c.bin),
      |p AS (
      |  SELECT event_type, n_base, n_cur,
      |         (n_base + 0.5::DOUBLE) / (SUM(n_base) OVER (PARTITION BY event_type) + 2.5::DOUBLE) AS pb,
      |         (n_cur + 0.5::DOUBLE) / (SUM(n_cur) OVER (PARTITION BY event_type) + 2.5::DOUBLE) AS pc
      |  FROM filled)
      |SELECT event_type,
      |       CASE WHEN SUM(n_base) > 0 AND SUM(n_cur) > 0
      |            THEN round(SUM((pc - pb) * ln(pc / pb)), 6) END AS psi,
      |       CAST(SUM(n_base) AS BIGINT) AS n_base,
      |       CAST(SUM(n_cur) AS BIGINT) AS n_cur
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- robust (median/MAD) outlier gate ------------------------------

  /** Median/MAD outlier profile per event_type — the robust-statistics
    * complement of [[zscoreNorm]] (one wild value shifts a mean/sd
    * gate; the median/MAD gate holds). Two exact-percentile
    * aggregations (order-independent → cross-engine exact): the 5-row
    * median frame broadcasts back onto the scan for the |v − m|
    * deviations, whose median scales by the normal-consistency
    * constant 1.4826; outliers are |v − m| > 3·1.4826·MAD. At 100 TB
    * swap both percentiles for approx_percentile (same shape,
    * mergeable sketch). */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).filter(col("value").isNotNull)
    // med and mad are ≤ #event_types rows but sit UNDER every
    // downstream consumer's lineage: without the checkpoints the two
    // dev consumers and the final join re-ran the median aggregation
    // (a full events scan) once per reference — five scans where the
    // two-phase algorithm needs three (review r6)
    val med = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("m"))
      .localCheckpoint()
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("__ad", abs(col("value") - col("m")))
    val mad = dev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("m")).as("__m"),
        expr("percentile(__ad, 0.5)").as("__mad"))
      .localCheckpoint()
    val outliers = dev
      .join(broadcast(mad.select(col("event_type"), col("__mad"))), Seq("event_type"))
      .filter(col("__ad") > lit(3.0) * lit(1.4826) * col("__mad"))
      .groupBy("event_type").agg(count(lit(1)).as("n_outliers"))
    mad.select(col("event_type"), col("n"),
        round(col("__m"), 6).as("median"),
        round(col("__mad") * 1.4826, 6).as("sigma_robust"))
      .join(outliers, Seq("event_type"), "left")
      .na.fill(0L, Seq("n_outliers"))
      .orderBy("event_type")
  }

  val madOutliersSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS m
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, e.value, med.m, abs(e.value - med.m) AS ad
      |  FROM events e JOIN med USING (event_type) WHERE e.value IS NOT NULL),
      |mad AS (
      |  SELECT event_type, COUNT(*) AS n, quantile_cont(ad, 0.5) AS mad_raw,
      |         MIN(m) AS m
      |  FROM dev GROUP BY event_type),
      |outl AS (
      |  SELECT d.event_type, COUNT(*) AS n_outliers
      |  FROM dev d JOIN mad USING (event_type)
      |  WHERE d.ad > 3 * 1.4826 * mad.mad_raw
      |  GROUP BY d.event_type)
      |SELECT mad.event_type, mad.n, round(mad.m, 6) AS median,
      |       round(mad.mad_raw * 1.4826, 6) AS sigma_robust,
      |       coalesce(outl.n_outliers, 0) AS n_outliers
      |FROM mad LEFT JOIN outl USING (event_type)
      |ORDER BY event_type""".stripMargin

  // ---- referential integrity audit -----------------------------------

  /** Cross-table referential-integrity check (the dbt-style
    * "relationship" test next to [[validateOrders]]'s row rules): do
    * events.user_id and orders.o_custkey resolve against the customer
    * dimension? One DISTINCT-reduced anti join per relation — the
    * orphan side reduces to its key set BEFORE the join, so the fact
    * tables never reshuffle whole. */
  def refIntegrity(s: SparkSession, dir: String): DataFrame = {
    // dim side deduped: a duplicated dimension key would multiply the
    // joined rows and inflate n_keys
    val cust = graft.sources.Tables.read(s, dir, "customer")
      .select(col("c_custkey").as("k")).distinct().withColumn("__hit", lit(1))
    def audit(rel: String, keys: DataFrame): DataFrame = {
      // ONE pass: count keys and orphans from the same left join — two
      // consumers of the distinct would rescan the fact table (review r6)
      val d = keys.distinct()
      d.join(cust, d("k") <=> cust("k"), "left")
        .agg(count(lit(1)).as("n_keys"),
          sum(col("__hit").isNull.cast("long")).as("n_orphan_keys"))
        .select(lit(rel).as("relation"), col("n_keys"), col("n_orphan_keys"),
          (col("n_orphan_keys") === 0).as("pass"))
    }
    audit("events.user_id->customer", ev(s, dir).select(col("user_id").as("k")))
      .unionByName(audit("orders.o_custkey->customer",
        graft.sources.Tables.read(s, dir, "orders").select(col("o_custkey").as("k"))))
      .orderBy("relation")
  }

  val refIntegritySql: String =
    """WITH e AS (SELECT DISTINCT user_id AS k FROM events),
      |o AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |c AS (SELECT c_custkey AS k FROM customer)
      |SELECT 'events.user_id->customer' AS relation,
      |       (SELECT COUNT(*) FROM e) AS n_keys,
      |       (SELECT COUNT(*) FROM e WHERE k NOT IN (SELECT k FROM c WHERE k IS NOT NULL)
      |          AND k IS NOT NULL) +
      |       (SELECT COUNT(*) FROM e WHERE k IS NULL
      |          AND NOT EXISTS (SELECT 1 FROM c WHERE k IS NULL)) AS n_orphan_keys,
      |       ((SELECT COUNT(*) FROM e WHERE k NOT IN (SELECT k FROM c WHERE k IS NOT NULL)
      |          AND k IS NOT NULL) +
      |        (SELECT COUNT(*) FROM e WHERE k IS NULL
      |          AND NOT EXISTS (SELECT 1 FROM c WHERE k IS NULL))) = 0 AS pass
      |UNION ALL
      |SELECT 'orders.o_custkey->customer',
      |       (SELECT COUNT(*) FROM o),
      |       (SELECT COUNT(*) FROM o WHERE k NOT IN (SELECT k FROM c WHERE k IS NOT NULL)
      |          AND k IS NOT NULL) +
      |       (SELECT COUNT(*) FROM o WHERE k IS NULL
      |          AND NOT EXISTS (SELECT 1 FROM c WHERE k IS NULL)),
      |       ((SELECT COUNT(*) FROM o WHERE k NOT IN (SELECT k FROM c WHERE k IS NOT NULL)
      |          AND k IS NOT NULL) +
      |        (SELECT COUNT(*) FROM o WHERE k IS NULL
      |          AND NOT EXISTS (SELECT 1 FROM c WHERE k IS NULL))) = 0
      |ORDER BY relation""".stripMargin

  // ---- recent-history array feature ----------------------------------

  /** Each user's last-3 event types, most recent first, as ONE array
    * feature — the "recent actions" sequence feature every ranking
    * model consumes. The cut rides [[graft.functions.Quota.topKPerKey]]'s
    * bounded heap (≤ k rows per (key, map task) on the shuffle — a
    * window row_number would ship hot users whole), ordered by a
    * negated-μs recency key with the negated event id as tiebreak;
    * reassembly is one more hash aggregation and the array is emitted
    * as CSV so the hash compare stays scalar. */
  def recentHistory(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).filter(col("ts").isNotNull)
      .select(col("user_id"),
        (-unix_micros(col("ts"))).as("__neg_ts"),
        (-col("event_id")).as("__neg_id"),
        col("event_type"))
    graft.functions.Quota.topKPerKey(e, "user_id", "__neg_ts", 3)
      .groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__neg_ts"), col("__neg_id"), col("event_type")))),
        r => r.getField("event_type")), ",").as("recent_types"),
        count(lit(1)).as("n_recent"))
      .orderBy("user_id")
  }

  val recentHistorySql: String =
    """SELECT user_id,
      |       array_to_string(list(event_type ORDER BY ts DESC, event_id DESC)[1:3], ',')
      |         AS recent_types,
      |       least(COUNT(*), 3) AS n_recent
      |FROM events WHERE ts IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- group-aware train/eval split ----------------------------------

  /** Deterministic GROUP-level train/eval split: the md5-threshold coin
    * flips once per USER (the [[graft.functions.Dedup.mixtureSample]]
    * primitive applied to the group key), so every event of a user
    * lands on one side — the split that prevents per-user leakage
    * across train and eval, vs a row-level sample that puts half a
    * user's history in each. Narrow projection + one aggregation;
    * replayable on any engine with md5. */
  def groupSplit(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val h = substring(md5(concat(lit("split:"), col("user_id").cast("string")).cast("binary")), 1, 8)
    val thr = lit(f"${math.floor(0.8 * 4294967296.0).toLong}%08x")
    e.withColumn("split", when(h < thr, "train").otherwise("eval"))
      .groupBy("split")
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy("split")
  }

  val groupSplitSql: String =
    """SELECT CASE WHEN substr(md5('split:' || CAST(user_id AS VARCHAR)), 1, 8)
      |            < printf('%08x', CAST(floor(0.8 * 4294967296.0) AS BIGINT))
      |            THEN 'train' ELSE 'eval' END AS split,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS n_events,
      |       round(SUM(value), 4) AS sum_value
      |FROM events GROUP BY 1 ORDER BY split""".stripMargin

  // ---- feature standardization ---------------------------------------

  /** Per-event-type z-score standardization of the value column — the
    * feature-scaling transform in front of model training. Determinism
    * contract: mean and variance derive from ROUNDED sums (s1, s2) via
    * a fixed formula, so both engines fold identical doubles from
    * identical inputs (raw float sums differ in the last ulp across
    * aggregation orders; the 6-decimal round is far above ulp at this
    * magnitude). Two passes: a 5-row stats aggregate (map-side
    * combinable), broadcast-joined back onto the scan — nothing
    * corpus-sized shuffles at any scale. */
  def zscoreNorm(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).filter(col("value").isNotNull)
    val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 6).as("s1"),
        round(sum(col("value") * col("value")), 6).as("s2"))
      .withColumn("mean", round(col("s1") / col("cnt"), 6))
      .withColumn("sd", round(sqrt(round(
        (col("s2") - col("mean") * col("s1")) / (col("cnt") - 1), 6)), 6))
      .select("event_type", "mean", "sd")
    e.join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - col("mean")) / col("sd"), 4).as("z"))
      .orderBy("event_id")
  }

  val zscoreNormSql: String =
    """WITH st AS (
      |  SELECT event_type, COUNT(*) AS cnt,
      |         round(SUM(value), 6) AS s1,
      |         round(SUM(value * value), 6) AS s2
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
      |d AS (SELECT event_type, cnt, s1, s2, round(s1 / cnt, 6) AS mean FROM st),
      |f AS (SELECT event_type, mean,
      |             round(sqrt(round((s2 - mean * s1) / (cnt - 1), 6)), 6) AS sd
      |      FROM d)
      |SELECT e.event_id, e.event_type, e.value,
      |       round((e.value - f.mean) / f.sd, 4) AS z
      |FROM events e JOIN f USING (event_type)
      |WHERE e.value IS NOT NULL
      |ORDER BY e.event_id""".stripMargin

  // ---- KS drift -------------------------------------------------------

  /** Exact Kolmogorov–Smirnov drift of the event value distribution per
    * event_type across the same Jan-15 split as q_feature_drift — the
    * edge-free companion statistic. Integer d_num makes the oracle
    * trivial: DuckDB replays the cumulative-count window and the same
    * single division. */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val split = lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    val e = ev(s, dir)
    graft.functions.Drift.ks(
        e.filter(col("ts") < split), e.filter(col("ts") >= split),
        "value", Seq("event_type"))
      .orderBy("event_type")
  }

  val ksDriftSql: String =
    """WITH b AS (
      |  SELECT event_type, value AS v, COUNT(*) AS nb FROM events
      |  WHERE ts < TIMESTAMP '2024-01-15 00:00:00' AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, value AS v, COUNT(*) AS nc FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND value IS NOT NULL
      |  GROUP BY 1, 2),
      |m AS (
      |  SELECT coalesce(b.event_type, c.event_type) AS g,
      |         coalesce(b.v, c.v) AS v,
      |         coalesce(nb, 0) AS nb, coalesce(nc, 0) AS nc
      |  FROM b FULL OUTER JOIN c
      |    ON b.event_type IS NOT DISTINCT FROM c.event_type AND b.v = c.v),
      |r AS (
      |  SELECT g, v,
      |         SUM(nb) OVER (PARTITION BY g ORDER BY v
      |                       ROWS UNBOUNDED PRECEDING) AS cb,
      |         SUM(nc) OVER (PARTITION BY g ORDER BY v
      |                       ROWS UNBOUNDED PRECEDING) AS cc,
      |         SUM(nb) OVER (PARTITION BY g) AS n1,
      |         SUM(nc) OVER (PARTITION BY g) AS n2
      |  FROM m)
      |SELECT g AS event_type,
      |       CASE WHEN MAX(n1) > 0 AND MAX(n2) > 0 THEN
      |         round(CAST(MAX(abs(cb * n2 - cc * n1)) AS DOUBLE)
      |               / (CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE)), 6)
      |       END AS ks,
      |       CAST(MAX(abs(cb * n2 - cc * n1)) AS BIGINT) AS d_num,
      |       CAST(MAX(n1) AS BIGINT) AS n_base,
      |       CAST(MAX(n2) AS BIGINT) AS n_cur
      |FROM r GROUP BY g ORDER BY event_type""".stripMargin

  // ---- one-pass table profiling --------------------------------------

  /** Data-quality profile of selected orders columns — row count, null
    * count, exact distinct count, numeric min/max — in ONE aggregation
    * over one scan (Catalyst plans the multi-column distinct via
    * Expand: rows multiply by #distinct-columns, but the table is
    * still read once; at 100 TB swap count_distinct for
    * approx_count_distinct and the Expand disappears). Emitted long
    * (one row per column) so new columns never change the schema. */
  def profile(s: SparkSession, dir: String): DataFrame = {
    val o = graft.sources.Tables.read(s, dir, "orders")
    val agg = o.agg(
      count(lit(1)).as("n"),
      sum(col("o_custkey").isNull.cast("long")).as("nulls_custkey"),
      count_distinct(col("o_custkey")).as("nd_custkey"),
      min(col("o_custkey")).cast("double").as("min_custkey"),
      max(col("o_custkey")).cast("double").as("max_custkey"),
      sum(col("o_orderstatus").isNull.cast("long")).as("nulls_status"),
      count_distinct(col("o_orderstatus")).as("nd_status"),
      sum(col("o_totalprice").isNull.cast("long")).as("nulls_price"),
      count_distinct(col("o_totalprice")).as("nd_price"),
      round(min(col("o_totalprice")), 6).as("min_price"),
      round(max(col("o_totalprice")), 6).as("max_price"))
    agg.select(expr(
      """stack(3,
        |  'o_custkey', n, nulls_custkey, nd_custkey, min_custkey, max_custkey,
        |  'o_orderstatus', n, nulls_status, nd_status, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_totalprice', n, nulls_price, nd_price, min_price, max_price)
        |AS (col_name, n, n_nulls, n_distinct, min_num, max_num)""".stripMargin))
      .orderBy("col_name")
  }

  val profileSql: String =
    """SELECT 'o_custkey' AS col_name, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |       COUNT(DISTINCT o_custkey) AS n_distinct,
      |       CAST(MIN(o_custkey) AS DOUBLE) AS min_num,
      |       CAST(MAX(o_custkey) AS DOUBLE) AS max_num
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderstatus', COUNT(*),
      |       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       COUNT(DISTINCT o_orderstatus), NULL, NULL
      |FROM orders
      |UNION ALL
      |SELECT 'o_totalprice', COUNT(*),
      |       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       COUNT(DISTINCT o_totalprice),
      |       round(MIN(o_totalprice), 6), round(MAX(o_totalprice), 6)
      |FROM orders
      |ORDER BY col_name""".stripMargin

  // ---- feature freshness / staleness SLA -----------------------------

  private val FreshAsOfUs = 1706745600000000L // 2024-02-01 00:00:00 UTC, micros
  private val FreshSlaDays = 7L

  /** Per-view freshness audit — the batch face of the reference's
    * ingestion row-lag metrics (docs/reference/metrics-reference.md:104-115
    * `feast_ingestion_feature_row_lag_seconds`) and of the serving-side
    * OUTSIDE_MAX_AGE gate: each key's lag = asOf − its latest event, per
    * event_type the key count, exact p50/p95/max lag seconds and how
    * many keys breach a 7-day SLA. Two hash aggregations (key-grained
    * then type-grained), lag kept in integer MICROS until the final
    * projection so the percentile inputs are exact on both engines; the
    * approx_percentile swap documented at [[madOutliers]] applies
    * unchanged at 100 TB. */
  def freshness(s: SparkSession, dir: String): DataFrame = {
    val perKey = ev(s, dir)
      .groupBy("event_type", "user_id")
      .agg(max(col("ts")).as("__mx"))
      .withColumn("__lag_us", lit(FreshAsOfUs) - unix_micros(col("__mx")))
    perKey.groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        expr("percentile(__lag_us, 0.5)").as("__p50"),
        expr("percentile(__lag_us, 0.95)").as("__p95"),
        max(col("__lag_us")).as("__mxl"),
        sum((col("__lag_us") > FreshSlaDays * 86400L * 1000000L).cast("long"))
          .as("n_stale"))
      .select(col("event_type"), col("n_keys"),
        round(col("__p50") / 1000000.0, 6).as("p50_lag_s"),
        round(col("__p95") / 1000000.0, 6).as("p95_lag_s"),
        round(col("__mxl") / lit(1000000.0), 6).as("max_lag_s"),
        col("n_stale"))
      .orderBy("event_type")
  }

  val freshnessSql: String =
    s"""WITH pk AS (
       |  SELECT event_type, user_id,
       |         $FreshAsOfUs - epoch_us(max(ts)) AS lag_us
       |  FROM events GROUP BY event_type, user_id)
       |SELECT event_type,
       |       CAST(count(*) AS BIGINT) AS n_keys,
       |       round(quantile_cont(lag_us, 0.5) / 1000000.0, 6) AS p50_lag_s,
       |       round(quantile_cont(lag_us, 0.95) / 1000000.0, 6) AS p95_lag_s,
       |       round(max(lag_us) / 1000000.0, 6) AS max_lag_s,
       |       CAST(sum(CASE WHEN lag_us > ${FreshSlaDays * 86400L * 1000000L}
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_stale
       |FROM pk GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- purged temporal split -----------------------------------------

  /** Time-based train/test split with an EMBARGO gap (the purged split
    * of financial ML, López de Prado 2018 §7): gap rows belong to
    * NEITHER side — they are kept in the output LABELED 'embargo' so a
    * consumer filters `split = 'train'` / `split = 'test'` and the gap
    * rows fall out of both (training on everything not labeled 'test'
    * would re-create exactly the leakage the purge exists to prevent —
    * the labeling makes the exclusion auditable instead of silent).
    * Train before Jan 20, a 2-day embargo, test from Jan 22. A pure
    * narrow projection — no shuffle, no state, reproducible at any
    * scale. */
  def purgedSplit(s: SparkSession, dir: String): DataFrame = {
    val c1 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val c2 = java.sql.Timestamp.valueOf("2024-01-22 00:00:00")
    ev(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        when(col("ts") < lit(c1), "train")
          .when(col("ts") < lit(c2), "embargo")
          .otherwise("test").as("split"))
      .orderBy("event_id")
  }

  val purgedSplitSql: String =
    """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
      |       CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 'train'
      |            WHEN ts < TIMESTAMP '2024-01-22' THEN 'embargo'
      |            ELSE 'test' END AS split
      |FROM events ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_purged_split" -> (purgedSplit _),
    "q_freshness" -> (freshness _),
    "q_scd2_history" -> (scd2History _),
    "q_sessionize" -> (sessionize _),
    "q_grid_snapshot" -> (gridSnapshot _),
    "q_decay_features" -> (decayFeatures _),
    "q_feature_drift" -> (featureDrift _),
    "q_category_drift" -> (categoryDrift _),
    "q_agg_incremental" -> (aggIncremental _),
    "q_validate" -> (validateOrders _),
    "q_profile" -> (profile _),
    "q_cdc_merge" -> (cdcMerge _),
    "q_ks_drift" -> (ksDrift _),
    "q_nearest_join" -> (nearestJoin _),
    "q_zscore" -> (zscoreNorm _),
    "q_recent_history" -> (recentHistory _),
    "q_group_split" -> (groupSplit _),
    "q_mad_outliers" -> (madOutliers _),
    "q_ref_integrity" -> (refIntegrity _))

  val oracles: Map[String, String] = Map(
    "q_freshness" -> freshnessSql,
    "q_purged_split" -> purgedSplitSql,
    "q_scd2_history" -> scd2HistorySql,
    "q_sessionize" -> sessionizeSql,
    "q_grid_snapshot" -> gridSnapshotSql,
    "q_decay_features" -> decayFeaturesSql,
    "q_feature_drift" -> featureDriftSql,
    "q_category_drift" -> categoryDriftSql,
    "q_agg_incremental" -> aggIncrementalSql,
    "q_validate" -> validateOrdersSql,
    "q_profile" -> profileSql,
    "q_cdc_merge" -> cdcMergeSql,
    "q_ks_drift" -> ksDriftSql,
    "q_nearest_join" -> nearestJoinSql,
    "q_zscore" -> zscoreNormSql,
    "q_recent_history" -> recentHistorySql,
    "q_group_split" -> groupSplitSql,
    "q_mad_outliers" -> madOutliersSql,
    "q_ref_integrity" -> refIntegritySql)
}
