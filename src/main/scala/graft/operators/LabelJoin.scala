package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Forward as-of (label) join — the time-reversed dual of
  * [[PointInTimeJoin]]: for each entity row, attach the EARLIEST
  * feature/outcome row with `event_ts` strictly AFTER the entity
  * timestamp and within `horizon`. This is the label-construction step
  * of a training pipeline ("the outcome observed after the prediction
  * point"), with the strict lower edge as the leakage guard: a row AT
  * the prediction instant is a feature, not a label (the reference's
  * backward join is inclusive for exactly the symmetric reason,
  * bigquery.py:613-617).
  *
  * Same scale shape as the backward join: one forward pass of the
  * sort-merge as-of exec ([[graft.plans.AsOfJoin]]) taking the min of
  * (label_ts, tieBreaks, payload), so no candidate rows materialize and
  * each side shuffles once. The label scan is bounded by
  * (min(entity_ts), max(entity_ts) + horizon] literals, pushed to parquet
  * row-group skipping.
  */
object LabelJoin {

  /** @param entityDf   rows to label; must contain `joinKeys` and `entityTsCol`
    * @param labelDf    outcome source; must contain `joinKeys`, `labelTsCol`, `labelCols`
    * @param horizon    max lookahead; the label must satisfy
    *                   entity_ts < label_ts <= entity_ts + horizon
    * @param tieBreaks  extra ascending order columns after label_ts (a
    *                   total order makes the winner deterministic when
    *                   two outcomes share a timestamp) */
  def join(
      entityDf: DataFrame,
      labelDf: DataFrame,
      joinKeys: Seq[String],
      labelCols: Seq[String],
      horizon: java.time.Duration,
      entityTsCol: String = PointInTimeJoin.DefaultEntityTsCol,
      labelTsCol: String = "event_timestamp",
      tieBreaks: Seq[String] = Nil): DataFrame = {
    require(!horizon.isNegative && !horizon.isZero, "horizon must be positive")
    require(joinKeys.nonEmpty,
      "joinKeys must be non-empty (a global un-keyed label join would " +
        "cross-join the label table against every entity row — add a " +
        "constant key column deliberately if that is really intended)")
    // a pre-existing output column would silently duplicate in the
    // joined frame and break any later select
    val outClash = (labelCols :+ "label_ts").intersect(entityDf.columns)
    require(outClash.isEmpty,
      s"entity df already has output column(s) ${outClash.mkString(", ")} — " +
        "rename or drop them before the label join")
    val t = graft.plans.AsOfJoin.tsType(entityDf.schema(entityTsCol).dataType,
      labelDf.schema(labelTsCol).dataType, horizon)

    // Scan bounds, computed once (the forward mirror of the backward
    // join's O5 pruning): labels live in (min_ts, max_ts + horizon].
    // Shared with the PIT join: metadata-only from parquet footers when
    // the entity plan allows (zero Spark jobs), else the tiny agg — a
    // footer SUPERSET of the true bounds only widens the label window,
    // never drops a match.
    val (mn, mx) = PointInTimeJoin.entityBounds(entityDf, entityTsCol, t)

    val ordCols = (labelTsCol +: tieBreaks).distinct
    var lab = labelDf.select((joinKeys ++ ordCols ++ labelCols).distinct.map(col): _*)
    if (mn != null) lab = lab.filter(col(labelTsCol) > lit(mn))
    if (mx != null) lab = lab.filter(col(labelTsCol) <= lit(PointInTimeJoin.shift(mx, horizon)))
    // earliest outcome strictly after the anchor: (label_ts, tiebreaks)
    // ascending, the payload tail pinning determinism
    graft.plans.AsOfJoin.join0(entityDf, lab, joinKeys, entityTsCol, labelTsCol, horizon,
      ordCols.tail, labelCols.map(f => f -> f) :+ ("label_ts" -> labelTsCol),
      graft.plans.AsOfDirection.Forward)
  }
}
