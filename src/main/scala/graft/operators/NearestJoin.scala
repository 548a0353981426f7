package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Nearest as-of join — the third direction of the as-of family next
  * to the backward [[PointInTimeJoin]] and the forward [[LabelJoin]]:
  * for each entity row, attach the feature row with the SMALLEST
  * absolute timestamp distance within a symmetric `tolerance`
  * (pandas `merge_asof(direction="nearest")`). Ties at equal distance
  * resolve BACKWARD (the row at or before the anchor wins — the
  * leakage-conservative choice), then by the smallest (`tieBreaks`,
  * payload).
  *
  * Same scale shape as its two siblings: the feature scan is bounded
  * by [min(entity_ts) − tolerance, max(entity_ts) + tolerance]
  * literals (pushed to parquet), then one nearest pass of the
  * sort-merge as-of exec ([[graft.plans.AsOfJoin]]): each side shuffles
  * once and no candidate rows materialize.
  */
object NearestJoin {

  def join(
      entityDf: DataFrame,
      featureDf: DataFrame,
      joinKeys: Seq[String],
      featureCols: Seq[String],
      tolerance: java.time.Duration,
      entityTsCol: String = PointInTimeJoin.DefaultEntityTsCol,
      featureTsCol: String = "event_timestamp",
      tieBreaks: Seq[String] = Nil): DataFrame = {
    require(!tolerance.isNegative && !tolerance.isZero, "tolerance must be positive")
    require(joinKeys.nonEmpty,
      "joinKeys must be non-empty (an un-keyed nearest join would " +
        "cross-join the feature table against every entity row)")
    val outClash = (featureCols :+ "matched_ts").intersect(entityDf.columns)
    require(outClash.isEmpty,
      s"entity df already has output column(s) ${outClash.mkString(", ")} — " +
        "rename or drop them before the nearest join")
    val t = graft.plans.AsOfJoin.tsType(entityDf.schema(entityTsCol).dataType,
      featureDf.schema(featureTsCol).dataType, tolerance)

    // shared zero-job footer-bounds path (agg fallback) — a footer
    // SUPERSET of the true bounds only widens the ±tolerance window
    val (mn, mx) = PointInTimeJoin.entityBounds(entityDf, entityTsCol, t)

    val ordCols = (featureTsCol +: tieBreaks).distinct
    var feat = featureDf.select((joinKeys ++ ordCols ++ featureCols).distinct.map(col): _*)
    if (mn != null) feat = feat.filter(col(featureTsCol) >=
      lit(PointInTimeJoin.shift(mn, tolerance.negated)))
    if (mx != null) feat = feat.filter(col(featureTsCol) <=
      lit(PointInTimeJoin.shift(mx, tolerance)))
    graft.plans.AsOfJoin.join0(entityDf, feat, joinKeys, entityTsCol, featureTsCol, tolerance,
      ordCols.tail, featureCols.map(f => f -> f) :+ ("matched_ts" -> featureTsCol),
      graft.plans.AsOfDirection.Nearest)
  }
}
