package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Nearest as-of join — the third direction of the as-of family next
  * to the backward [[PointInTimeJoin]] and the forward [[LabelJoin]]:
  * for each entity row, attach the feature row with the SMALLEST
  * absolute timestamp distance within a symmetric `tolerance`
  * (pandas `merge_asof(direction="nearest")`). Ties at equal distance
  * resolve BACKWARD (the row at or before the anchor wins — the
  * leakage-conservative choice), then by `tieBreaks`.
  *
  * Same scale shape as its two siblings: the feature scan is bounded
  * by [min(entity_ts) − tolerance, max(entity_ts) + tolerance]
  * literals (pushed to parquet), and the winner per entity row comes
  * from the shared kernel ([[PointInTimeJoin.winners]]) with `min_by`
  * over a (distance, direction) order prefix.
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
    val (stamped, rowId) = PointInTimeJoin.stamp(entityDf)

    // shared zero-job footer-bounds path (agg fallback) — a footer
    // SUPERSET of the true bounds only widens the ±tolerance window
    val (mnTs, mxTs) = PointInTimeJoin.entityBounds(stamped, entityTsCol)

    val ordCols = (featureTsCol +: tieBreaks).distinct
    var feat = featureDf.select((joinKeys ++ ordCols ++ featureCols).distinct.map(col): _*)
    if (mnTs != null) feat = feat.filter(col(featureTsCol) >=
      lit(java.sql.Timestamp.from(mnTs.toInstant.minus(tolerance))))
    if (mxTs != null) feat = feat.filter(col(featureTsCol) <=
      lit(java.sql.Timestamp.from(mxTs.toInstant.plus(tolerance))))
    val tolInterval = PointInTimeJoin.durationInterval(tolerance)
    val winners = PointInTimeJoin.winners(stamped, rowId, entityTsCol, joinKeys,
      feat, featureTsCol,
      (l, r) => r(featureTsCol) >= l(entityTsCol) - tolInterval &&
        r(featureTsCol) <= l(entityTsCol) + tolInterval,
      // winner order: distance, then direction (backward first), then
      // the user tiebreaks; the kernel appends the payload tail
      (l, r) => {
        val absDiff = abs(unix_micros(r(featureTsCol)) - unix_micros(l(entityTsCol)))
        val dirFlag = when(r(featureTsCol) <= l(entityTsCol), 0).otherwise(1)
        absDiff +: dirFlag +: ordCols.map(r)
      },
      featureCols.map(f => f -> f) :+ ("matched_ts" -> featureTsCol), min_by)

    stamped.join(winners, Seq(rowId), "left").drop(rowId)
  }
}
