package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC merge-apply: advance a keyed snapshot by a changelog of
  * upserts and delete tombstones — the MERGE INTO / "apply the CDC
  * feed" operator a batch feature store runs between materializations
  * (the reference's online stores apply the same last-write-wins
  * semantics row-at-a-time on write, `online_stores/sqlite.py:76-128`;
  * this is the set-oriented offline form).
  *
  * Semantics: per key, the changelog collapses to its net change
  * ([[netChanges]]: the LATEST row in `orderCols` order — last-write-wins,
  * intermediate changes never matter). If that row's op is `deleteOp`
  * the key is dropped (even if absent from the base: a delete for an
  * unseen key is a no-op); otherwise its values replace the base row
  * (or insert a new key). Keys without changes pass through unchanged.
  *
  * Shape at 100 TB: the changelog reduces map-side (max_by partial
  * aggregation) BEFORE its shuffle — a billion-row feed for a key
  * ships one candidate per map task — then ONE full-outer hash
  * equi-join against the base on the key. No window over the base, no
  * sort of either side; bucketed base layouts co-locate the join
  * entirely.
  */
object Merge {

  def cdcApply(
      base: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      opCol: String,
      orderCols: Seq[String],
      valueCols: Seq[String],
      deleteOp: String = "D"): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val net = netChanges(changes, keys, opCol, orderCols, valueCols)
      .withColumnRenamed(opCol, "__op")
      .alias("__n")

    val b = base.alias("__b")
    def B(c: String): Column = col(s"__b.$c")
    def N(c: String): Column = col(s"__n.$c")
    val keyCond = keys.map(k => B(k) <=> N(k)).reduce(_ && _)
    val hasNet = N("__op").isNotNull

    b.join(net, keyCond, "full_outer")
      .filter(N("__op").isNull || N("__op") =!= lit(deleteOp))
      .select(
        keys.map(k => coalesce(N(k), B(k)).as(k)) ++
          valueCols.map(c => when(hasNet, N(c)).otherwise(B(c)).as(c)): _*)
  }

  /** The net change per key of a changelog: its LATEST row by
    * `orderCols`, carrying its op — [[PullLatest.latestPerKey]] with the
    * op first in the payload, so at an exact `orderCols` tie the
    * greater op wins (an upsert `U` beats a delete `D`) before any value
    * is compared. Shared by [[cdcApply]] and the CDC stream
    * ([[graft.streaming.StreamMaterializer.materializeCdcStream]]), so
    * one feed collapses identically on both. Every row must carry an op:
    * a NULL op fails the job loudly, even on a row a later change would
    * supersede. Output: `keys`, `orderCols`, `opCol`, then `valueCols`. */
  def netChanges(
      changes: DataFrame,
      keys: Seq[String],
      opCol: String,
      orderCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty (LWW needs a total order)")
    val guarded = changes.withColumn(opCol,
      when(col(opCol).isNull,
        raise_error(lit("NULL op — every changelog row must carry an op code")))
        .otherwise(col(opCol)))
    PullLatest.latestPerKey(guarded, keys, orderCols.head, None, opCol +: valueCols,
      tieBreakCols = orderCols.tail)
  }
}
