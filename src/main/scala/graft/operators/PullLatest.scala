package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Latest-per-key snapshot (O3), the materialization scan:
  * filter event_ts in [start, end] (inclusive BETWEEN — the reference's
  * SQL-store semantics, bigquery.py:61-96; the file store's exclusive
  * upper bound at file.py:259-262 is a documented reference
  * inconsistency we resolve in favor of BETWEEN), then keep the newest
  * row per entity-key combination ordered by
  * (event_ts DESC, created_ts DESC, tieBreaks DESC).
  *
  * Implementation: groupBy(keys) with max_by(payload, orderKey) — a
  * declarative aggregate with map-side partial aggregation, so each
  * map task pre-collapses its rows to one candidate per key before the
  * shuffle. The reference's ROW_NUMBER() window formulation shuffles
  * every input row; at 100 TB that is the difference between shuffling
  * |keys| rows and shuffling |input| rows.
  */
object PullLatest {

  def pullLatest(
      df: DataFrame,
      joinKeys: Seq[String],
      tsCol: String,
      createdCol: Option[String],
      featureCols: Seq[String],
      start: Timestamp,
      end: Timestamp,
      tieBreakCols: Seq[String] = Nil): DataFrame =
    latestPerKey(windowOnly(df, joinKeys, tsCol, createdCol, featureCols ++ tieBreakCols,
      start, end), joinKeys, tsCol, createdCol, featureCols, tieBreakCols)

  /** The materialization window WITHOUT the reduction: the ts BETWEEN
    * filter and column projection only. Every online store reduces its
    * own upsert input, so materialize hands it this raw window. */
  def windowOnly(
      df: DataFrame,
      joinKeys: Seq[String],
      tsCol: String,
      createdCol: Option[String],
      featureCols: Seq[String],
      start: Timestamp,
      end: Timestamp): DataFrame = {
    val cols = (joinKeys ++ Seq(tsCol) ++ createdCol.toSeq ++ featureCols).distinct
    df.filter(col(tsCol) >= lit(start) && col(tsCol) <= lit(end))
      .select(cols.map(col): _*)
  }

  /** THE latest-per-key total order: winners order by
    * (ts, created?, tieBreaks?, payload) with the feature payload
    * appended as a stable final tiebreak — exact (ts, created)
    * duplicates resolve to the max payload instead of the reference's
    * nondeterministic ANY_VALUE (bigquery.py:645-660).
    *
    * @return (payload struct, order-key struct, payload column names)
    */
  private def lwwKeys(
      tsCol: String,
      createdCol: Option[String],
      featureCols: Seq[String],
      tieBreakCols: Seq[String]): (Column, Column, Seq[String]) = {
    val ordCols: Seq[String] = ((tsCol +: createdCol.toSeq) ++ tieBreakCols).distinct
    val payloadCols: Seq[String] = (ordCols ++ featureCols).distinct
    val payload: Column = struct(payloadCols.map(col): _*)
    val ordKey: Column = struct((ordCols.map(col) :+ payload.as("__payload")): _*)
    (payload, ordKey, payloadCols)
  }

  /** Newest row per key without the range filter: the one last-write-wins
    * collapse in the library. Every online store's upsert, the parquet
    * store's bucketed merge ([[graft.online.ParquetOnlineStore.mergedFrame]])
    * and the CDC net change ([[Merge.netChanges]]) reduce through it, so
    * batch, stream and store paths cannot drift apart. Output columns:
    * `joinKeys`, then ts, created, tieBreaks and features (each once). */
  def latestPerKey(
      df: DataFrame,
      joinKeys: Seq[String],
      tsCol: String,
      createdCol: Option[String],
      featureCols: Seq[String],
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val (payload, ordKey, payloadCols) =
      lwwKeys(tsCol, createdCol, featureCols, tieBreakCols)
    df.groupBy(joinKeys.map(col): _*)
      .agg(max_by(payload, ordKey).as("__w"))
      .select((joinKeys.map(col) ++ payloadCols.map(c => col(s"__w.$c").as(c))): _*)
  }

  /** [[latestPerKey]]'s winner order on the driver, for a store that
    * merges a reduced row into one it already holds: Catalyst's ordering
    * of the payload struct, nulls smallest. `payload` is the schema of
    * the columns after the join keys in latestPerKey's output, and rows
    * hold those values in that order. The payload starts with the order
    * columns, so this is the order its `max_by` compares. */
  def payloadOrdering(payload: StructType): Ordering[Row] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(payload)
    val ord = TypeUtils.getInterpretedOrdering(payload)
    Ordering.by[Row, Any](toCatalyst)(ord)
  }
}
