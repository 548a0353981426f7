package graft.operators

import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, TimestampType}

import graft.model._

/** The engine's signature operator: the point-in-time (as-of) join.
  *
  * Semantics (reference: pandas path file.py:86-213, SQL template
  * bigquery.py:554-698): for each entity-df row, attach the feature row
  * with the greatest event_ts <= entity_ts and — when ttl > 0 —
  * event_ts >= entity_ts - ttl, matching on all of the view's entity
  * join keys; ties on event_ts broken by max created_ts; unmatched
  * entity rows keep null features (left outer).
  *
  * Spark-first formulation, chosen for 100 TB scale: compute the
  * entity df's (min,max) event-ts once and prune the feature scan to
  * [min - ttl, max] (O5, bigquery.py:418-437 + 590-603) — the filter
  * lands in the parquet scan as a pushed predicate / row-group skip, at
  * 100 TB the difference between scanning a week and scanning years.
  * Then each view is one link of a full-width sort-merge as-of chain
  * ([[graft.plans.AsOfJoin]]), whatever its key and ts types: the link
  * normalizes them itself.
  *
  * Determinism: the reference is nondeterministic under duplicate
  * (entity, event_ts, created_ts) rows (BQ ANY_VALUE,
  * bigquery.py:645-660). We order by (event_ts, created_ts,
  * tieBreakCols..., payload...), so every tie has one winner.
  */
object PointInTimeJoin {

  val DefaultEntityTsCol = "event_timestamp"

  /** One view's join spec, fully resolved (registry lookups done). */
  final case class ViewJoin(
      view: FeatureView,
      joinKeys: Seq[String],            // entity-df column names == feature-df column names
      features: Seq[String],            // feature columns to attach
      featureDf: DataFrame,             // source already read + field-mapped
      tieBreakCols: Seq[String] = Nil)  // extra deterministic ordering

  /** Multi-view PIT join (O2): sequentially enrich the entity df, one
    * sort-merge chain link per view. Reference loop: file.py:108-204 /
    * one CTE per view, bigquery.py:554-698. */
  def join(
      entityDf: DataFrame,
      views: Seq[ViewJoin],
      entityTsCol: String = DefaultEntityTsCol,
      fullFeatureNames: Boolean = false): DataFrame = {
    require(entityDf.columns.contains(entityTsCol),
      s"entity df must contain timestamp column '$entityTsCol'")
    val missing = views.flatMap(_.joinKeys).distinct.filterNot(entityDf.columns.contains)
    require(missing.isEmpty,
      s"entity df is missing join key columns: ${missing.mkString(", ")}")
    // OUTPUT-name collisions fail loudly (the reference rejects them at
    // ref resolution, feature_store.py:636-657): the chain would
    // otherwise emit DUPLICATE column names and downstream selects die
    // with AMBIGUOUS_REFERENCE far from the cause. (Distinct from a
    // view's SOURCE feature name matching an entity column under
    // fullFeatureNames=true — that is legal: the link reads the source
    // column and emits the output name.)
    val outName: (ViewJoin, String) => String =
      (vj, f) => if (fullFeatureNames) s"${vj.view.name}__$f" else f
    locally {
      var seen = entityDf.columns.toSet
      val clashes = views.flatMap { vj =>
        vj.features.map(outName(vj, _)).flatMap { o =>
          if (seen.contains(o)) Some(o) else { seen += o; None }
        }
      }
      require(clashes.isEmpty,
        s"output feature name(s) ${clashes.mkString(", ")} collide with an " +
          "entity column or another view's feature — set " +
          "fullFeatureNames=true or rename the feature")
    }

    // O5 bounds (bigquery.py:418-437): computed ONCE per ts type the
    // views compare in (one for the usual all-TIMESTAMP call) — they are
    // over entityTsCol, which is invariant across the fold; each view's
    // scan filter derives from these literals.
    val entityTsType = entityDf.schema(entityTsCol).dataType
    val bounds = scala.collection.mutable.Map.empty[DataType, (Any, Any)]
    // A chain link exchanges the accumulated frame and the feature table
    // once each, with no row id, no candidate rows and no join-back
    // (BENCH_NOTES "Per-query execution policy").
    views.foldLeft(entityDf) { (acc, vj) =>
      val tsCol = vj.view.batchSource.eventTimestampColumn
      try {
        val t = graft.plans.AsOfJoin.tsType(
          entityTsType, vj.featureDf.schema(tsCol).dataType, vj.view.ttl)
        val (mn, mx) = bounds.getOrElseUpdate(t, entityBounds(entityDf, entityTsCol, t))
        val createdCol = vj.view.batchSource.createdTimestampColumn
        val ord = (createdCol.toSeq ++ vj.tieBreakCols).distinct.filterNot(_ == tsCol)
        graft.plans.AsOfJoin.join0(acc, prepareFeature(vj, mn, mx), vj.joinKeys,
          entityTsCol, tsCol, vj.view.ttl, ord, vj.features.map(f => outName(vj, f) -> f))
      } catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"feature view ${vj.view.name}: ${e.getMessage}", e)
      }
    }
  }

  /** Entity-df (min, max) event-ts, as type `t` (see
    * [[graft.plans.AsOfJoin.tsType]]), for the O5 pruning window:
    * metadata-only from parquet footer statistics when the entity ts is
    * a TIMESTAMP and the plan is a projection over a parquet relation
    * whose ts column traces to a physical column
    * ([[graft.sources.FooterBounds]] — zero Spark jobs, and at 100 TB a
    * footer read per file instead of a ts-column scan), else the tiny
    * min/max aggregation job. The footer variant may be a SUPERSET of
    * the true bounds (filters are traced through, not applied) — safe
    * because the window only prunes candidates the per-row as-of
    * predicate would reject anyway. Nulls for an empty entity df. */
  private[operators] def entityBounds(
      entity: DataFrame, entityTsCol: String, t: DataType): (Any, Any) =
    Option.when(entity.schema(entityTsCol).dataType == TimestampType)(
      graft.sources.FooterBounds.tsBounds(entity, entityTsCol)).flatten.getOrElse {
      val ts = col(entityTsCol).cast(t)
      val Array(b) = entity.agg(min(ts).as("mn"), max(ts).as("mx")).collect()
      (b.get(0), b.get(1))
    }

  /** An entity bound (a TIMESTAMP or NTZ value from [[entityBounds]])
    * moved by `d`. */
  private[operators] def shift(bound: Any, d: Duration): Any = bound match {
    case t: java.sql.Timestamp => java.sql.Timestamp.from(t.toInstant.plus(d))
    case t: java.time.LocalDateTime => t.plus(d)
  }

  /** Shared feature-side preparation (O5): directory-level date-partition
    * pruning, the [mn − ttl, mx] scan filter pushed into parquet, and the
    * column-pruned selection. */
  private def prepareFeature(vj: ViewJoin, mn: Any, mx: Any): DataFrame = {
    val tsCol = vj.view.batchSource.eventTimestampColumn
    val createdCol = vj.view.batchSource.createdTimestampColumn
    val ttl = vj.view.ttl
    val ordCols: Seq[String] = ((tsCol +: createdCol.toSeq) ++ vj.tieBreakCols).distinct
    val featCols: Seq[String] = (vj.joinKeys ++ ordCols ++ vj.features).distinct
    val lower = Option.when(!ttl.isZero && mn != null)(shift(mn, ttl.negated))
    // Directory-level pruning first (O5 + date_partition_column,
    // data_source.py:295-306): the date filter prunes partitions, the ts
    // filter then skips row groups within the surviving files. Wall-clock
    // (NTZ) bounds name no instant, so they skip the directory step.
    def instant(b: Option[Any]) = b.collect { case t: java.sql.Timestamp => t }
    val pruned = graft.sources.DatePartition.prune(vj.featureDf,
      vj.view.batchSource.datePartitionColumn, instant(lower), instant(Option(mx)))
    var feat = pruned.select(featCols.map(col): _*)
    if (mx != null) {
      feat = feat.filter(col(tsCol) <= lit(mx))
      lower.foreach(l => feat = feat.filter(col(tsCol) >= lit(l)))
    }
    feat
  }
}
