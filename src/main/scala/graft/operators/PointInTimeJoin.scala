package graft.operators

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Then two routes, chosen per view by its own types: a view whose
  * timestamps are TimestampType and whose key types match is a link of
  * a full-width sort-merge as-of chain ([[graft.plans.AsOfJoin]]); any
  * other view has its [[winners]] left-joined back by a row id that
  * [[stamp]] adds only when some view needs it.
  *
  * Determinism: the reference is nondeterministic under duplicate
  * (entity, event_ts, created_ts) rows (BQ ANY_VALUE,
  * bigquery.py:645-660). We order by (event_ts, created_ts,
  * tieBreakCols...) — callers that need a total order pass a unique
  * tie-break column.
  */
object PointInTimeJoin {

  val DefaultEntityTsCol = "event_timestamp"

  /** One Duration → µs interval rendering for the whole as-of family
    * (backward TTL, forward horizon, nearest tolerance): microsecond
    * precision — TimestampType's own resolution — computed from
    * (seconds, nanos) directly, so it neither truncates sub-second
    * windows (the getSeconds bug, review r4) nor overflows the way
    * Duration.toNanos does at ~292 years; long microseconds carry to
    * ~292k years, beyond any meaningful window. */
  private[graft] def durationInterval(d: java.time.Duration): Column =
    expr(s"INTERVAL ${d.getSeconds * 1000000L + d.getNano / 1000L} MICROSECOND")

  /** One view's join spec, fully resolved (registry lookups done). */
  final case class ViewJoin(
      view: FeatureView,
      joinKeys: Seq[String],            // entity-df column names == feature-df column names
      features: Seq[String],            // feature columns to attach
      featureDf: DataFrame,             // source already read + field-mapped
      tieBreakCols: Seq[String] = Nil)  // extra deterministic ordering

  /** Multi-view PIT join (O2): sequentially enrich the entity df, each
    * view on one of two routes chosen per view — a sort-merge chain link
    * or declarative winners joined back by row id. Reference loop:
    * file.py:108-204 / one CTE per view, bigquery.py:554-698. */
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
    // OUTPUT-name collisions fail loudly on every path (the reference
    // rejects them at ref resolution, feature_store.py:636-657): the
    // declarative join-back would otherwise emit DUPLICATE column names
    // and downstream selects die with AMBIGUOUS_REFERENCE far from the
    // cause. (Distinct from a view's SOURCE feature name matching an
    // entity column under fullFeatureNames=true — that is legal: both
    // routes read the source column and emit the output name.)
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
    // zero views = the input unchanged: the fold below would otherwise
    // run the bounds job for a no-op (review r12)
    if (views.isEmpty) return entityDf

    // The route is chosen per view by its own types ([[sortMergeEligible]]).
    // A chain link exchanges the accumulated frame and the feature table
    // once each, with no row id, no candidate rows and no join-back, so it
    // moves strictly fewer bytes than a winners join-back at every scale
    // (BENCH_NOTES "Per-query execution policy"). Since r8 the exec's
    // right-side ordering carries the payload suffix, so both routes pick
    // the same winner, fully-duplicate rows included.
    val linked = views.map(sortMergeEligible(entityDf, _, entityTsCol))
    // row ids only when some view joins back
    val allLinked = linked.forall(identity)
    val (stamped, rowId) = if (allLinked) (entityDf, "") else stamp(entityDf)

    // O5 bounds (bigquery.py:418-437): computed ONCE from the entity df —
    // they are over entityTsCol, which is invariant across the fold;
    // each view's scan filter derives from these literals. Metadata-only
    // (parquet footer stats) when the plan allows, else one tiny agg
    // over the checkpointed blocks.
    val (mnTs, mxTs) = entityBounds(stamped, entityTsCol)

    // Declarative winners are computed from the CHECKPOINTED entity df
    // directly — never from the accumulated frame — so view N's
    // candidate join does not re-traverse views 1..N-1.
    val joined = views.zip(linked).foldLeft(stamped) { case (acc, (vj, link)) =>
      val (feat, tsCol, createdCol) = prepareFeature(vj, mnTs, mxTs)
      val ord = (createdCol.toSeq ++ vj.tieBreakCols).distinct.filterNot(_ == tsCol)
      val payload = vj.features.map(f => outName(vj, f) -> f)
      if (link)
        graft.plans.AsOfJoin.join0(acc, feat, vj.joinKeys, entityTsCol, tsCol,
          vj.view.ttl, ord, payload)
      else
        // NOTE (measured twice, rounds 3+4): do NOT rebalance() either
        // join side here. The single-row-group test files do serialize
        // the candidate join into one ~1.4 s task, but inserting a
        // round-robin exchange costs MORE (+1.3-1.9 s/query) — an extra
        // shuffle, a broken scan→join codegen pipeline, and an extra AQE
        // replan per view. On a production many-file table the scan
        // parallelizes by itself; the single-task stage is a toy-data
        // artifact, not a plan defect.
        acc.join(winners(stamped, rowId, entityTsCol, vj.joinKeys, feat, tsCol,
          backwardWindow(entityTsCol, tsCol, vj.view.ttl),
          (_, r) => (tsCol +: ord).map(r), payload, max_by), Seq(rowId), "left")
    }
    if (allLinked) joined else joined.drop(rowId)
  }

  /** Entity-df (min, max) event-ts for the O5 pruning window:
    * metadata-only from parquet footer statistics when the entity plan
    * is a projection over a parquet relation whose ts column traces to
    * a physical column ([[graft.sources.FooterBounds]] — zero Spark
    * jobs, and at 100 TB a footer read per file instead of a ts-column
    * scan), else the tiny min/max aggregation job. The footer variant
    * may be a SUPERSET of the true bounds (filters are traced through,
    * not applied) — safe because the window only prunes candidates the
    * per-row as-of predicate would reject anyway. */
  private[operators] def entityBounds(
      entity: DataFrame, entityTsCol: String): (java.sql.Timestamp, java.sql.Timestamp) = {
    // non-TimestampType entity ts (DATE / NTZ / epoch longs — the exact
    // types the declarative fallback route exists for) skips the prune
    // window instead of crashing: getTimestamp on a Date/LocalDateTime
    // min/max threw ClassCastException before the join was even built,
    // and a Timestamp-literal filter against a non-timestamp feature ts
    // would be type-unsound anyway. Null bounds = no pruning — the
    // window is an optimization, superset-correct by contract
    // (review r12).
    if (entity.schema(entityTsCol).dataType !=
      org.apache.spark.sql.types.TimestampType) (null, null)
    else graft.sources.FooterBounds.tsBounds(entity, entityTsCol).getOrElse {
      val Array(b) = entity.agg(
        min(col(entityTsCol)).as("mn"), max(col(entityTsCol)).as("mx")).collect()
      (b.getTimestamp(0), b.getTimestamp(1))
    }
  }

  /** True when the entity df's plan could yield a different row order on
    * re-execution, making monotonically_increasing_id unstable across
    * plan branches. Conservative whitelist: only scans, filters,
    * projections, unions, and aliases with deterministic expressions are
    * replay-stable (parquet split order and per-branch row order are
    * reproducible); anything else — aggregates, joins, windows,
    * repartitions, limits, samples — pins via localCheckpoint. */
  private[graft] def needsRowIdPinning(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val plan = df.queryExecution.analyzed
    val stableShape = plan.collect { case n => n }.forall {
      case _: Project | _: Filter | _: Union | _: SubqueryAlias | _: LocalRelation => true
      // only FILE-backed leaves are replay-stable: split order and
      // per-split row order reproduce across executions. A JDBC or
      // other external relation can legally return rows in any order
      // per scan — those must pin.
      case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
      case v2: DataSourceV2Relation =>
        v2.table.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileTable]
      case _ => false
    }
    val deterministic = !plan.exists(_.expressions.exists(e => e.exists(!_.deterministic)))
    !(stableShape && deterministic)
  }

  /** True when a view is a link of the sort-merge as-of chain: both
    * timestamps are real TimestampType and the join-key types match.
    * No tie-break precondition since r8 — the exec sorts the right side
    * by (keys, ts, ordCols, payload), the same total order the
    * declarative max_by maximizes, so residual ties resolve identically
    * on both paths. (Unorderable feature types — maps — would fail the
    * exec's required sort, but they fail the declarative max_by's
    * struct ordering the same way, so orderability is not a routing
    * criterion.) */
  private def sortMergeEligible(
      entity: DataFrame, vj: ViewJoin, entityTsCol: String): Boolean = {
    import org.apache.spark.sql.types.TimestampType
    val tsCol = vj.view.batchSource.eventTimestampColumn
    entity.schema(entityTsCol).dataType == TimestampType &&
      vj.featureDf.columns.contains(tsCol) &&
      vj.featureDf.schema(tsCol).dataType == TimestampType &&
      // join-key TYPE parity is an exec precondition (AsOfJoin.join
      // fails loudly on e.g. int-vs-bigint keys, whose hash
      // co-partitioning would otherwise silently miss every match);
      // the declarative fallback plans the same keys through <=> with
      // an implicit cast — so a mismatch is a ROUTING criterion, not
      // an error
      vj.joinKeys.forall(k => vj.featureDf.columns.contains(k) &&
        entity.schema(k).dataType == vj.featureDf.schema(k).dataType)
  }

  /** Shared feature-side preparation (O5): directory-level date-partition
    * pruning, the [mn − ttl, mx] scan filter pushed into parquet, and the
    * column-pruned selection. Returns (feat, tsCol, createdCol). */
  private def prepareFeature(
      vj: ViewJoin,
      mnTs: java.sql.Timestamp,
      mxTs: java.sql.Timestamp): (DataFrame, String, Option[String]) = {
    val tsCol = vj.view.batchSource.eventTimestampColumn
    val createdCol = vj.view.batchSource.createdTimestampColumn
    val ttl = vj.view.ttl
    val ordCols: Seq[String] = ((tsCol +: createdCol.toSeq) ++ vj.tieBreakCols).distinct
    val featCols: Seq[String] = (vj.joinKeys ++ ordCols ++ vj.features).distinct
    val lowerTs: Option[java.sql.Timestamp] =
      if (!ttl.isZero && mnTs != null)
        Some(java.sql.Timestamp.from(mnTs.toInstant.minus(ttl)))
      else None
    // Directory-level pruning first (O5 + date_partition_column,
    // data_source.py:295-306): the date filter prunes partitions, the ts
    // filter then skips row groups within the surviving files.
    val pruned = graft.sources.DatePartition.prune(
      vj.featureDf, vj.view.batchSource.datePartitionColumn, lowerTs, Option(mxTs))
    var feat = pruned.select(featCols.map(col): _*)
    if (mxTs != null) {
      feat = feat.filter(col(tsCol) <= lit(mxTs))
      lowerTs.foreach(l => feat = feat.filter(col(tsCol) >= lit(l)))
    }
    (feat, tsCol, createdCol)
  }

  /** Backward as-of window: `ts <= entity_ts` and, when ttl is nonzero,
    * `ts >= entity_ts - ttl` — inclusive on both edges (the reference's
    * SQL semantics, bigquery.py:613-617). Micros, not whole seconds: a
    * sub-second TTL must bound the window identically here and on the
    * sort-merge exec (which compares raw micros), or the routes disagree
    * on winners. */
  private[graft] def backwardWindow(
      entityTsCol: String, featureTsCol: String, ttl: Duration): (Side, Side) => Column =
    (l, r) => {
      val upper = r(featureTsCol) <= l(entityTsCol)
      if (ttl.isZero) upper
      else upper && r(featureTsCol) >= (l(entityTsCol) - durationInterval(ttl))
    }

  /** A column accessor for one side of the [[winners]] candidate join. */
  private[graft] type Side = String => Column

  /** `entity` plus a fresh row-id column, and that column's name — the
    * id every winner frame is keyed by (the BQ template's
    * entity_row_unique_id CONCAT at bigquery.py:559-569 is a row
    * fingerprint; a generated id is safe under duplicate entity rows).
    *
    * monotonically_increasing_id is evaluated independently in every
    * plan branch that references it; if the entity df's plan can produce
    * rows in a different order across re-executions (any shuffle's
    * reduce-side arrival order, round-robin repartition, limit, sample,
    * or a nondeterministic expression) the candidate projection and the
    * join-back could disagree on ids. localCheckpoint pins the ids once —
    * both branches read the same materialized blocks. For the common
    * replay-stable shape ([[needsRowIdPinning]]) the ids are already
    * reproducible and the materialization is skipped. This is the only
    * place in the engine that stamps row ids. */
  private[graft] def stamp(entity: DataFrame): (DataFrame, String) = {
    val rowId = Iterator.from(0).map(i => s"__graft_row_id$i")
      .find(n => !entity.columns.contains(n)).get
    val raw = entity.withColumn(rowId, monotonically_increasing_id())
    (if (needsRowIdPinning(entity)) raw.localCheckpoint() else raw, rowId)
  }

  /** The as-of family's winner kernel: for each row of `stamped`
    * (identified by its `rowId` column, from [[stamp]]), the `feature`
    * row with the same `keys` inside `window` that `pick` (`max_by` or
    * `min_by`) selects under the order `order ++ payload`. Emits
    * (rowId, payload output names…) — one row per MATCHED entity row;
    * the caller left-joins it back.
    *
    * Plan shape (the 100 TB argument):
    *   - the candidate join takes only the NARROW (rowId, ts, keys)
    *     entity projection and is an equi-join on the keys with the
    *     window as a post-join predicate — Catalyst plans a hash or
    *     sort-merge join, not a theta join. Keys match with `<=>`, so
    *     null keys match null keys (the sort-merge exec's natural
    *     ordering does the same).
    *   - the reduction is `groupBy(rowId).agg(pick(payload, struct(order,
    *     payload)))`, a declarative aggregate with map-side partial
    *     aggregation — unlike the reference SQL template's row_number()
    *     window, candidates collapse per map task before the shuffle, so
    *     a hot entity with 10^6 candidate rows ships one row.
    *   - the payload is the last member of the order key, so residual
    *     ties on `order` resolve to the payload-max (or -min) row instead
    *     of the reference's nondeterministic ANY_VALUE
    *     (bigquery.py:645-660). It is the same total order the sort-merge
    *     exec's required right ordering realizes, so every route returns
    *     the same rows.
    *
    * `feature` gets fresh `__r_*` expression ids, so self-joins (an
    * entity df built from the feature table) resolve unambiguously.
    * `payload` pairs each output name with its feature column (extra
    * outputs such as `label_ts` ride here). A zero-column payload
    * carries the feature ts instead: struct() would be invalid. */
  private[graft] def winners(
      stamped: DataFrame,
      rowId: String,
      entityTsCol: String,
      keys: Seq[String],
      feature: DataFrame,
      featureTsCol: String,
      window: (Side, Side) => Column,
      order: (Side, Side) => Seq[Column],
      payload: Seq[(String, String)],
      pick: (Column, Column) => Column): DataFrame = {
    val left = stamped.select((rowId +: entityTsCol +: keys).distinct.map(col): _*)
    val right = feature.select(feature.columns.toSeq.map(c => col(c).as(s"__r_$c")): _*)
    val l: Side = c => left(c)
    val r: Side = c => right(s"__r_$c")
    val keyCond = keys.map(k => l(k) <=> r(k)).reduce(_ && _)
    val candidates = left.join(right, keyCond && window(l, r), "inner")
    val fields =
      if (payload.isEmpty) Seq(r(featureTsCol).as("__feat_ts"))
      else payload.zipWithIndex.map { case ((_, c), i) => r(c).as(s"_$i") }
    val value = struct(fields: _*)
    candidates
      .groupBy(l(rowId).as(rowId))
      .agg(pick(value, struct(order(l, r) :+ value.as("__payload"): _*)).as("__w"))
      .select(col(rowId) +: payload.zipWithIndex.map { case ((out, _), i) =>
        col(s"__w._$i").as(out) }: _*)
  }
}
