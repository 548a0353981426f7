package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model._
import graft.store.FeatureStore

/** Structured-Streaming materialization: stream source -> watermarked
  * dedup -> foreachBatch(latest-per-key |> online upsert).
  *
  * The reference only *declares* stream sources (SURVEY §1.4 — the
  * consuming jobs lived out of tree); this engine executes them. Safety
  * comes from composition: the online store's upsert is last-write-wins
  * by (event_ts, created_ts), so micro-batch replays and out-of-order
  * batches are idempotent (SURVEY §7.4(6)) — exactly-once state without
  * a two-phase sink.
  */
object StreamMaterializer {

  /** Start continuous materialization of a view's stream source into the
    * feature store's online store. Each micro-batch goes to the store's
    * upsert raw; the store reduces it with the same
    * [[graft.operators.PullLatest.latestPerKey]] the batch path reaches —
    * one code path for both semantics (kappa-style). */
  def materializeStream(
      fs: FeatureStore,
      viewName: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      checkpointDir: Option[String] = None): StreamingQuery =
    // The raw batch: every store reduces its own upsert input
    // (PullLatest.latestPerKey), so a caller-side collapse would only
    // add an exchange. No isEmpty pre-check: it cost a scan job + plan
    // cycle on EVERY batch to save work only on the rare empty ones.
    startOnline(fs, viewName, "update", trigger, checkpointDir) { s =>
      (SourceReader.readStream(fs.spark, s.src), s.upsert)
    }

  /** CDC stream materialization: the stream carries an op column
    * (upserts + delete tombstones). Each micro-batch first collapses
    * to its NET change per key — [[graft.operators.Merge.netChanges]]
    * over (event_ts[, created_ts]), map-side combinable, so intermediate
    * changes never reach the store — then applies upserts through the store's LWW merge and
    * tombstones through [[OnlineStore.delete]].
    *
    * ORDERING CONTRACT: within a micro-batch, out-of-order records are
    * resolved by the LWW total order (event_ts, created_ts) — the
    * [[graft.operators.Merge.cdcApply]] net. ACROSS batches the
    * application order is the micro-batch sequence itself: upserts are
    * ts-conditional (the store's LWW merge) but deletes are
    * unconditional key drops, so a delete arriving in a LATER batch
    * than a newer-ts upsert removes the key where cdcApply's global
    * net would keep it. This is the standard CDC-sink contract — it is
    * exact when the feed is per-key ordered across batches (what a
    * database log / Kafka partition keying guarantees); a feed with
    * cross-batch per-key ts disorder needs ts-aware tombstone state the
    * stores deliberately do not carry. Records with a NULL op fail the
    * batch loudly rather than silently vanishing from both branches. */
  def materializeCdcStream(
      fs: FeatureStore,
      viewName: String,
      opCol: String,
      deleteOp: String = "D",
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      checkpointDir: Option[String] = None): StreamingQuery =
    startOnline(fs, viewName, "update", trigger, checkpointDir) { s =>
      (SourceReader.readStream(fs.spark, s.src), batch => {
        // UNLIKE materializeStream (whose r6 measurement dropped its
        // pre-check as net-negative), this body runs a cache fill +
        // up to four probe/consume actions — on an IDLE CDC feed at a
        // 10 s trigger, one cheap isEmpty per empty batch beats paying
        // that pipeline for nothing, and non-empty batches amortize
        // the probe against real store I/O.
        if (!batch.isEmpty) {
          // net change per key WITHIN the batch: cdcApply's collapse,
          // which fails on a NULL op in any row.
          // persist, NOT localCheckpoint (review r13): checkpoint
          // blocks are unreplicated and lineage-truncated, so losing
          // one executor between the fill and the ups/dels consumers
          // failed the batch unrecoverably and terminated the query;
          // a persist recomputes the collapse from the batch source on
          // block loss — same dedup benefit, cluster-survivable
          val net = graft.operators.Merge.netChanges(
              batch, s.keys, opCol, s.tsCol +: s.createdCol.toSeq, s.view.featureNames)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val isDel = col(opCol) === lit(deleteOp)
            val ups = net.filter(!isDel).drop(opCol)
            val dels = net.filter(isDel).select(s.keys.map(col): _*)
            if (!ups.isEmpty) s.upsert(ups)
            if (!dels.isEmpty)
              fs.onlineStore.delete(fs.project, s.view, s.keys, fs.castKeyColumns(dels, s.view))
          } finally { net.unpersist(); () }
        }
      })
    }

  /** [[materializeStream]] with [[Changelog.derive]] in front of the
    * sink: only rows whose FEATURE VALUES changed reach the store — a
    * snapshot-style feed that re-delivers every key each scan (the
    * common CDC-less export shape) costs store writes only for keys
    * that moved, instead of a full-store rewrite per micro-batch. The
    * store contract is unchanged (LWW upserts, idempotent replays);
    * what changes is WRITE VOLUME: proportional to churn, not feed
    * size. `stateTtl` bounds the changelog state to live keys; an
    * evicted key re-baselines with one extra (harmless, idempotent)
    * upsert. */
  def materializeChangelogStream(
      fs: FeatureStore,
      viewName: String,
      watermarkDelay: String,
      stateTtl: java.time.Duration,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      checkpointDir: Option[String] = None): StreamingQuery =
    // the batch holds transition rows only (possibly several per key);
    // the store's LWW merge keeps the newest, and replays straddling
    // restarts are absorbed the same way — no extra reduction needed at
    // transition-grain volume
    startOnline(fs, viewName, "append", trigger, checkpointDir) { s =>
      (Changelog.derive(SourceReader.readStream(fs.spark, s.src), s.tsCol, s.keys,
        orderCols = s.createdCol.toSeq, valueCols = s.view.featureNames,
        watermarkDelay = watermarkDelay, stateTtl = stateTtl), s.upsert)
    }

  /** A view's stream source, resolved for an online sink. */
  private final case class Streamed(
      fs: FeatureStore, view: FeatureView, src: DataSource, keys: Seq[String]) {
    def tsCol: String = src.eventTimestampColumn
    def createdCol: Option[String] = src.createdTimestampColumn
    /** One micro-batch into the online store, keys cast to the entity
      * dtypes so bucket routing matches coerced reads. */
    def upsert(batch: DataFrame): Unit =
      fs.onlineStore.upsert(fs.project, view, keys,
        fs.castKeyColumns(batch, view), tsCol, createdCol)
  }

  /** The view named `viewName` and its stream source — the one lookup
    * and error every stream materializer starts with. */
  private def streamSourceOf(fs: FeatureStore, viewName: String): (FeatureView, DataSource) = {
    val view = fs.registry.getFeatureView(viewName)
    view -> view.streamSource.getOrElse(throw new IllegalArgumentException(
      s"view $viewName has no stream source"))
  }

  /** Start an online materializer: `build` turns the resolved view into
    * the stream to run and the body each micro-batch goes through. */
  private def startOnline(
      fs: FeatureStore,
      viewName: String,
      outputMode: String,
      trigger: Trigger,
      checkpointDir: Option[String])(
      build: Streamed => (DataFrame, DataFrame => Unit)): StreamingQuery = {
    val (view, src) = streamSourceOf(fs, viewName)
    val (stream, body) = build(Streamed(fs, view, src, fs.joinKeysOf(view)))
    val writer = stream.writeStream
      .outputMode(outputMode)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => body(batch) }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
  }

  /** Stream -> offline log (the kappa pipeline's other half, pairing
    * with materializeStream's online upsert): append the decoded stream
    * to the view's batch FileSource path so batch retrievals see full
    * history. Date-partitioned when the source declares
    * date_partition_column (derived from the event ts, ingest.py
    * semantics); exactly-once via the parquet sink's checkpointed file
    * log. */
  def logStream(
      fs: FeatureStore,
      viewName: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      checkpointDir: String): StreamingQuery = {
    val (view, src) = streamSourceOf(fs, viewName)
    val sink = view.batchSource match {
      case f: FileSource if f.format == "parquet" => f
      case other => throw new IllegalArgumentException(
        s"logStream appends to a parquet FileSource; ${view.name} reads from $other")
    }
    // Reverse the sink's field mapping (as FeatureStore.ingest does):
    // on-disk files carry SOURCE column names; the decoded stream
    // carries feature names. Writing unmapped would mix the two schemas
    // in one dataset and break subsequent batch reads.
    val stream = SourceReader.applyFieldMapping(
      SourceReader.readStream(fs.spark, src), sink.fieldMapping.map(_.swap))
    val tsCol =
      if (stream.columns.contains(sink.eventTimestampColumn)) sink.eventTimestampColumn
      else src.eventTimestampColumn
    val (withDate, partitionCols) = sink.datePartitionColumn match {
      case Some(dc) => (stream.withColumn(dc, to_date(col(tsCol))), Seq(dc))
      case None => (stream, Nil)
    }
    val writer = withDate.writeStream
      .format("parquet")
      .option("path", sink.path)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
    // The sink appends for as long as the query runs: cached listings
    // of this path would go stale on every micro-batch.
    SourceReader.markVolatilePath(sink.path)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer).start()
  }

  /** Watermarked sliding/tumbling window aggregation over a stream —
    * the standard streaming-features shape (counts/sums per key per
    * window). Append mode emits only finalized windows once the
    * watermark passes. */
  def windowedAggregate(
      stream: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      windowDuration: String,
      watermarkDelay: String,
      aggs: Seq[org.apache.spark.sql.Column]): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), windowDuration) +: keyCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Run a windowed aggregation over a stream in complete mode into an
    * in-memory sink and block until all available input is processed —
    * the synchronous harness used for verification/bench (a batch of
    * parquet drives the streaming engine end-to-end). */
  def runWindowedAggToCompletion(
      stream: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      windowDuration: String,
      aggs: Seq[org.apache.spark.sql.Column],
      queryName: String): DataFrame = {
    val agg = stream
      .groupBy((window(col(tsCol), windowDuration) +: keyCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    runToMemory(agg, "complete", queryName)
  }

  /** Sessionization over a stream: gap-based session windows per key
    * (Spark's declarative `session_window` — state merging, eviction
    * and out-of-order handling come from the engine, no custom
    * mapGroupsWithState needed). Runs to completion on available input
    * in complete mode into a memory sink (same synchronous harness as
    * [[runWindowedAggToCompletion]]; append mode + watermark is the
    * production shape). */
  def runSessionAggToCompletion(
      stream: DataFrame,
      tsCol: String,
      gap: String,
      keyCols: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column],
      queryName: String): DataFrame = {
    val agg = stream
      .groupBy((session_window(col(tsCol), gap) +: keyCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    runToMemory(agg, "complete", queryName)
  }

  /** Streaming count-min sketch: aggregate a stream into the
    * depth×width counter cells of [[graft.functions.Sketch]] — the
    * streaming STATE is the sketch (a few thousand cells), never
    * per-key counters, so a stream with unbounded key cardinality
    * (the 100 TB replay) runs in fixed state where a per-key
    * streaming count would grow without bound. Complete-mode memory
    * sink, run to completion on available input (same synchronous
    * harness as [[runWindowedAggToCompletion]]); the returned cell
    * table is probed offline with [[Sketch.probeHeavyHitters]].
    * Sketch cells merge by addition, which is exactly what the
    * streaming aggregation's state update does — the sketch IS the
    * mergeable-state formulation of frequency counting. */
  def runStreamCountMinToCompletion(
      stream: DataFrame,
      itemCol: String,
      depth: Int,
      width: Int,
      queryName: String): DataFrame = {
    val cells = stream
      .select(posexplode(
        graft.functions.Sketch.cellBuckets(col(itemCol), depth, width))
        .as(Seq("row", "bucket")))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))
    runToMemory(cells, "complete", queryName)
  }

  /** Stateful streaming deduplication: drop records whose `keyCols`
    * were already seen, with the dedup state bounded by the event-time
    * watermark (a key older than the watermark can be evicted — the
    * standard at-least-once -> exactly-once repair in front of a
    * stream materialization; unbounded state would OOM a 100 TB
    * replay). Runs to completion on available input into a memory
    * sink (same synchronous harness as [[runWindowedAggToCompletion]]).
    *
    * Spark evicts a key's state only once the watermark passes its
    * event time, so duplicates arriving within the delay are always
    * caught; `keyCols` must include the `tsCol` so state eviction has
    * an event time per key. */
  def runStreamDedupToCompletion(
      stream: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      watermarkDelay: String,
      queryName: String): DataFrame = {
    // enforced, not just documented: without the event-time column in
    // the dedup key, dropDuplicates never evicts state and the 100 TB
    // replay grows state with key cardinality until executors OOM
    require(keyCols.contains(tsCol),
      s"streaming dedup keyCols must include the event-time column '$tsCol' " +
        "so watermark eviction bounds the state")
    val deduped = stream
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(keyCols)
    runToMemory(deduped, "append", queryName)
  }

  /** [[Changelog.derive]] driven to completion on available input into
    * a memory sink (same synchronous harness as the other runners). */
  def runChangelogToCompletion(
      stream: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valueCols: Seq[String],
      watermarkDelay: String,
      stateTtl: java.time.Duration,
      queryName: String): DataFrame =
    runToMemory(
      Changelog.derive(stream, tsCol, keyCols, orderCols, valueCols, watermarkDelay, stateTtl),
      "append", queryName)

  /** Stream-static (dimension) join: each streaming row enriched with
    * a batch dimension table — the standard micro-batch enrichment in
    * front of a stream materialization (event → user profile / catalog
    * row). Stateless: the static side is re-resolved per micro-batch
    * and explicitly broadcast (a dimension table at 100 TB stream scale
    * must never shuffle the stream side), so no watermark or join state
    * is involved. Runs to completion on available input into a memory
    * sink (same synchronous harness as [[runWindowedAggToCompletion]]). */
  def runStreamStaticJoinToCompletion(
      stream: DataFrame,
      static: DataFrame,
      joinKeys: Seq[(String, String)],
      queryName: String): DataFrame = {
    val cond = joinKeys
      .map { case (a, b) => stream(a) === static(b) }
      .reduce(_ && _)
    runToMemory(stream.join(broadcast(static), cond, "inner"), "append", queryName)
  }

  /** Stream-stream LEFT OUTER forward (label) join: pair each left row
    * with the right rows of the same key in (left_ts, left_ts+horizon]
    * — and, when the watermark passes a left row's match bound with no
    * partner seen, emit it ONCE with nulls. This is the streaming form
    * of [[graft.operators.LabelJoin]]: "attach the outcome observed
    * within the horizon, or conclude there was none" — the
    * null-emission discipline is what makes the no-outcome conclusion
    * DEFINITE instead of indefinitely pending.
    *
    * Correct use requires the replay/ingest to be watermark-monotone:
    * outer results for the stream's tail only flush once the watermark
    * passes their bounds, so a bounded replay must end with a sentinel
    * row beyond max(left_ts)+horizon+delay (the test harness appends
    * two). State is bounded exactly as in the inner variant: the time
    * constraint lets both sides evict at watermark − horizon. */
  def runStreamLabelJoinToCompletion(
      left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String,
      joinKeys: Seq[(String, String)],
      horizon: String,
      watermarkDelay: String,
      queryName: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTsCol, watermarkDelay).alias("r")
    val keyCond = joinKeys
      .map { case (a, b) => col(s"l.$a") === col(s"r.$b") }
      .reduce(_ && _)
    val timeCond = col(s"r.$rightTsCol") > col(s"l.$leftTsCol") &&
      col(s"r.$rightTsCol") <= col(s"l.$leftTsCol") + expr(s"INTERVAL $horizon")
    runToMemory(l.join(r, keyCond && timeCond, "left_outer"), "append", queryName)
  }

  /** Stream-stream inner interval join: pair each left-stream row with
    * the right-stream rows of the same key whose event time falls in
    * [left_ts − lookback, left_ts] — the streaming enrichment shape
    * ("this event, plus the user's activity over the trailing day").
    * Both sides carry watermarks; the interval condition is what lets
    * the engine BOUND the join state (a right row older than
    * watermark − lookback can never match a future left row and is
    * evicted) — an equi-join without the time bound would buffer the
    * whole stream. `watermarkDelay` must cover the maximum event-time
    * disorder across micro-batches: state eviction is correctness here,
    * not just memory — a replay harness passes the full data span. */
  def runStreamJoinToCompletion(
      left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String,
      joinKeys: Seq[(String, String)],
      lookback: String,
      watermarkDelay: String,
      queryName: String): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTsCol, watermarkDelay).alias("r")
    val keyCond = joinKeys
      .map { case (a, b) => col(s"l.$a") === col(s"r.$b") }
      .reduce(_ && _)
    val timeCond = col(s"r.$rightTsCol") <= col(s"l.$leftTsCol") &&
      col(s"r.$rightTsCol") >= col(s"l.$leftTsCol") - expr(s"INTERVAL $lookback")
    runToMemory(l.join(r, keyCond && timeCond, "inner"), "append", queryName)
  }

  /** The synchronous harness every `run*ToCompletion` shares: run `df`
    * on available input into a memory sink named `queryName`, block
    * until it finishes, and return the sink's table. */
  private def runToMemory(df: DataFrame, outputMode: String, queryName: String): DataFrame = {
    df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    df.sparkSession.table(queryName)
  }
}
