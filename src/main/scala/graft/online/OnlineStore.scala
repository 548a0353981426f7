package graft.online

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.concurrent.{Map => CMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.FeatureView
import graft.operators.PullLatest
import graft.util.RenameAside

/** One feature read result (O14): value + status. Reference statuses
  * PRESENT / NOT_FOUND / OUTSIDE_MAX_AGE (ServingService.proto:96-115;
  * OUTSIDE_MAX_AGE at :112-114 — "values could be found for entity
  * key, but field values are outside the maximum allowable range").
  * Staleness is judged centrally in FeatureStore.getOnlineFeatures
  * against the view's ttl, not in each store. */
final case class FeatureValue(value: Any, status: String)
object FeatureStatus {
  val Present = "PRESENT"
  val NotFound = "NOT_FOUND"
  val OutsideMaxAge = "OUTSIDE_MAX_AGE"
}

/** The online-store contract (reference online_store.py:26-107): batch
  * upsert, point multi-get, teardown. Writes are last-write-wins per
  * entity key by (event_ts, created_ts) — unlike the reference's
  * unconditional overwrite, comparing timestamps makes streaming
  * replays idempotent (SURVEY §7.4(6)).
  */
trait OnlineStore extends Serializable {

  /** Upsert one view's materialized rows. `df` must contain the view's
    * join key columns, feature columns, event-ts and optional created-ts
    * columns, at any grain: the store reduces it to the latest row per
    * key ([[PullLatest.latestPerKey]]) before it writes. DataFrame-level
    * so implementations can write distributed. */
  def upsert(project: String, view: FeatureView, joinKeys: Seq[String],
      df: DataFrame, tsCol: String, createdCol: Option[String]): Unit

  /** Unused: the library no longer reads it, since every store reduces its own upsert input. */
  def wantsPreReduced: Boolean = false

  /** Point multi-get (O14): for each entity key, the requested features.
    * Missing key -> all NOT_FOUND. Latency path — must not require a
    * Spark job on hot stores. */
  def read(project: String, view: FeatureView, joinKeys: Seq[String],
      entityKeys: Seq[Seq[(String, Any)]],
      features: Seq[String]): Seq[(Option[Timestamp], Map[String, FeatureValue])]

  /** Delete the stored rows for the entity keys in `keysDf` (which
    * must contain the view's join key columns) — the CDC tombstone
    * path. Deleting an absent key is a no-op. Unconditional (no ts
    * compare): callers applying a changelog must apply batches in feed
    * order, which Structured Streaming's micro-batch sequence
    * guarantees. Default: unsupported, so stores that cannot delete
    * fail loudly instead of silently retaining tombstoned rows. */
  def delete(project: String, view: FeatureView, joinKeys: Seq[String],
      keysDf: DataFrame): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} does not support delete")

  def teardown(project: String, views: Seq[FeatureView]): Unit
}

/** Storage-level TTL expiry (VERDICT r14 #3): stores that RETAIN rows
  * durably must be able to drop rows aged past a view's ttl, or a TTL
  * workload grows the store without bound — the read-time staleness
  * gate (OUTSIDE_MAX_AGE) protects serves, not disk. Implemented by
  * [[ParquetOnlineStore]] (per-bucket rewrite) and by the three JDBC
  * stores — [[JdbcOnlineStore]], [[ReferenceSqlStore]] and
  * [[ReferenceDocStore]] — through their shared [[JdbcStore]] base (one
  * transactional DELETE); the sharded composite fans out to any ring
  * whose children all implement it. The reference has no
  * storage-level expiry at all (its redis store pins EX_SECONDS to
  * year 9999, `sdk/python/feast/infra/online_stores/redis.py:38`) —
  * this is parity-plus. Returns the number of expired rows. */
trait ExpirableOnlineStore { this: OnlineStore =>
  def expire(spark: SparkSession, project: String, view: FeatureView,
      joinKeys: Seq[String], tsCol: String, cutoff: Timestamp): Long
}

/** A shard child that can durably record its ring membership —
  * (position, ring size, salt) — so [[ShardedOnlineStore]]'s
  * positional `paths`/`urls` config gets a persisted-marker-wins guard:
  * reordering, shrinking, or re-salting the ring fails LOUDLY on open
  * instead of silently misrouting every key. Parquet children persist
  * a `_graft_ring` file in the shard's base dir (ADVICE r14); JDBC
  * children persist a one-row `G_RING` table per shard database
  * (VERDICT r15 #1 — without it a sharded_jdbc ring stayed positional
  * config and a reordered `urls` list misrouted silently). The marker
  * is validated ONCE per store instance, before any routed operation. */
trait RingMarkedStore { this: OnlineStore =>
  /** The persisted (position, size, salt), or None if this shard was
    * never written through a composite (pass-through on open). */
  def readRingMarker(): Option[(Int, Int, String)]
  def writeRingMarker(position: Int, size: Int, salt: String): Unit
  /** The persisted grow-pending (target ring size, salt), or None —
    * the mechanical form of the grow lifecycle's "restart old-ring
    * writers first" precondition (r16): the GROWN composite's first
    * mutating use arms this on every pre-grow shard, so a still-live
    * process configured with the smaller ring refuses its next
    * operation loudly instead of writing to pre-grow homes that
    * silently lose to post-grow readers. Cleared by
    * [[ShardedOnlineStore.commitRingMarkers]]. */
  def readPendingSize(): Option[(Int, String)]
  def writePendingSize(pending: Int, salt: String): Unit
  def clearPendingSize(): Unit
}

object OnlineStore {
  /** Null join keys are a data-quality error: reject them with a
    * readable message instead of letting a key-serializing closure
    * throw an opaque per-task stack deep inside the store's routing
    * expressions. Shared by every store implementation; `op` names the
    * rejecting operation ("upsert" or "delete") in the message. */
  def guardNullKeys(cols: Seq[String], joinKeys: Seq[String],
      viewName: String, op: String): Seq[org.apache.spark.sql.Column] =
    cols.map {
      case k if joinKeys.contains(k) =>
        when(col(k).isNull, raise_error(lit(
          s"graft: null join key '$k' in $op for view '$viewName' — " +
            s"filter or fill null-keyed rows before the $op"))).otherwise(col(k)).as(k)
      case c => col(c)
    }

  /** One key's read answer, shared by every store's `read`: a requested
    * feature is PRESENT with a non-null stored value, else NOT_FOUND; a
    * missing key (None) reads all NOT_FOUND with no ts. */
  def readBack(stored: Option[(Option[Timestamp], Map[String, Any])],
      features: Seq[String]): (Option[Timestamp], Map[String, FeatureValue]) = {
    val (ts, values) = stored.getOrElse((None, Map.empty[String, Any]))
    (ts, features.map { f =>
      f -> (values.get(f) match {
        case Some(v) if v != null => FeatureValue(v, FeatureStatus.Present)
        case _ => FeatureValue(null, FeatureStatus.NotFound)
      })
    }.toMap)
  }
}

/** Executor-shared in-memory KV store — the sqlite analog
  * (reference online_stores/sqlite.py): a per-JVM ConcurrentHashMap
  * keyed by (project, view, serialized entity key). Correct on
  * local[N] (single JVM) and for tests; on a multi-executor cluster
  * each executor sees its own map — use ParquetOnlineStore there.
  */
class InMemoryOnlineStore extends OnlineStore {
  import InMemoryOnlineStore._

  def upsert(project: String, view: FeatureView, joinKeys: Seq[String],
      df: DataFrame, tsCol: String, createdCol: Option[String]): Unit = {
    val feats = view.featureNames
    val viewName = view.name
    val guarded = df.select(OnlineStore.guardNullKeys(df.columns.toSeq, joinKeys, viewName, "upsert"): _*)
    val winners = PullLatest.latestPerKey(guarded, joinKeys, tsCol, createdCol, feats)
    // across batches, the held row stays only if latestPerKey's own order
    // ranks it higher: a replay is idempotent, null timestamps order
    // smallest, and an exact (ts, created) tie keeps the max payload, as
    // the parquet merge does
    val payload = StructType(winners.schema.drop(joinKeys.size))
    val order = PullLatest.payloadOrdering(payload)
    def payloadOf(r: StoredRow): Row = Row.fromSeq(payload.fieldNames.toSeq.map {
      case `tsCol` => r.ts
      case c if createdCol.contains(c) => r.created.orNull
      case f => r.values.getOrElse(f, null)
    })
    winners.collect().foreach { row =>
      val key = joinKeys.map(k => k -> row.getAs[Any](k))
      val ts = row.getAs[Timestamp](tsCol)
      val created = createdCol.flatMap(c => Option(row.getAs[Timestamp](c)))
      val values = feats.map(f => f -> row.getAs[Any](f)).toMap
      val stored = StoredRow(ts, created, values, key)
      val _ = table.updateWith(storeKey(project, viewName, key)) {
        case Some(old) if order.gt(payloadOf(old), payloadOf(stored)) => Some(old)
        case _ => Some(stored)
      }
    }
  }

  /** All stored (entity key, row) pairs of one view — the in-process
    * dump analog of `ParquetOnlineStore.tableDf`. Driver-local by
    * construction (the map IS in-process); assembling a typed frame is
    * the schema-aware caller's job. Snapshot semantics: iteration over
    * the concurrent map, no lock. */
  def dump(project: String, viewName: String): Seq[(Seq[(String, Any)], StoredRow)] = {
    val prefix = s"$project/$viewName/"
    table.iterator.collect {
      case (k, row) if k.startsWith(prefix) => (row.key, row)
    }.toSeq
  }

  def read(project: String, view: FeatureView, joinKeys: Seq[String],
      entityKeys: Seq[Seq[(String, Any)]],
      features: Seq[String]): Seq[(Option[Timestamp], Map[String, FeatureValue])] =
    // Option(ts), not Some(ts): a stored null ts must read as ts-less
    // (staleness gate skipped), not Some(null) that NPEs the gate's
    // ts.before(cutoff) at serve time
    entityKeys.map(key => OnlineStore.readBack(
      table.get(storeKey(project, view.name, key)).map(r => (Option(r.ts), r.values)), features))

  override def delete(project: String, view: FeatureView, joinKeys: Seq[String],
      keysDf: DataFrame): Unit =
    keysDf.select(OnlineStore.guardNullKeys(joinKeys, joinKeys, view.name, "delete"): _*)
      .distinct().collect().foreach { row =>
      val key = joinKeys.map(k => k -> row.getAs[Any](k))
      table.remove(storeKey(project, view.name, key))
    }

  def teardown(project: String, views: Seq[FeatureView]): Unit = {
    val prefixes = views.map(v => s"$project/${v.name}/")
    table.keys.filter(k => prefixes.exists(k.startsWith)).foreach(table.remove)
  }
}

object InMemoryOnlineStore {
  final case class StoredRow(ts: Timestamp, created: Option[Timestamp],
    values: Map[String, Any], key: Seq[(String, Any)] = Nil)

  private val table: CMap[String, StoredRow] =
    new ConcurrentHashMap[String, StoredRow]().asScala

  private def storeKey(project: String, view: String, key: Seq[(String, Any)]): String =
    s"$project/$view/${EntityKeyCodec.hexKey(key)}"

}

/** Parquet-backed KV table — the batch-serving / cluster-scale store:
  * one parquet dataset per (project, view) holding exactly the latest
  * row per entity key, hash-partitioned into `numBuckets` directories
  * by entity key (`__bucket=<hash(key) % N>`).
  *
  * Two commits, per-bucket swaps plus one first publish. The first
  * write stages the table with its bucket-count marker inside and
  * publishes it with one rename. After that every mutation (upsert,
  * delete, expire) reads back the buckets it touches (directory-pruned),
  * rewrites them, and swaps each one in with
  * [[graft.util.RenameAside.swap]] — a crash never leaves a bucket
  * half-written, and the table dir and its marker are never re-staged.
  * An upsert touches the buckets holding incoming keys, so at 100 TB an
  * incremental materialize or streaming micro-batch costs O(touched
  * buckets), not a full-store rewrite; below `smallStoreBytes` it
  * touches every bucket instead, to skip the discovery job.
  *
  * The bucket id is computed from EntityKeyCodec.hashKey on BOTH paths —
  * as a native expression over the key columns on the write path and in
  * pure Scala on the read path — so reads prune to exactly the requested
  * buckets.
  * Reads are filtered scans (partition pruning on bucket + pushdown on
  * key columns). Suited to bulk serving and training-time joins; for
  * ms-latency point reads front it with InMemoryOnlineStore or an
  * external KV.
  *
  * `numBuckets` is fixed at table creation: a table's marker wins over
  * the configured count (no rehashing is performed).
  */
object ParquetOnlineStore {
  /** Hash-partition directory column (`__bucket=<n>` dirs). */
  val BucketCol = "__bucket"

  /** The one-exchange merged/laid-out frame an upsert stages (exposed
    * for plan tests: exactly ONE Exchange — the (bucket, keys) max_by
    * aggregation whose map-side partial combine collapses input-grain
    * rows to one combiner per key before the shuffle — followed by a
    * zero-shuffle sortWithinPartitions for the bucket layout). */
  private[graft] def mergedFrame(
      d: DataFrame, joinKeys: Seq[String], tsCol: String,
      createdCol: Option[String], featureNames: Seq[String],
      buckets: Int): DataFrame = {
    // reuse an already-computed bucket id (upsert's incoming frame and
    // the read-back of old rows both carry one) instead of re-hashing
    // the canonical key serialization for every row
    val withBucket =
      if (d.columns.contains(BucketCol)) d
      else d.withColumn(BucketCol, EntityBucketExpr.bucketId(joinKeys, buckets))
    PullLatest.latestPerKey(withBucket, BucketCol +: joinKeys, tsCol, createdCol, featureNames)
      .sortWithinPartitions(col(BucketCol) +: joinKeys.map(col): _*)
  }
  /** Marker file inside each table dir recording the bucket count the
    * table was created with (underscore prefix: ignored by parquet
    * partition discovery). A store opened with a different configured
    * count ADOPTS the persisted one instead of misrouting keys. */
  val BucketsMarker = "_graft_buckets"

  /** Decoded-bucket cache for the point-read path — the serving block
    * cache every KV store runs (RocksDB's block cache, Redis IS the
    * cache): a bucket file is decoded ONCE into a hexKey→row index and
    * point reads after that are O(requested keys) map lookups, until
    * the file's (length, mtime) changes or a local mutation
    * (upsert/delete/expire/teardown) invalidates its table prefix.
    * Keys are SCHEME-STRIPPED URI paths (`Path.toUri.getPath`) on both
    * the cache and the invalidation side — listStatus returns
    * scheme-qualified paths (`file:/...`) while table prefixes are the
    * raw configured basePath, and a raw-vs-qualified mismatch would
    * turn every invalidation into a silent no-op. JVM-global — correct
    * across store instances in-process; a cross-process writer is
    * caught by the (length, mtime) check, with the same
    * at-worst-one-swap-stale window the mutation-free read path
    * already tolerates (a same-millisecond same-length foreign rewrite
    * is the residual hole). Bounded BOTH by file count and by total
    * SOURCE bytes (cleared wholesale past either cap — a point
    * reader's working set is its hot buckets, not the store), and
    * files above `CacheableFileBytes` never enter it: they take the
    * original row-group-pruned streaming decode, so one huge bucket
    * can neither evict the hot set nor balloon the heap. */
  private val CacheMaxFiles = 512
  private val CacheMaxTotalBytes = 256L << 20
  private val CacheableFileBytes = 32L << 20
  /** Age past which a `.old` rename-aside root counts as a crash
    * orphan for the no-progress early exit (see read()) — generously
    * above any plausible live-swap stall (GC pause, slow-FS hiccup),
    * tiny against a real crash's age. Test hook via private[graft]. */
  private[graft] val OrphanedOldStaleMs = 10000L
  // keys are FULLY QUALIFIED path strings (listStatus form) — two
  // filesystems sharing a path string never collide on lookups;
  // invalidation compares scheme-stripped forms, which at worst
  // over-invalidates the same path on a sibling filesystem (a safe
  // re-decode, never a stale serve)
  private val bucketCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Map[String, Map[String, Any]])]()
  // All size-changing ops (fill, eviction, invalidation) run under this
  // lock with a RUNNING byte total: concurrent fills could otherwise
  // both pass the capacity check and overshoot CacheMaxTotalBytes, and
  // re-summing every entry per eviction was O(n²) at the cap. Lookups
  // stay lock-free on the CHM.
  private val cacheLock = new Object
  private var cacheBytes = 0L
  // Resolved bucket-count per table path: the marker is immutable once a
  // table exists, but the point-read path was re-fetching it (exists +
  // open + read, twice on a mid-swap miss) before every bucket lookup —
  // on object stores that's 2-4 metadata round trips ahead of the cached
  // O(map-lookup) read (review r12). Only FOUND markers are cached (a
  // default for a not-yet-created table must not stick); write-path
  // invalidation drops the entry alongside the block cache.
  private val markerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private[online] def invalidateCache(prefix: String): Unit = {
    markerCache.remove(prefix) // same raw path() string the reads use
    val p0 = new org.apache.hadoop.fs.Path(prefix)
    // a relative basePath yields a relative prefix that would never
    // match the absolute cached keys — resolve it like the local fs does
    val stripped =
      if (p0.isAbsolute || p0.toUri.getScheme != null) p0.toUri.getPath
      else new java.io.File(prefix).getAbsolutePath
    cacheLock.synchronized {
      val it = bucketCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val keyPath = new org.apache.hadoop.fs.Path(e.getKey).toUri.getPath
        // separator-anchored: a bare startsWith(stripped) also matched
        // SIBLING views extending the name (writing 'clicks' wiped
        // 'clicks_v2''s hot cache on every batch — review r12); cached
        // keys are files under the table dir or its rename-aside twin
        if (keyPath.startsWith(stripped + "/") ||
            keyPath.startsWith(stripped + ".old/")) {
          cacheBytes -= e.getValue._1
          it.remove()
        }
      }
    }
  }
  /** Test hook: the cached file paths (qualified). */
  private[graft] def cachedPaths(): Set[String] = {
    import scala.jdk.CollectionConverters._
    bucketCache.keySet().asScala.toSet
  }
  private[online] def cachedFileIndex(
      fsys: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      f: org.apache.hadoop.fs.Path,
      joinKeys: Seq[String],
      prune: Option[(String, Seq[Any])]): Map[String, Map[String, Any]] = {
    // a LISTED file that has vanished by stat/decode time is a mid-swap
    // RACE signal, not absence — the FileNotFoundException propagates
    // to read()'s bounded re-resolve retry. (Pre-r13 this returned an
    // empty index, so a read racing a swap served transient NOT_FOUNDs
    // for present keys — found by the serve-during-maintenance stress.)
    val st = fsys.getFileStatus(f)
    def index(rows: Seq[Map[String, Any]]): Map[String, Map[String, Any]] =
      rows.map(m => EntityKeyCodec.hexKey(joinKeys.map(k => k -> m(k))) -> m).toMap
    if (st.getLen > CacheableFileBytes)
      return index(ParquetPointReader.readFiles(conf, Seq(f), prune))
    val k = fsys.makeQualified(f).toString
    val cur = bucketCache.get(k)
    if (cur != null && cur._1 == st.getLen && cur._2 == st.getModificationTime) cur._3
    else {
      // full-file decode on fill (no row-group prune): the hot small
      // bucket ends up fully resident either way, and every later
      // point read skips open+footer+decode+index entirely
      val idx = index(ParquetPointReader.readFiles(conf, Seq(f)))
      // Over either cap, evict arbitrary entries one at a time until
      // the newcomer fits — a working set larger than the cache then
      // churns one entry per miss instead of wiping the whole hot set
      // (a wholesale clear made >CacheMaxFiles-bucket stores re-decode
      // EVERYTHING on a cycle). st.getLen <= CacheableFileBytes <<
      // CacheMaxTotalBytes, so the loop always terminates with room.
      // The decode above ran OUTSIDE the lock (it is the expensive
      // part); only the capacity check + evictions + put are atomic.
      cacheLock.synchronized {
        while (!bucketCache.isEmpty &&
            (bucketCache.size >= CacheMaxFiles ||
              cacheBytes + st.getLen > CacheMaxTotalBytes)) {
          val it = bucketCache.entrySet().iterator()
          if (it.hasNext) { cacheBytes -= it.next().getValue._1; it.remove() }
        }
        val prev = bucketCache.put(k, (st.getLen, st.getModificationTime, idx))
        if (prev != null) cacheBytes -= prev._1
        cacheBytes += st.getLen
      }
      idx
    }
  }
}

/* Below `smallStoreBytes` an upsert passes every bucket as touched: for
 * a store that fits comfortably in executor memory the touched-bucket
 * discovery job costs more than reading the whole table back, and the
 * merge stays one Spark job. Either way the commit is the same
 * per-bucket swap; the gate only chooses which buckets it covers. */
class ParquetOnlineStore(
    basePath: String,
    numBuckets: Int = 32,
    smallStoreBytes: Long = 64L << 20)
  extends OnlineStore with ExpirableOnlineStore with RingMarkedStore {
  import ParquetOnlineStore.{BucketCol, BucketsMarker}

  /** Ring marker = a `_graft_ring` JSON file in the shard's base dir
    * (underscore prefix: invisible to parquet partition discovery). */
  def readRingMarker(): Option[(Int, Int, String)] =
    ShardedOnlineStore.readRingMarker(baseFs, basePath)
  def writeRingMarker(position: Int, size: Int, salt: String): Unit =
    ShardedOnlineStore.writeRingMarker(baseFs, basePath, position, size, salt)
  def readPendingSize(): Option[(Int, String)] =
    ShardedOnlineStore.readPendingSize(baseFs, basePath)
  def writePendingSize(pending: Int, salt: String): Unit =
    ShardedOnlineStore.writePendingSize(baseFs, basePath, pending, salt)
  def clearPendingSize(): Unit =
    ShardedOnlineStore.clearPendingSize(baseFs, basePath)
  private def baseFs = hp(basePath).getFileSystem(ShardedOnlineStore.hadoopConf())

  /** The store's root directory — the per-shard identity the sharded
    * composite's ring marker is keyed on. */
  private[graft] def storeBasePath: String = basePath

  private def path(project: String, view: String) = s"$basePath/$project/$view"

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Table-scoped WRITER LEASE (VERDICT r13 #2): two concurrent
    * mutating jobs on the same table (a backfill upsert racing a
    * streaming materializer, an expire racing a CDC delete) each do
    * read-buckets → merge → rename-aside swap, and the interleaved
    * loser's merge silently discards the winner's rows — a lost
    * update at bucket grain. Every mutating path (upsert / delete /
    * expire / teardown) serializes on a per-table
    * [[graft.util.FileLease]] — the Registry's O_EXCL + tombstone
    * discipline at table scope — with the mtime HEARTBEAT on, so an
    * arbitrarily long merge job keeps the lease visibly alive while a
    * crashed writer's lease still expires within `writerLeaseMs`.
    * READS never touch the lease (they stay mutation-free and
    * swap-tolerant — ADVICE r2), so serving latency is unaffected.
    * The lock file is a SIBLING of the table dir
    * (`<table>.writer.lock`), never inside it — partition discovery
    * and the recovery sweep cannot see it. */
  private val writerLeaseMs =
    sys.props.get("graft.online.writerLeaseMs").map(_.toLong).getOrElse(30000L)
  // acquisition budget sized to the longest legitimate critical
  // section, NOT to staleness: a contender queuing behind a LIVE
  // heartbeat-extended holder (micro-batch upsert behind a multi-
  // minute backfill merge) must WAIT, not die at staleMs+5s — the
  // lease exists to serialize exactly that pair (review r14)
  private val writerAcquireMs =
    sys.props.get("graft.online.writerAcquireMs").map(_.toLong).getOrElse(600000L)
  private def withWriterLease[A](fs: org.apache.hadoop.fs.FileSystem,
      p: String)(body: => A): A =
    graft.util.FileLease.withLock(fs, hp(p + ".writer.lock"), writerLeaseMs,
      heartbeat = true, acquireMs = writerAcquireMs)(body)

  /** The bucket count in force for a table: the persisted marker wins
    * over the configured default, so reopening an existing store with a
    * different `numBuckets` cannot misroute keys. The marker is written
    * into the staging dir BEFORE the table rename (never after), so a
    * table dir and its marker become visible atomically — there is no
    * crash window where a bucketed table exists without its marker.
    * Readers racing a swap also check the rename-aside tree. */
  private def markerAt(fs: org.apache.hadoop.fs.FileSystem, p: String): Option[Int] = {
    val marker = hp(s"$p/$BucketsMarker")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  private def effectiveBuckets(fs: org.apache.hadoop.fs.FileSystem, p: String): Int =
    Option(ParquetOnlineStore.markerCache.get(p)).getOrElse {
      val found = markerAt(fs, p).orElse(markerAt(fs, p + ".old"))
      found.foreach(n => ParquetOnlineStore.markerCache.put(p, n))
      found.getOrElse(numBuckets)
    }

  /** Written once, into the first write's staged table: later commits
    * swap buckets under it and never re-stage it. */
  private def writeBucketsMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      count: Int): Unit = {
    val out = fs.create(hp(s"$dir/$BucketsMarker"), true)
    try out.write(count.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Crash recovery, run ONLY from the write path (the mutating entry
    * points own the table; reads must never mutate — a point read racing
    * an in-flight upsert would mistake the upsert's live rename-aside
    * dir for crash leftovers and "restore" it mid-swap, corrupting the
    * layout; ADVICE r2). A crash between the rename-aside and the
    * rename-in leaves data in `p.old`: [[RenameAside.heal]] restores
    * each bucket the live tree is missing, then the leftovers clear.
    * Without this the next upsert's swap would DELETE the only surviving
    * copy. The whole-table branch heals a table whose live tree is gone
    * entirely: earlier builds swapped small tables whole, and a crash
    * mid-swap left exactly that. */
  private def recover(fs: org.apache.hadoop.fs.FileSystem, p: String): Unit = {
    val oldRoot = hp(p + ".old")
    if (fs.exists(oldRoot)) {
      if (!fs.exists(hp(p))) RenameAside.heal(fs, hp(p), oldRoot) // an earlier build's whole-table swap
      else {
        fs.listStatus(oldRoot).foreach(st =>
          RenameAside.heal(fs, hp(s"$p/${st.getPath.getName}"), st.getPath))
        fs.delete(oldRoot, true)
      }
    }
  }

  /** The shared preamble of the mutating entry points (upsert, both
    * deletes, expire, teardown): resolve the table's path and
    * filesystem, hold the writer lease, heal a crashed swap FIRST
    * (after an earlier build's crashed whole-table swap the live tree is absent and the
    * data sits in `p.old` — an exists-first return made CDC deletes
    * silent no-ops while reads kept serving the rows via the .old
    * fallback, and the next upsert's heal resurrected the tombstoned
    * keys permanently; review r12), and drop the table's serving cache
    * however `body` ends. */
  private def mutate[A](spark: SparkSession, project: String, view: String)(
      body: (org.apache.hadoop.fs.FileSystem, String) => A): A = {
    val p = path(project, view)
    try {
      val fs = hp(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      withWriterLease(fs, p) { recover(fs, p); body(fs, p) }
    } finally ParquetOnlineStore.invalidateCache(p)
  }

  /** Stage `frame` into `p.tmp` in the bucket layout. BucketCol must
    * LEAD the sort (mergedFrame's layout): without it FileFormatWriter
    * inserts its own sort on the partition column, discarding the
    * within-bucket key order the point reader's min/max skipping relies
    * on (review r12). */
  private def stage(p: String, joinKeys: Seq[String], frame: DataFrame): String = {
    val tmp = p + ".tmp"
    frame.sortWithinPartitions(col(BucketCol) +: joinKeys.map(col): _*)
      .write.mode("overwrite").partitionBy(BucketCol).parquet(tmp)
    tmp
  }

  /** The one commit of an existing table: replace its `touched` buckets
    * with the rows of `frame` (a touched bucket with no rows in it is
    * dropped, which reads tolerate). [[stage]] `frame`, then
    * [[RenameAside.swap]] each touched bucket through `p.old` — the old
    * bucket moves OUT of the dataset tree (a `bucket=3.old` dir inside
    * it would corrupt partition discovery), and `p.old` existing is the
    * readers' mid-swap signal. recover() left `p.old` empty. The table
    * dir and its bucket marker stay where they are. A table left with no
    * data file at all is dropped: its marker-only dir failed every later
    * read-back with 'Unable to infer schema', so a delete or expire of
    * the last rows wedged the table for good. */
  private def rewriteBuckets(fs: org.apache.hadoop.fs.FileSystem, p: String,
      touched: Seq[Int], joinKeys: Seq[String], frame: DataFrame): Unit = {
    val tmp = stage(p, joinKeys, frame)
    val oldRoot = hp(p + ".old")
    fs.mkdirs(oldRoot)
    touched.foreach { b =>
      RenameAside.swap(fs, hp(s"$tmp/$BucketCol=$b"), hp(s"$p/$BucketCol=$b"),
        hp(s"$oldRoot/$BucketCol=$b"))
    }
    fs.delete(oldRoot, true)
    fs.delete(hp(tmp), true)
    if (firstDataFile(fs, hp(p)).isEmpty) fs.delete(hp(p), true)
  }

  /** The one way an existing table changes (upsert, both deletes,
    * expire): read back the touched buckets (directory-pruned, in
    * `schema(touched)`), `edit` them against `probe`, and
    * [[rewriteBuckets]] the result. `every = Some(n)` touches all n
    * buckets with no discovery job — the small-store upsert, one Spark
    * job in all. `None` discovers the buckets `probe`'s `__bucket` ids
    * fall in with one job over `probe`, persisted because `edit` reads
    * it again, and returns the probe's row count per touched bucket. A
    * `laidOut` edit already ends in [[ParquetOnlineStore.mergedFrame]]'s
    * exchange; any other edit is hash-partitioned by bucket, so each
    * touched bucket is written as one file. */
  private def editBuckets(fs: org.apache.hadoop.fs.FileSystem, p: String,
      joinKeys: Seq[String], probe: DataFrame, every: Option[Int],
      schema: Seq[Int] => org.apache.spark.sql.types.StructType, laidOut: Boolean = false)(
      edit: (DataFrame, DataFrame) => DataFrame): Map[Int, Long] = {
    val cached =
      if (every.isEmpty) probe.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else probe
    try {
      val counts =
        if (every.nonEmpty) Map.empty[Int, Long]
        else cached.groupBy(BucketCol).count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val touched = every.fold(counts.keys.toSeq)(0 until _)
      if (touched.nonEmpty) {
        val edited = edit(readTable(probe.sparkSession, fs, p, schema(touched))
          .filter(col(BucketCol).isin(touched: _*)), cached)
        rewriteBuckets(fs, p, touched, joinKeys,
          if (laidOut) edited else edited.repartition(touched.size, col(BucketCol)))
      }
      counts
    } finally if (every.isEmpty) cached.unpersist()
  }

  private def bucketOf(keys: Seq[(String, Any)], buckets: Int): Int =
    (EntityKeyCodec.hashKey(keys) % buckets).toInt

  /** Spark-side bucket id over the (sorted) join-key columns — must stay
    * the driver-side bucketOf's exact twin ([[EntityBucketExpr]], the
    * native expression that hashes the canonical serialization off the
    * InternalRow without the old UDF's per-row struct boxing). */
  private def bucketExpr(joinKeys: Seq[String], buckets: Int): org.apache.spark.sql.Column =
    EntityBucketExpr.bucketId(joinKeys, buckets)

  /** Some data file under `dir`, by Spark's listing rule: `_`/`.` names
    * (`_SUCCESS`, the bucket marker, `.crc` side files) are not data,
    * `__bucket=N` partition dirs are. */
  private def firstDataFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).iterator.filterNot(st => hidden(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) firstDataFile(fs, st.getPath) else Some(st.getPath))
      .nextOption()
  }

  /** `spark.read.parquet(p)` without its schema-inference job. That
    * inference reads one data file's footer inside a Spark job (~100 ms
    * per call on 4 cores); this reads the same footer on the driver and
    * hands the schema, plus the int `__bucket` partition column, to
    * `spark.read.schema`. A table with no data file, or whose file
    * vanished under a concurrent swap, takes the inferring read.
    *
    * Each `want` field the footer lacks joins the read schema, nullable:
    * the parquet reader reads it from the files that have it and fills
    * null in the files that do not. That is how an upsert adds a feature
    * to a view whose stored files predate it — and why one footer is
    * enough even after the touched-bucket path has written the new
    * column into only some buckets. */
  private[graft] def readTable(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      p: String, want: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()): DataFrame = {
    val resolver = spark.sessionState.conf.resolver
    val schema =
      try firstDataFile(fs, hp(p)).map { f =>
        val stored = ParquetPointReader.sparkSchema(spark, f)
          .add(BucketCol, org.apache.spark.sql.types.IntegerType)
        want.filterNot(w => stored.exists(s => resolver(s.name, w.name)))
          .foldLeft(stored)((acc, w) => acc.add(w.copy(nullable = true)))
      } catch { case _: java.io.FileNotFoundException => None }
    schema.fold(spark.read.parquet(p))(spark.read.schema(_).parquet(p))
  }

  /** Every column of the `touched` buckets' files: the read-back
    * schema of a delete or expire, which must keep a column the
    * touched-bucket upsert wrote into only some buckets (one footer of
    * the whole table would drop it from every rewritten bucket whose
    * files have it). A bucket is always rewritten whole by one job, so
    * one footer per bucket covers it. */
  private def touchedSchema(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      p: String, touched: Seq[Int]): org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType(
      touched.flatMap(b => firstDataFile(fs, hp(s"$p/$BucketCol=$b")))
        .flatMap(ParquetPointReader.sparkSchema(spark, _).fields).distinctBy(_.name).toArray)

  /** Evict this table's decoded-bucket serving blocks. Bench/dev hook
    * for COLD-cache latency measurement (tools/ServingSlo); production
    * eviction is the size-bounded LRU plus write-path invalidation —
    * this just forces the next point read to re-decode its bucket. */
  def dropServingCache(project: String, view: String): Unit =
    ParquetOnlineStore.invalidateCache(path(project, view))

  def upsert(project: String, view: FeatureView, joinKeys: Seq[String],
      df: DataFrame, tsCol: String, createdCol: Option[String]): Unit =
    mutate(df.sparkSession, project, view.name) { (fs, p) =>
    val buckets = effectiveBuckets(fs, p)
    val cols = (joinKeys ++ Seq(tsCol) ++ createdCol.toSeq ++ view.featureNames).distinct
    val incoming = df.select(OnlineStore.guardNullKeys(cols, joinKeys, view.name, "upsert"): _*)
      .withColumn(BucketCol, bucketExpr(joinKeys, buckets))
    // ONE-exchange merge + layout: the latest-per-key reduction IS the
    // upsert. Grouping on (bucket, keys) — bucket is a pure function of
    // the keys, so the grain is unchanged — plans a map-side partial
    // max_by before the exchange, so the shuffle carries key-grain
    // combiners even for input-grain callers (streaming micro-batches,
    // raw materialize windows). The max_by struct buffer is not
    // UnsafeRow-mutable, so both aggregates plan as SortAggregate over
    // a full Sort on (bucket, keys), not HashAggregate (`explain`
    // shows it); the sort spills, so a bucket bigger than memory still
    // merges. After the final agg a zero-shuffle
    // sortWithinPartitions((bucket, keys)) clusters each task's output
    // so dynamic partitionBy emits one file per (task, touched bucket)
    // with key-sorted row groups — selective min/max stats for
    // point-read skipping; reads list every file in a bucket dir, so
    // several files per bucket (the cluster-scale shape — write
    // parallelism within a bucket) are fine.
    def merged(d: DataFrame): DataFrame =
      ParquetOnlineStore.mergedFrame(d, joinKeys, tsCol, createdCol,
        view.featureNames, buckets)
    if (!fs.exists(hp(p))) {
      // First write: nothing to merge — the staged table IS the store,
      // published by one rename. Marker goes into the staging dir BEFORE
      // the rename so data + marker appear atomically. An EMPTY first
      // batch (a stream's batch 0 over a not-yet-populated dir) must NOT
      // create the table: a data-less parquet dir poisons every later
      // read ('Unable to infer schema') — detected by a driver-side
      // listing for data files, not a per-batch isEmpty Spark job
      // (review r6).
      val tmp = stage(p, joinKeys, merged(incoming))
      if (firstDataFile(fs, hp(tmp)).isEmpty) fs.delete(hp(tmp), true)
      else {
        writeBucketsMarker(fs, tmp, buckets)
        RenameAside.renameOrThrow(fs, hp(tmp), hp(p), "online store publish")
      }
    } else {
      // The gate picks the touched buckets (see above the class). The
      // stored rows are read in the incoming columns; a feature added to
      // the view since the stored files were written reads as null.
      val every =
        if (fs.getContentSummary(hp(p)).getLength <= smallStoreBytes) Some(buckets) else None
      editBuckets(fs, p, joinKeys, incoming, every, _ => incoming.schema, laidOut = true) {
        (stored, in) => merged(stored.select((cols :+ BucketCol).map(col): _*).unionByName(in))
      }
    }
    }

  /** Snapshot of a view's store table (batch serving / debugging). */
  def tableDf(spark: SparkSession, project: String, view: String): DataFrame = {
    val p = path(project, view)
    readTable(spark, hp(p).getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .drop(BucketCol)
  }

  /** Keyed delete (CDC tombstones): drop the stored rows for the keys
    * in `keysDf`. Same touched-bucket discipline as upsert/expire —
    * the incoming keys route to their buckets, only those buckets
    * rewrite (left-anti on the key columns) through [[rewriteBuckets]];
    * a bucket emptied by the delete disappears, which reads tolerate. */
  override def delete(project: String, view: FeatureView, joinKeys: Seq[String],
      keysDf: DataFrame): Unit =
    deleteMatching(project, view, joinKeys, joinKeys, keysDf)

  /** VERSION-CONDITIONAL delete: remove a stored row only if it still
    * matches (joinKeys, tsCol, createdCol) EXACTLY (null-safe) —
    * "delete what I copied, never what someone else wrote since". The
    * rebalance tombstone-compensation primitive (review r16); a row
    * re-upserted with a newer version between the caller's snapshot
    * and this call survives untouched. */
  private[graft] def deleteVersions(project: String, view: FeatureView,
      joinKeys: Seq[String], versionsDf: DataFrame, tsCol: String,
      createdCol: Option[String]): Unit =
    deleteMatching(project, view, joinKeys,
      (joinKeys ++ Seq(tsCol) ++ createdCol.toSeq).distinct, versionsDf)

  /** Shared bucket-rewrite delete: drops stored rows matching `df` on
    * ALL `matchCols` (null-safe equality; matchCols == joinKeys is the
    * plain keyed delete). */
  private def deleteMatching(project: String, view: FeatureView,
      joinKeys: Seq[String], matchCols: Seq[String], df: DataFrame): Unit =
    mutate(df.sparkSession, project, view.name) { (fs, p) =>
    if (fs.exists(hp(p))) {
      val keys = df
        .select(OnlineStore.guardNullKeys(matchCols, joinKeys, view.name, "delete"): _*)
        .distinct()
        .withColumn(BucketCol, bucketExpr(joinKeys, effectiveBuckets(fs, p)))
      // null-safe anti-join over the match columns (a keyed delete
      // matches on keys alone; a version delete additionally pins the
      // exact (ts, created), where created may legitimately be null)
      val cond = matchCols.map(c => col(c) <=> col(s"__m_$c")).reduce(_ && _)
      editBuckets(fs, p, joinKeys, keys, None, touchedSchema(df.sparkSession, fs, p, _)) {
        (stored, probe) =>
          stored.join(probe.select(matchCols.map(c => col(c).as(s"__m_$c")): _*), cond, "left_anti")
      }
    }
    }

  /** TTL retention sweep: delete rows whose `tsCol` is strictly older
    * than `cutoff` — the online half of [[graft.sources.DatePartition.vacuum]]
    * (the reference leaves expired online rows in place and gates them
    * at read time, ServingService.proto:112-114; the sweep is what
    * keeps the STORE from growing without bound). Only buckets that
    * actually contain expired rows are rewritten (discovered from one
    * column-pruned scan of (bucket, ts)); survivors re-stage key-sorted
    * and swap in through [[rewriteBuckets]], so concurrent point reads
    * stay safe. A bucket left with no survivors is dropped — reads
    * already tolerate absent bucket dirs. Returns the number of expired
    * rows. */
  def expire(spark: SparkSession, project: String, view: FeatureView,
      joinKeys: Seq[String], tsCol: String, cutoff: Timestamp): Long =
    mutate(spark, project, view.name) { (fs, p) =>
    if (!fs.exists(hp(p))) 0L
    else editBuckets(fs, p, joinKeys,
        readTable(spark, fs, p).filter(col(tsCol) < lit(cutoff)).select(BucketCol), None,
        touchedSchema(spark, fs, p, _)) { (stored, _) =>
      // negation of the discovery predicate, not (ts >= cutoff): a
      // NULL-ts row is "not expired" on discovery and must survive the
      // rewrite too, or it silently vanishes uncounted (review r6)
      stored.filter(col(tsCol) >= lit(cutoff) || col(tsCol).isNull)
    }.values.sum
    }

  def read(project: String, view: FeatureView, joinKeys: Seq[String],
      entityKeys: Seq[Seq[(String, Any)]],
      features: Seq[String]): Seq[(Option[Timestamp], Map[String, FeatureValue])] = {
    // NO Spark job on this path (SURVEY §3.3): prune to the buckets the
    // requested keys hash into, then read those bucket files directly on
    // the serving thread via parquet-mr and match keys by canonical
    // serialization. Cost is O(rows in touched buckets), independent of
    // store size; for ms-latency front with InMemoryOnlineStore.
    val hconf = SparkSession.active.sparkContext.hadoopConfiguration
    // the stored event-ts column is whatever the WRITER passed to
    // upsert: batch materialize passes the batch source's name, the
    // stream materializer the stream source's — a view whose two
    // sources name their ts differently previously read None here and
    // silently disabled the staleness gate (rows older than ttl served
    // PRESENT instead of OUTSIDE_MAX_AGE; review r12). Try both.
    val tsCands = (view.batchSource.eventTimestampColumn +:
      view.streamSource.toSeq.map(_.eventTimestampColumn)).distinct
    val p = path(project, view.name)
    val fsys = hp(p).getFileSystem(hconf)
    // Reads NEVER run recovery (ADVICE r2): a read racing an in-flight
    // upsert would mistake the upsert's live rename-aside dir for crash
    // leftovers and mutate the table mid-swap. Instead reads are
    // mutation-free and tolerate mid-swap state: a bucket dir missing
    // from the live tree is looked up in the rename-aside tree
    // (`p.old`) before reporting NOT_FOUND — that copy is at worst one
    // batch stale, which an online read racing a write may observe
    // anyway. Actual crash leftovers are healed by the next upsert.
    val nb = effectiveBuckets(fsys, p)
    val buckets = entityKeys.map(k => bucketOf(k, nb)).distinct
    def bucketFiles(root: String, b: Int): Seq[org.apache.hadoop.fs.Path] = {
      val dir = hp(s"$root/$BucketCol=$b")
      try {
        if (!fsys.exists(dir)) Nil
        else fsys.listStatus(dir).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
      } catch {
        // Dir deleted between exists() and listStatus() by a concurrent
        // swap finishing — same as not present; caller re-checks live.
        case _: java.io.FileNotFoundException => Nil
      }
    }
    // per-bucket resolution, keeping WHICH buckets resolved empty — the
    // empty-race retry below must trigger when ANY requested bucket is
    // empty mid-swap, not only when all are (review r13: a two-bucket
    // read whose second bucket hit the window still served NOT_FOUND
    // while the first bucket's files made the global list non-empty)
    def resolveFiles(): (Seq[org.apache.hadoop.fs.Path], Boolean) = {
      val perBucket = buckets.map { b =>
        val live = bucketFiles(p, b)
        if (live.nonEmpty) live
        else {
          val aside = bucketFiles(p + ".old", b)
          // Both empty can mean the swap completed (deleting `.old`)
          // between our two looks — the bucket is back in the live tree
          // now, so look there once more before concluding NOT_FOUND.
          if (aside.nonEmpty) aside else bucketFiles(p, b)
        }
      }
      (perBucket.flatten, perBucket.exists(_.isEmpty))
    }
    // Serving block cache (see companion): each small bucket file
    // decodes + indexes once per version — point reads after that are
    // O(requested keys) lookups; oversized files stay on the
    // row-group-pruned streaming decode.
    //
    // Bounded mid-swap RETRY: between listing a bucket's files and
    // opening them, a concurrent swap's rename/delete can land — the
    // listed file then stats/opens as FileNotFound. That is a race
    // signal, never absence (an absent bucket lists empty, no
    // exception), so re-resolve from the live tree and retry with a
    // tiny backoff; the swap window is milliseconds, one retry
    // converges in practice. Past the bound the FNF propagates loudly —
    // at that point the table is actually damaged, and a silent
    // NOT_FOUND would be worse (the serve-during-maintenance stress
    // caught exactly the pre-r13 silent path).
    val prune = Some(joinKeys.head -> entityKeys.map(_.toMap.apply(joinKeys.head)))
    var hits: Map[String, Map[String, Any]] = null
    var attempt = 0
    // previous pass's resolution, for the NO-PROGRESS early exit: an
    // ORPHANED `.old` dir from a crashed swap otherwise made every
    // read of a genuinely absent bucket pay the full ~126 ms backoff
    // forever (ADVICE r13). Identical consecutive listings mean no
    // swap is making progress — but only AFTER at least two backoff
    // sleeps (~6 ms of window): a live swap sits between rename-out
    // and rename-in for a moment, and accepting the first identical
    // pair (~2 ms apart) would re-open the very false-NOT_FOUND race
    // this retry exists to close (review r14). The orphaned-.old
    // penalty drops 126 ms → ~6 ms; a genuinely absent bucket with no
    // .old dir still returns immediately with no retry at all.
    //
    // SECOND orphan signal (ADVICE r14): identical listings alone are
    // a thin ~6 ms window — a LIVE writer stalled between rename-out
    // and rename-in by an ordinary GC pause (> ~6 ms, exactly under
    // the churn storms the writer lease targets) would take the early
    // exit and serve a false NOT_FOUND the old ~126 ms envelope
    // absorbed. A truly orphaned `.old` is a crash LEFTOVER, so its
    // mtime is old; a live swap just mkdirs'd / renamed into it, so
    // its mtime is fresh. Require BOTH: no listing progress AND a
    // stale `.old` root. A crash younger than the bound pays the full
    // envelope a few times, then ages into the fast path. (Object
    // stores with synthetic dir mtimes degrade to stale = the r13
    // behavior, never worse.)
    def oldRootStale(): Boolean =
      try System.currentTimeMillis() -
        fsys.getFileStatus(hp(p + ".old")).getModificationTime >
          ParquetOnlineStore.OrphanedOldStaleMs
      catch { case _: java.io.FileNotFoundException => true }
    var prevPass: Seq[String] = null
    while (hits == null) {
      try {
        val (files, someEmpty) = resolveFiles()
        val thisPass = files.map(_.toString).sorted
        // ANY requested bucket resolving EMPTY while the rename-aside
        // root exists is the other race shape (a second swap's
        // rename-out landing between our re-checks) — same retry; a
        // genuinely absent bucket (no swap in flight) stays a clean
        // NOT_FOUND with no exception and no retry
        if (someEmpty && attempt < 6 && fsys.exists(hp(p + ".old")) &&
            !(attempt >= 2 && thisPass == prevPass && oldRootStale())) {
          prevPass = thisPass
          attempt += 1
          Thread.sleep(1L << attempt)
        } else hits = files
          .map(f => ParquetOnlineStore.cachedFileIndex(fsys, hconf, f, joinKeys, prune))
          .foldLeft(Map.empty[String, Map[String, Any]])(_ ++ _)
      } catch {
        // IOException, not just FileNotFound: a dir vanishing MID-LIST
        // surfaces as AccessDeniedException on the local fs (Hadoop
        // throws it when File.list() returns null) and as "Invalid
        // directory" from the parquet reader — all the same race. The
        // attempt bound keeps a persistent real failure loud: it still
        // propagates after ~126 ms of retries.
        case _: java.io.IOException if attempt < 6 =>
          // an exception IS progress evidence (a swap's rename landed
          // mid-decode) — the no-progress early exit must not fire off
          // a pass separated by one
          prevPass = null
          attempt += 1
          Thread.sleep(1L << attempt) // 2..64 ms, ~126 ms worst case
      }
    }
    entityKeys.map(key => OnlineStore.readBack(hits.get(EntityKeyCodec.hexKey(key)).map(m =>
      (tsCands.iterator.map(m.get).collectFirst { case Some(t: Timestamp) => t }, m)), features))
  }

  def teardown(project: String, views: Seq[FeatureView]): Unit =
    views.foreach(v => mutate(SparkSession.active, project, v.name) { (fs, p) =>
      // Delete crash leftovers too: a `.old` tree surviving teardown
      // would resurrect torn-down rows through the read fallback, and
      // its stale bucket-count marker would override the configured one
      // for the next store at this path. Leased like every mutating
      // path — a teardown racing an in-flight upsert's swap would
      // otherwise leave the upsert's staged tree as the resurrected
      // table.
      Seq(p, p + ".old", p + ".tmp").foreach(d => fs.delete(hp(d), true))
    })
}
