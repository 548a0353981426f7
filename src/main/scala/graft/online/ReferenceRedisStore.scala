package graft.online

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.model.FeatureView
import graft.serving.{FeastProto, ProtoWire}

/** Redis online store in the REFERENCE's exact byte layout
  * (`online_stores/redis.py:133-215` + `helpers.py:40-56`) — the
  * interop adapter: a graft deployment can read a Redis keyspace the
  * reference populated, or populate one the reference's serving reads.
  * Layout, byte for byte:
  *
  *  - key: the protobuf wire encoding of
  *    `RedisKey{project=1, entity_names=2, entity_values=3}`
  *    ([[EntityKeyCodec.referenceRedisKey]]) — a BINARY key
  *  - per feature: field name = `_mmh3("{view}:{feature}")` (murmur3_32
  *    seed-0, 4 LE bytes — [[EntityKeyCodec.referenceFeatureFieldName]]),
  *    value = the `feast.types.Value` protobuf ([[FeastProto]])
  *  - `_ts:{view}`: `google.protobuf.Timestamp{seconds}` of the row's
  *    event time; `_ex:{view}`: Timestamp{seconds=253402300799}
  *    (redis.py:38 EX_SECONDS — the reference's "never expires"
  *    sentinel)
  *
  * Write semantics are the reference's own: UNCONDITIONAL overwrite
  * per entity key (redis.py:155-166 performs no staleness probe) —
  * within one upsert the internal latest-per-key reduction collapses
  * duplicates before any round-trip, across upserts the last
  * writer wins by arrival, exactly as the reference behaves. Callers
  * needing cross-batch (ts, created) LWW use [[RedisOnlineStore]];
  * this adapter's contract is byte compatibility, not a stronger one.
  * Reads HGETALL the hash and pick the `_mmh3` fields (a superset of
  * the reference's HMGET of the same names — identical decode).
  */
class ReferenceRedisStore(host: String, port: Int)
  extends RespStore(host, port, ReferenceRedisStore)

object ReferenceRedisStore extends RespStore.Layout {
  import RespClient.bytes

  private def tsProto(seconds: Long): Array[Byte] =
    FeastProto.encodeTimestamp(seconds).toBytes

  private def tsField(view: String): Array[Byte] = bytes(s"_ts:$view")
  private def exField(view: String): Array[Byte] = bytes(s"_ex:$view")
  private val ExSeconds = 253402300799L // redis.py:38

  private[online] def key(project: String, view: String,
      kvs: Seq[(String, Any)]): Array[Byte] =
    EntityKeyCodec.referenceRedisKey(project, kvs)

  private[online] def writeCommands(c: RespClient, project: String, view: String,
      cols: ExternalStore.Cols, batch: Seq[Row]): Seq[Seq[Array[Byte]]] = {
    // row-invariant bytes hoisted out of the row loop: field
    // names, the _ex sentinel, and the HSET verb never change
    val (hset, tsF, exF, exV) = (bytes("HSET"), tsField(view), exField(view), tsProto(ExSeconds))
    val featFields = cols.feats.map(f => EntityKeyCodec.referenceFeatureFieldName(view, f))
    batch.map { r =>
      val et = cols.eventTs(r)
      Seq(hset, key(project, view, cols.key(r)),
        tsF, tsProto(if (et == null) 0L else et.getTime / 1000L), exF, exV) ++
        featFields.zip(cols.values(r)).flatMap { case (name, (_, v)) =>
          Seq(name, FeastProto.encodeValue(v).toBytes)
        }
    }
  }

  private[online] def decoder(view: String, features: Seq[String])
      : Map[String, Array[Byte]] => (Option[Timestamp], Map[String, Any]) = {
    // per-call invariants: one murmur3 per FEATURE, not per
    // (entity key, feature) — this is the ms-latency path
    val tsName = new String(tsField(view), ISO_8859_1)
    val featNames = features.map(f =>
      f -> new String(EntityKeyCodec.referenceFeatureFieldName(view, f), ISO_8859_1))
    fields => (
      fields.get(tsName).flatMap { b =>
        val secs = FeastProto.decodeTimestampSeconds(new ProtoWire.Reader(b))
        if (secs == 0) None else Some(new Timestamp(secs * 1000L))
      },
      featNames.flatMap { case (f, name) =>
        fields.get(name).map(b => f -> FeastProto.decodeValue(new ProtoWire.Reader(b)))
      }.toMap)
  }

  /** CDC tombstones (the shared keyed delete) remove whole hash keys:
    * the reference has no delete path for redis (its teardown deletes
    * whole tables); deleting the per-view FIELDS would strand sibling
    * views' data, so delete the hash keys — correct when one view owns
    * the keyspace, the reference's own deploy shape.
    *
    * Teardown, though, is scoped to the GIVEN views, like every other
    * store: the hash keys of this layout are SHARED across views (one
    * hash per entity key, fields namespaced by view), so DELing whole
    * keys would destroy sibling views' serving data. Instead HDEL each
    * view's own fields (_ts/_ex + its mmh3 feature names); Redis
    * removes a hash key when its last field goes, so tearing down
    * every view of a project leaves no keys. Candidate keys come from
    * a cursor SCAN filtered client-side by the project's RedisKey
    * prefix (the length-prefix byte makes project-name prefixes
    * collision-safe; the prefix is binary, so glob-escaping it is not
    * worth the trip saved). */
  private[online] def teardown(c: RespClient, project: String,
      views: Seq[FeatureView]): Unit = {
    val prefixW = new ProtoWire.Writer
    prefixW.stringField(1, project)
    val prefix = new String(prefixW.toBytes, ISO_8859_1)
    val viewFields: Seq[Array[Byte]] = views.flatMap { v =>
      tsField(v.name) +: exField(v.name) +:
        v.featureNames.map(f => EntityKeyCodec.referenceFeatureFieldName(v.name, f))
    }
    if (viewFields.nonEmpty) RespStore.scan(c, None) { ks =>
      c.pipeline(ks.filter(k => new String(k, ISO_8859_1).startsWith(prefix))
        .map(k => bytes("HDEL") +: k +: viewFields))
    }
  }
}
