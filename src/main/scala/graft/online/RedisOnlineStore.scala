package graft.online

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.model.FeatureView

/** Redis-backed online store — the networked production KV adapter the
  * reference ships as its primary online store (reference
  * `sdk/python/feast/infra/online_stores/redis.py:60-215`), speaking
  * the public RESP protocol through [[RespClient]] (no client library
  * needed — the env has none, and the protocol is 5 commands).
  *
  * Layout (reference redis.py:129-160 adapted to this engine's
  * one-row-per-entity model): one Redis HASH per entity key, at
  * `"<project>:<view>:<entityKeyHex>"`, fields `_ts` (epoch millis,
  * decimal string), `_cts` (optional) and `payload` (the
  * [[ValueCodec]] binary feature map — the reference stores one hash
  * field per feature as protobuf `Value`; one binary map per entity
  * halves the field count and keeps LWW atomic per entity).
  *
  * Writes are PIPELINED in two phases per batch: batched `HGET _ts`
  * for the incoming keys, then `HSET` only where the incoming row is
  * strictly newer by `(event_ts, created_ts)` — the same
  * check-then-write the reference performs per key
  * (redis.py:192-209), batched. Teardown is cursor-`SCAN MATCH` over
  * the view's key prefix + batched `DEL`.
  */
class RedisOnlineStore(host: String, port: Int)
  extends RespStore(host, port, RedisOnlineStore)

object RedisOnlineStore extends RespStore.Layout {
  import RespClient._

  private[online] def key(project: String, view: String,
      kvs: Seq[(String, Any)]): Array[Byte] =
    bytes(s"$project:$view:${EntityKeyCodec.hexKey(kvs)}")

  private[online] def writeCommands(c: RespClient, project: String, view: String,
      cols: ExternalStore.Cols, batch: Seq[Row]): Seq[Seq[Array[Byte]]] = {
    val keys = batch.map(r => key(project, view, cols.key(r)))
    // phase 1: pipelined staleness probe
    val existing = c.pipeline(keys.map(k => Seq(bytes("HGET"), k, bytes("_ts")))).map {
      case Bulk(null) => None
      case Bulk(ts) => Some(new String(ts, UTF_8).toLong)
      case other => throw new IllegalStateException(s"HGET _ts: $other")
    }
    // phase 2: conditional writes (strictly-newer or equal-ts LWW,
    // matching the engine-wide (ts, created) contract: equal event_ts
    // falls through to overwrite, which the sorted-merge stores resolve
    // by created/payload — acceptable for a KV store, same as the
    // reference)
    batch.lazyZip(keys).lazyZip(existing).flatMap { (r, k, ex) =>
      val et = cols.eventTs(r)
      // null event_ts is valid engine-wide (the parquet store's
      // expire preserves such rows); treat it as minus infinity
      // in the LWW compare instead of NPE-ing the task
      val etMs = if (et == null) Long.MinValue else et.getTime
      if (!ex.forall(_ <= etMs)) Nil
      else {
        val tsFields = if (et == null) Nil else Seq(bytes("_ts"), bytes(etMs.toString))
        val ctFields = Option(cols.createdTs(r)).toSeq
          .flatMap(ct => Seq(bytes("_cts"), bytes(ct.getTime.toString)))
        val hset = Seq(bytes("HSET"), k) ++ tsFields ++
          Seq(bytes("payload"), ValueCodec.encodeMap(cols.values(r))) ++ ctFields
        // null event_ts: omit the _ts field entirely so the read
        // path round-trips None (null-ts parity with the parquet
        // store); an absent _ts also keeps the row
        // always-overwritable in the phase-1 probe, which is the
        // minus-infinity LWW semantics. A null-ts write can only
        // land on a key whose probe returned <= MinValue — i.e.
        // _ts absent, or the Long.MinValue SENTINEL a pre-r7
        // writer stored for null ts. HDEL clears that legacy
        // sentinel (HSET merges fields, so it would otherwise
        // survive and read back as a year −292M timestamp);
        // deleting an absent field is a no-op.
        if (et == null) Seq(Seq(bytes("HDEL"), k, bytes("_ts")), hset) else Seq(hset)
      }
    }
  }

  private[online] def decoder(view: String, features: Seq[String])
      : Map[String, Array[Byte]] => (Option[Timestamp], Map[String, Any]) = fields =>
    (fields.get("_ts").map(v => new Timestamp(new String(v, UTF_8).toLong)),
      fields.get("payload").map(ValueCodec.decodeMap).getOrElse(Map.empty))

  private[online] def teardown(c: RespClient, project: String,
      views: Seq[FeatureView]): Unit =
    views.foreach(v => RespStore.scan(c, Some(s"$project:${v.name}:*"))(ks =>
      c.command(bytes("DEL") +: ks)))
}
