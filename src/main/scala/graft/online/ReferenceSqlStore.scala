package graft.online

import java.sql.{Connection, ResultSet}

import org.apache.spark.sql.Row

import graft.serving.{FeastProto, ProtoWire}

/** SQL online store in the REFERENCE's exact row layout
  * (`online_stores/sqlite.py:75-188`) — the interop twin of
  * [[ReferenceRedisStore]] for the reference's DEFAULT (sqlite) store:
  *
  *  - table `{project}_{view}` (the reference's `_table_id`,
  *    sqlite.py:198-199 — no sanitization there either; names must be
  *    valid SQL identifiers), one row per (entity_key, feature_name),
  *    primary key on the pair plus an entity_key index
  *  - `entity_key` = the v1 `serialize_entity_key` BYTES
  *    ([[EntityKeyCodec.referenceSerializeEntityKey]])
  *  - `value` = the `feast.types.Value` protobuf ([[FeastProto]]); a
  *    null feature value stores the EMPTY proto, exactly like the
  *    reference serializing a default `Value()`
  *  - `event_ts`/`created_ts` = naive-UTC timestamps (sqlite.py
  *    `_to_naive_utc`; bound here through a UTC calendar so executor
  *    and driver JVM timezones cannot shift the instant)
  *
  * Write semantics are the reference's own UPDATE-then-INSERT-OR-IGNORE
  * per (key, feature) — an UNCONDITIONAL overwrite with no staleness
  * probe (sqlite.py:96-126); within one upsert the internal
  * latest-per-key reduction collapses duplicates, across upserts the
  * last writer wins by arrival. A feature the write does not mention
  * keeps its row. Reads follow sqlite.py:129-164: all rows of the
  * entity key, features decoded from Value protos, the row timestamp
  * as the response ts (max over rows here — the reference takes
  * iteration order's last, an arbitrary tie the SQL layer shouldn't
  * reproduce). teardown DROPs the views' tables, the reference's own
  * `teardown` (sqlite.py:186-196); expire counts FEATURE rows, this
  * layout's row grain.
  *
  * Dialect note: against a sqlite JDBC driver the DDL is the
  * reference's own (`entity_key BLOB, ... PRIMARY KEY(entity_key,
  * feature_name)`). The in-sandbox database is embedded Derby (the one
  * JDBC engine on Spark's classpath), whose byte-typed indexed column
  * spells `VARCHAR (8192) FOR BIT DATA`; the STORED BYTES — the
  * interop surface — are identical either way and byte-pinned in
  * EngineSpec.
  */
class ReferenceSqlStore(url: String) extends JdbcStore(url, ReferenceSqlStore)

object ReferenceSqlStore
    extends JdbcStore.Layout(keyCol = "entity_key", valueCols = "feature_name, value") {
  import JdbcStore.writeRows

  /** sqlite.py:198-199 `_table_id` — verbatim, including the absence of
    * sanitization: interop means using the reference's names. */
  private[online] def table(project: String, view: String): String =
    s"${project}_$view"

  // reference DDL (sqlite.py:180-184) in Derby's dialect: BLOB
  // cannot key/index in Derby, so the byte-typed indexed column is
  // VARCHAR FOR BIT DATA — the stored bytes are identical. 8192 is
  // the largest declared size whose MAX-length keys Derby still
  // indexes (probed: 2048/4096 hit the btree page limit, 8192
  // auto-sizes pages) — far beyond any practical serialized entity
  // key; the reference's sqlite BLOB is unbounded but 8 KB of join
  // keys would break its serving long before this column does
  private[online] def ddl(t: String): Seq[String] = Seq(
    s"""CREATE TABLE $t (
       |  entity_key VARCHAR (8192) FOR BIT DATA NOT NULL,
       |  feature_name VARCHAR (256) NOT NULL,
       |  value BLOB,
       |  event_ts TIMESTAMP,
       |  created_ts TIMESTAMP,
       |  PRIMARY KEY (entity_key, feature_name))""".stripMargin,
    s"CREATE INDEX ${t}_ek ON $t (entity_key)")

  /** The table is per-(project, view), so deleting the key's rows is
    * exactly the view-scoped delete. */
  private[online] def key(kvs: Seq[(String, Any)]): Any =
    EntityKeyCodec.referenceSerializeEntityKey(kvs)
  private[online] def values(rs: ResultSet): Map[String, Any] =
    Map(rs.getString(3) -> FeastProto.decodeValue(new ProtoWire.Reader(rs.getBytes(4))))

  /** The reference's UPDATE-then-INSERT-OR-IGNORE pair per (key,
    * feature), with the insert attempted only on a missed update (same
    * net rows, one statement on the common path). */
  private[online] def write(conn: Connection, t: String, cols: ExternalStore.Cols,
      rows: Iterator[Row]): Unit =
    writeRows(conn,
      s"UPDATE $t SET value = ?, event_ts = ?, created_ts = ? " +
        "WHERE entity_key = ? AND feature_name = ?",
      s"INSERT INTO $t (entity_key, feature_name, value, event_ts, created_ts) " +
        "VALUES (?, ?, ?, ?, ?)",
      rows.map { r =>
        val (k, et, ct) = (key(cols.key(r)), cols.eventTs(r), cols.createdTs(r))
        cols.values(r).map { case (f, v) =>
          val value = FeastProto.encodeValue(v).toBytes
          (Seq(value, et, ct, k, f), Seq(k, f, value, et, ct))
        }
      })
}
