package graft.online

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.sql.{Connection, ResultSet, Timestamp}

import org.apache.spark.sql.Row

/** JDBC-backed online store — the SQL-database analog of the reference's
  * sqlite online store (reference
  * `sdk/python/feast/infra/online_stores/sqlite.py:76-164`) and the
  * demonstration of the external-KV adapter seam: the engine talks to a
  * real external protocol (JDBC) through the same `OnlineStore` trait the
  * reference uses for redis/dynamodb/datastore, so plugging a server
  * store is a URL + driver choice, not an engine change.
  *
  * Layout: one table per (project, view), one row per entity key —
  * `(entity_key VARCHAR PK, event_ts, created_ts, payload BLOB)` where
  * `entity_key` is the canonical hex serialization ([[EntityKeyCodec]])
  * and `payload` is a type-tagged binary map of the view's feature
  * values ([[ValueCodec]]). The reference stores one row per
  * (entity_key, feature_name); one row per entity halves round-trips and
  * makes last-write-wins atomic per entity — our upserts always carry a
  * view's full feature row, so per-feature granularity buys nothing.
  *
  * Writes are last-write-wins by `(event_ts, created_ts)` enforced IN
  * SQL ([[JdbcOnlineStore.lwwWriteRows]]) — the UPDATE's WHERE clause
  * rejects stale rows, so streaming replays are idempotent regardless
  * of arrival order, same contract as the other stores.
  */
class JdbcOnlineStore(url: String)
  extends JdbcStore(url, JdbcOnlineStore) with RingMarkedStore {
  import JdbcOnlineStore._
  import JdbcStore._

  /** Shard identity for ring-validation errors — the URL up to the
    * first ';' OR '?' (Derby-style attributes and query-parameter
    * credentials both stay out of error messages and logs; the
    * database locator alone identifies the shard). */
  private[online] def shardLabel: String = url.takeWhile(c => c != ';' && c != '?')

  // ---- ring membership marker (VERDICT r15 #1) -----------------------
  // One G_RING row per shard DATABASE: a sharded_jdbc ring's `urls`
  // list is positional, and before this marker a reordered list
  // silently misrouted every key — the exact hazard the parquet
  // shards' `_graft_ring` file already caught. Same persisted-marker-
  // wins discipline, same validation point (once per composite open).
  // Two ring positions sharing one database URL would collide here —
  // loudly, by position mismatch — which is correct: their DATA tables
  // (named by (project, view) only) already collide silently.

  /** The persisted (position, size, salt); None before first mutating
    * use through a composite (missing table = never marked). */
  def readRingMarker(): Option[(Int, Int, String)] =
    onlyRow("ring marker", RingTable,
      query(url, s"SELECT ring_pos, ring_size, ring_salt FROM $RingTable", Nil)(
        rs => (rs.getInt(1), rs.getInt(2), rs.getString(3))))

  def writeRingMarker(position: Int, size: Int, salt: String): Unit =
    replaceRow(RingTable,
      "ring_pos INT NOT NULL, ring_size INT NOT NULL, ring_salt VARCHAR(256) NOT NULL",
      Seq(position, size, salt))

  /** Grow-pending marker ([[RingMarkedStore.readPendingSize]]): one
    * G_RING_PENDING row per shard database, the JDBC twin of the
    * parquet `_graft_ring_pending` file. */
  def readPendingSize(): Option[(Int, String)] =
    onlyRow("grow-pending marker", PendingTable,
      query(url, s"SELECT pending_size, ring_salt FROM $PendingTable", Nil)(
        rs => (rs.getInt(1), rs.getString(2))))

  def writePendingSize(pending: Int, salt: String): Unit =
    replaceRow(PendingTable, "pending_size INT NOT NULL, ring_salt VARCHAR(256) NOT NULL",
      Seq(pending, salt))

  def clearPendingSize(): Unit =
    executeAll(url, s"DELETE FROM $PendingTable", Iterator(Nil))

  /** A marker table's one row. The writer replaces the row
    * transactionally, so a second row means external tampering — same
    * investigate-don't-route-over rule as a corrupt parquet ring
    * marker. */
  private def onlyRow[A](marker: String, t: String, rows: Seq[A]): Option[A] = {
    require(rows.size <= 1, s"$marker table $t at $shardLabel holds more than one row " +
      "— a corrupt marker must be investigated, not silently re-routed over")
    rows.headOption
  }

  /** Upsert THE one row of marker table `t` transactionally
    * (delete-then-insert so a refresh — commitRingMarkers after a grow
    * — replaces cleanly). */
  private def replaceRow(t: String, columns: String, values: Seq[Any]): Unit =
    withConnection(url) { conn =>
      createIfAbsent(conn, Seq(s"CREATE TABLE $t ($columns)"))
      transaction(conn) {
        val del = conn.createStatement()
        try del.executeUpdate(s"DELETE FROM $t") finally del.close()
        val ins = conn.prepareStatement(
          s"INSERT INTO $t VALUES (${values.map(_ => "?").mkString(", ")})")
        try { bindAll(ins, values, utcCalendar()); ins.executeUpdate() } finally ins.close()
        conn.commit()
      }
    }

  // ---- raw-row seam for ring rebalance (VERDICT r15 #1 stretch) ------
  // Moving a key between two JDBC shards never needs the payload
  // decoded: both ends store the identical (entity_key hex, event_ts,
  // created_ts, payload BLOB) layout, so the composite's rebalance
  // routes on the stored hex and ships rows byte-for-byte.

  /** One keyset page: rows ordered by entity_key, strictly after
    * `afterKey`, at most `limit`. Keyset (not OFFSET) pagination so a
    * caller that DELETES processed rows between pages still advances
    * correctly, and no ResultSet stays open across the caller's own
    * statements (scan-while-delete lock contention). Missing table =
    * empty (never materialized). */
  private[graft] def pageRaw(project: String, view: String,
      afterKey: Option[String], limit: Int): Seq[RawRow] = {
    val utc = utcCalendar()
    query(url,
      s"""SELECT entity_key, event_ts, created_ts, payload FROM ${tableNameFor(project, view)}
         | WHERE entity_key > ? ORDER BY entity_key
         | FETCH FIRST $limit ROWS ONLY""".stripMargin,
      // hex is lowercase [0-9a-f], "" precedes all
      Seq(afterKey.getOrElse(""))) { r =>
      RawRow(r.getString(1), r.getTimestamp(2, utc), r.getTimestamp(3, utc), r.getBytes(4))
    }
  }

  /** LWW-upsert raw rows — the same UPDATE-with-predicate / INSERT /
    * retry dance the distributed write path runs, sharing ONE
    * implementation ([[JdbcOnlineStore.lwwWriteRows]]) so the two
    * cannot drift. Driver-side by design: rebalance ships the moved
    * sliver, not the corpus. */
  private[graft] def upsertRaw(project: String, view: String,
      rows: Seq[RawRow]): Unit =
    if (rows.nonEmpty) withConnection(url) { conn =>
      val t = tableNameFor(project, view)
      createIfAbsent(conn, ddl(t))
      lwwWriteRows(conn, t, rows.iterator)
    }

  /** VERSION-CONDITIONAL delete: remove each row only if it still
    * carries exactly the given (event_ts, created_ts) — "delete what I
    * copied, never what someone else wrote since". The rebalance
    * tombstone-compensation primitive (review r16). */
  private[graft] def deleteRawVersions(project: String, view: String,
      rows: Seq[RawRow]): Unit =
    if (rows.nonEmpty) executeAll(url,
      s"""DELETE FROM ${tableNameFor(project, view)} WHERE entity_key = ? AND event_ts = ?
         | AND COALESCE(created_ts, $TsFloor) = COALESCE(?, $TsFloor)""".stripMargin,
      rows.iterator.map(r => Seq(r.hex, r.ts, r.created)))

  /** Which of `hexes` currently exist in the table — the rebalance
    * vanished-row probe. Missing table = none. */
  private[graft] def presentHexes(project: String, view: String,
      hexes: Seq[String]): Set[String] =
    selectIn(url, tableNameFor(project, view), keyCol, keyCol, hexes)(_.getString(1)).toSet
}

object JdbcOnlineStore extends JdbcStore.Layout(keyCol = "entity_key", valueCols = "payload") {
  import JdbcStore._

  /** The per-database ring-membership marker table (see
    * [[RingMarkedStore]]). Named OUTSIDE the `G_<view>_<hash>` data
    * namespace: `tableNameFor`'s hash suffix means no (project, view)
    * pair can produce "G_RING". */
  private[online] val RingTable = "G_RING"
  private[online] val PendingTable = "G_RING_PENDING"

  /** One stored row in its wire form — the unit the rebalance seam
    * moves between shards without decoding the payload. */
  private[graft] final case class RawRow(
      hex: String, ts: Timestamp, created: Timestamp, payload: Array[Byte])

  /** Collision-safe identifier: a sanitized readable prefix plus a
    * 64-bit hash of the RAW (project, view) pair, length-prefixed so no
    * separator char can be spoofed by a name. Sanitize-and-concat alone
    * maps distinct pairs to one table — ("graft","ci_stats") vs
    * ("graft_ci","stats"), or any punctuation collapsing to '_' —
    * silently mixing two views' rows; and an unbounded name blows
    * Derby's 128-char identifier limit. */
  private[graft] def tableNameFor(project: String, view: String): String = {
    val raw = s"${project.length}:$project:$view".getBytes("UTF-8")
    val h = java.lang.Long.toHexString(EntityKeyCodec.murmur3x64_128(raw)._1)
    val safe = s"${project}_$view".map(c => if (c.isLetterOrDigit) c else '_').take(100)
    s"G_${safe}_$h"
  }

  /** COALESCE floor for null created_ts in the LWW comparison. */
  private val TsFloor = "TIMESTAMP('0001-01-01 00:00:00')"

  /** Derby embedded URL for a database directory (`;create=true`). */
  def derbyUrl(dbDir: String): String = s"jdbc:derby:$dbDir;create=true"

  private[online] def table(project: String, view: String): String =
    tableNameFor(project, view)

  private[online] def ddl(t: String): Seq[String] = Seq(
    s"""CREATE TABLE $t (
       |  entity_key VARCHAR(4096) NOT NULL PRIMARY KEY,
       |  event_ts TIMESTAMP NOT NULL,
       |  created_ts TIMESTAMP,
       |  payload BLOB NOT NULL)""".stripMargin)

  private[online] def key(kvs: Seq[(String, Any)]): Any = EntityKeyCodec.hexKey(kvs)
  private[online] def values(rs: ResultSet): Map[String, Any] =
    ValueCodec.decodeMap(rs.getBytes(3))

  /** Encode each row to its wire form and run the shared LWW writer. */
  private[online] def write(conn: Connection, t: String, cols: ExternalStore.Cols,
      rows: Iterator[Row]): Unit =
    lwwWriteRows(conn, t, rows.map(r => RawRow(EntityKeyCodec.hexKey(cols.key(r)),
      cols.eventTs(r), cols.createdTs(r), ValueCodec.encodeMap(cols.values(r)))))

  /** THE LWW row writer: [[JdbcStore.writeRows]] with the predicate in
    * the UPDATE, so a miss may be a strictly newer stored row and the
    * duplicate-key retry lets the predicate decide. Caller ensures the
    * table exists. */
  private[online] def lwwWriteRows(conn: Connection, t: String,
      rows: Iterator[RawRow]): Unit =
    writeRows(conn,
      s"""UPDATE $t SET event_ts = ?, created_ts = ?, payload = ?
         | WHERE entity_key = ?
         |   AND (event_ts < ?
         |     OR (event_ts = ?
         |         AND COALESCE(created_ts, $TsFloor) <= COALESCE(?, $TsFloor)))""".stripMargin,
      s"INSERT INTO $t (entity_key, event_ts, created_ts, payload) VALUES (?, ?, ?, ?)",
      rows.map(r => Seq((Seq(r.ts, r.created, r.payload, r.hex, r.ts, r.ts, r.created),
        Seq(r.hex, r.ts, r.created, r.payload)))))
}

/** Type-tagged binary codec for feature-value maps stored as BLOBs —
  * the analog of the reference's protobuf `Value` serialization
  * (reference `sdk/python/feast/type_map.py`), over the engine's
  * supported feature types: null, boolean, int32/64, float/double,
  * string, bytes, timestamp, and arrays of any of these. */
object ValueCodec {

  private val TNull: Byte = 0
  private val TBool: Byte = 1
  private val TInt: Byte = 2
  private val TLong: Byte = 3
  private val TFloat: Byte = 4
  private val TDouble: Byte = 5
  private val TString: Byte = 6
  private val TBytes: Byte = 7
  private val TTimestamp: Byte = 8
  private val TSeq: Byte = 9

  def encodeMap(values: Seq[(String, Any)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(values.size)
    values.foreach { case (name, v) => out.writeUTF(name); write(out, v) }
    out.flush()
    bos.toByteArray
  }

  def decodeMap(bytes: Array[Byte]): Map[String, Any] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    (0 until n).map(_ => in.readUTF() -> read(in)).toMap
  }

  private def write(out: DataOutputStream, v: Any): Unit = v match {
    case null => out.writeByte(TNull)
    case b: Boolean => out.writeByte(TBool); out.writeBoolean(b)
    case i: Int => out.writeByte(TInt); out.writeInt(i)
    case l: Long => out.writeByte(TLong); out.writeLong(l)
    case f: Float => out.writeByte(TFloat); out.writeFloat(f)
    case d: Double => out.writeByte(TDouble); out.writeDouble(d)
    case s: String => out.writeByte(TString); out.writeUTF(s)
    case b: Array[Byte] => out.writeByte(TBytes); out.writeInt(b.length); out.write(b)
    case t: Timestamp =>
      out.writeByte(TTimestamp); out.writeLong(t.getTime); out.writeInt(t.getNanos)
    case s: scala.collection.Seq[_] =>
      out.writeByte(TSeq); out.writeInt(s.size); s.foreach(write(out, _))
    case a: Array[_] =>
      out.writeByte(TSeq); out.writeInt(a.length); a.foreach(write(out, _))
    case other => throw new IllegalArgumentException(
      s"unsupported feature value type: ${other.getClass.getName}")
  }

  private def read(in: DataInputStream): Any = in.readByte() match {
    case TNull => null
    case TBool => in.readBoolean()
    case TInt => in.readInt()
    case TLong => in.readLong()
    case TFloat => in.readFloat()
    case TDouble => in.readDouble()
    case TString => in.readUTF()
    case TBytes =>
      val b = new Array[Byte](in.readInt()); in.readFully(b); b
    case TTimestamp =>
      val t = new Timestamp(in.readLong()); t.setNanos(in.readInt()); t
    case TSeq =>
      val n = in.readInt(); Vector.fill(n)(read(in))
    case other => throw new IllegalArgumentException(s"bad value tag: $other")
  }
}
