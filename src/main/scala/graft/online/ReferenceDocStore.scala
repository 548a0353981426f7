package graft.online

import java.sql.{Connection, ResultSet}

import org.apache.spark.sql.Row

import graft.serving.{FeastProto, ProtoWire}

/** Document-keyed online store in the REFERENCE's DynamoDB/Datastore
  * layout (`online_stores/dynamodb.py:100-128`,
  * `online_stores/datastore.py:182-218`), persisted through JDBC —
  * the interop twin that completes the [[ReferenceRedisStore]] /
  * [[ReferenceSqlStore]] family for the reference's document stores,
  * without cloud SDKs.
  *
  * The reference keys one ITEM per entity key:
  *
  *  - document id = `compute_entity_id(entity_key)` (helpers.py:59-65)
  *    — the hex murmur3 x64_128 digest of the v1-serialized key,
  *    byte-pinned at [[EntityKeyCodec.referenceEntityId]]
  *  - item body = the serialized entity key (Datastore's `key`
  *    property; DynamoDB stores only the id), a `values` map of
  *    feature name → serialized `feast.types.Value` proto
  *    ([[FeastProto]] — the SAME bytes the Redis/SQL twins store), an
  *    `event_ts`, and (Datastore only) a `created_ts`
  *  - a write is `put_item`/`put_multi`: the WHOLE document replaces
  *    whatever was stored — features absent from the new write are
  *    gone afterward, unlike the per-(key, feature)-row sqlite layout
  *    where an unmentioned feature survives. This store reproduces
  *    that document-grain replace semantic exactly (spec-pinned).
  *  - neither store compares timestamps: last writer by arrival wins
  *    (within one upsert the internal latest-per-key reduction
  *    collapses duplicates first, like every other store here)
  *
  * Row layout mirrors the Datastore entity property-for-property:
  * `(entity_id PK, entity_key, values_doc, event_ts, created_ts)`,
  * with `values_doc` the canonical proto map-entry encoding of the
  * `values` map (repeated `entry{key=1: name, value=2: Value bytes}`,
  * insertion order = the view's feature order). The interop surfaces —
  * the document id and the Value bytes — are byte-identical to what a
  * reference deployment computes; the table/DDL spelling is the JDBC
  * carrier's (DynamoDB's `{project}.{table}` table name is not a SQL
  * identifier, so the twin names tables `{project}_{view}_doc`).
  *
  * Reads are `get_item` by document id (dynamodb.py:130-157): the
  * row's event_ts and its decoded values map; a missing id → all
  * NOT_FOUND. Keyed deletes are point DELETEs by document id, and
  * expire counts documents (entity grain).
  */
class ReferenceDocStore(url: String) extends JdbcStore(url, ReferenceDocStore)

object ReferenceDocStore
    extends JdbcStore.Layout(keyCol = "entity_id", valueCols = "values_doc") {
  import JdbcStore.writeRows

  /** The JDBC spelling of DynamoDB's `{project}.{table.name}` /
    * Datastore's `Project/{p}/Table/{t}` namespace — a dot is not a
    * SQL identifier character, so the twin uses the `_doc` suffix to
    * coexist with a [[ReferenceSqlStore]] on the same database. */
  private[online] def table(project: String, view: String): String =
    s"${project}_${view}_doc"

  // entity_id is the 32-hex-char compute_entity_id digest — a
  // fixed-width string partition key, exactly DynamoDB's
  // AttributeType "S" HASH key (dynamodb.py:68-71)
  private[online] def ddl(t: String): Seq[String] = Seq(
    s"""CREATE TABLE $t (
       |  entity_id VARCHAR (32) NOT NULL PRIMARY KEY,
       |  entity_key VARCHAR (8192) FOR BIT DATA,
       |  values_doc BLOB,
       |  event_ts TIMESTAMP,
       |  created_ts TIMESTAMP)""".stripMargin)

  private[online] def key(kvs: Seq[(String, Any)]): Any = EntityKeyCodec.referenceEntityId(kvs)
  private[online] def values(rs: ResultSet): Map[String, Any] =
    decodeValues(rs.getBytes(3)).map { case (f, vb) =>
      f -> FeastProto.decodeValue(new ProtoWire.Reader(vb))
    }.toMap

  /** put_item = whole-document replace: the UPDATE overwrites EVERY
    * body column, never merging with stored features. */
  private[online] def write(conn: Connection, t: String, cols: ExternalStore.Cols,
      rows: Iterator[Row]): Unit =
    writeRows(conn,
      s"UPDATE $t SET entity_key = ?, values_doc = ?, event_ts = ?, " +
        "created_ts = ? WHERE entity_id = ?",
      s"INSERT INTO $t (entity_id, entity_key, values_doc, event_ts, " +
        "created_ts) VALUES (?, ?, ?, ?, ?)",
      rows.map { r =>
        val kvs = cols.key(r)
        val (keyBytes, id) = (EntityKeyCodec.referenceSerializeEntityKey(kvs), key(kvs))
        val doc = encodeValues(cols.values(r))
        val (et, ct) = (cols.eventTs(r), cols.createdTs(r))
        Seq((Seq(keyBytes, doc, et, ct, id), Seq(id, keyBytes, doc, et, ct)))
      })

  /** The `values` map as the canonical proto map-entry encoding:
    * repeated `entry{key=1: feature name, value=2: Value bytes}` in
    * write order. The entry VALUES are exactly the reference's
    * serialized feast.types.Value protos. */
  private[online] def encodeValues(values: Seq[(String, Any)]): Array[Byte] = {
    val w = new ProtoWire.Writer()
    values.foreach { case (name, v) =>
      val entry = new ProtoWire.Writer()
      entry.stringField(1, name)
      entry.bytesField(2, FeastProto.encodeValue(v).toBytes)
      w.msgField(1, entry)
    }
    w.toBytes
  }

  private[graft] def decodeValues(doc: Array[Byte]): Seq[(String, Array[Byte])] = {
    val r = new ProtoWire.Reader(doc)
    val out = Seq.newBuilder[(String, Array[Byte])]
    while (r.hasNext) {
      val (field, wt) = r.readTag()
      if (field == 1 && wt == ProtoWire.WtLen) {
        val entry = r.readLenReader()
        var name: String = null
        var bytes: Array[Byte] = Array.emptyByteArray
        while (entry.hasNext) {
          val (f, w) = entry.readTag()
          if (f == 1 && w == ProtoWire.WtLen) name = entry.readString()
          else if (f == 2 && w == ProtoWire.WtLen) bytes = entry.readLenBytes()
          else entry.skip(w)
        }
        if (name != null) out += (name -> bytes)
      } else r.skip(wt)
    }
    out.result()
  }
}
