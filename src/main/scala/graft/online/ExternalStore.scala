package graft.online

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet, SQLException, Timestamp}
import java.util.Calendar

import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.FeatureView
import graft.operators.PullLatest

/** The write and delete skeleton of the five external stores —
  * [[JdbcStore]] (JdbcOnlineStore, ReferenceSqlStore, ReferenceDocStore)
  * and [[RespStore]] (RedisOnlineStore, ReferenceRedisStore). Both run
  * distributed: null keys are rejected up front, rows are
  * hash-repartitioned by entity key so no two tasks race on a stored
  * row, and each non-empty partition opens one client. An upsert first
  * reduces to one row per key: a map-side-combining aggregation costs
  * less than a round-trip per duplicate, and it leaves at most one write
  * per key per batch. A delete of an absent key, or of a
  * never-materialized view, is a no-op. */
private[online] abstract class ExternalStore extends OnlineStore {
  import ExternalStore._

  /** Driver-side setup of one upsert, returning the task-side writer of
    * one partition; like [[openDelete]]'s, the returned function runs
    * in tasks, so it captures plain values only, never the store. */
  protected def openWrite(project: String, view: FeatureView, cols: Cols): Iterator[Row] => Unit
  protected def openDelete(project: String, view: FeatureView,
      joinKeys: Seq[String]): Iterator[Row] => Unit

  def upsert(project: String, view: FeatureView, joinKeys: Seq[String],
      df: DataFrame, tsCol: String, createdCol: Option[String]): Unit = {
    val cols = Cols(joinKeys, tsCol, createdCol, view.featureNames)
    val latest = PullLatest.latestPerKey(
      df.select(OnlineStore.guardNullKeys(cols.all, joinKeys, view.name, "upsert"): _*),
      joinKeys, tsCol, createdCol, cols.feats)
    eachPartition(latest, joinKeys, openWrite(project, view, cols))
  }

  override def delete(project: String, view: FeatureView, joinKeys: Seq[String],
      keysDf: DataFrame): Unit =
    eachPartition(
      keysDf.select(OnlineStore.guardNullKeys(joinKeys, joinKeys, view.name, "delete"): _*)
        .distinct(),
      joinKeys, openDelete(project, view, joinKeys))
}

private[online] object ExternalStore {

  /** Rows per statement batch, commit and pipelined round-trip. */
  val WriteBatch = 500

  /** Tasks per upsert or delete, so concurrent connections per call. */
  val WriteParallelism = 4

  private def eachPartition(df: DataFrame, joinKeys: Seq[String],
      f: Iterator[Row] => Unit): Unit =
    df.repartition(WriteParallelism, joinKeys.map(col): _*)
      .foreachPartition { (rows: Iterator[Row]) => if (rows.nonEmpty) f(rows) }

  def keyOf(joinKeys: Seq[String], r: Row): Seq[(String, Any)] =
    joinKeys.map(k => k -> r.getAs[Any](k))

  final case class Cols(keys: Seq[String], ts: String, created: Option[String],
      feats: Seq[String]) {
    def all: Seq[String] = (keys ++ Seq(ts) ++ created.toSeq ++ feats).distinct
    def key(r: Row): Seq[(String, Any)] = keyOf(keys, r)
    def eventTs(r: Row): Timestamp = r.getAs[Timestamp](ts)
    /** null with no created column or a null value */
    def createdTs(r: Row): Timestamp = created.map(r.getAs[Timestamp]).orNull
    def values(r: Row): Seq[(String, Any)] = feats.map(f => f -> r.getAs[Any](f))
  }
}

/** The JDBC transport of [[JdbcOnlineStore]], [[ReferenceSqlStore]] and
  * [[ReferenceDocStore]]: one table per (project, view); point reads are
  * driver-side `SELECT ... IN`, no Spark job on the latency path.
  * Defaults to Apache Derby embedded (already on Spark's classpath — the
  * hive-metastore dependency); any JDBC URL works for a server store.
  * Embedded, the database lives in the JVM's filesystem, which is
  * correct on `local[N]` (one JVM) and for tests. */
private[online] abstract class JdbcStore(url: String, layout: JdbcStore.Layout)
    extends ExternalStore with ExpirableOnlineStore {
  import ExternalStore._
  import JdbcStore._

  protected def openWrite(project: String, view: FeatureView,
      cols: Cols): Iterator[Row] => Unit = {
    val (u, t, lay) = (url, layout.table(project, view.name), layout)
    withConnection(u)(createIfAbsent(_, lay.ddl(t)))
    rows => withConnection(u)(lay.write(_, t, cols, rows))
  }

  protected def openDelete(project: String, view: FeatureView,
      joinKeys: Seq[String]): Iterator[Row] => Unit = {
    val (u, t, lay) = (url, layout.table(project, view.name), layout)
    rows => executeAll(u, s"DELETE FROM $t WHERE ${lay.keyCol} = ?",
      rows.map(r => Seq(lay.key(keyOf(joinKeys, r)))))
  }

  def read(project: String, view: FeatureView, joinKeys: Seq[String],
      entityKeys: Seq[Seq[(String, Any)]],
      features: Seq[String]): Seq[(Option[Timestamp], Map[String, FeatureValue])] = {
    val keys = entityKeys.map(layout.key)
    val utc = utcCalendar()
    val found = selectIn(url, layout.table(project, view.name),
        s"${layout.keyCol}, event_ts, ${layout.valueCols}", layout.keyCol, keys) { rs =>
      idOf(rs.getObject(1)) -> (Option(rs.getTimestamp(2, utc)), layout.values(rs))
    }.groupMapReduce(_._1)(_._2) { case ((ts1, v1), (ts2, v2)) =>
      // one row per feature in the sqlite layout: max non-null ts
      ((ts1 ++ ts2).maxByOption(_.getTime), v1 ++ v2)
    }
    keys.map(k => OnlineStore.readBack(found.get(idOf(k)), features))
  }

  /** Storage-level TTL sweep (VERDICT r14 #3): one transactional
    * `DELETE WHERE event_ts < cutoff` — the SQL twin of the parquet
    * store's bucket-rewrite expire, strictly cheaper because the
    * database deletes in place. Strictly-older-than, like the parquet
    * twin (a row AT the cutoff survives); a NULL event_ts row survives
    * (SQL three-valued comparison rejects it). Counts rows of the
    * layout's grain. `spark` is unused — the sweep is a driver-side
    * statement, which is the point. */
  def expire(spark: SparkSession, project: String, view: FeatureView,
      joinKeys: Seq[String], tsCol: String, cutoff: Timestamp): Long =
    executeAll(url, s"DELETE FROM ${layout.table(project, view.name)} WHERE event_ts < ?",
      Iterator(Seq(cutoff)))

  def teardown(project: String, views: Seq[FeatureView]): Unit =
    views.foreach(v => executeAll(url, s"DROP TABLE ${layout.table(project, v.name)}",
      Iterator(Nil)))
}

private[online] object JdbcStore {
  import ExternalStore.{Cols, WriteBatch}

  /** One store's table layout: `keyCol` is the column multi-gets and
    * keyed deletes match, `valueCols` the multi-get columns after
    * (keyCol, event_ts). The store's companion object implements it, so
    * task-side code reaches it without capturing the store. */
  abstract class Layout(private[online] val keyCol: String,
      private[online] val valueCols: String) extends Serializable {
    private[online] def table(project: String, view: String): String
    private[online] def ddl(t: String): Seq[String]
    /** An entity key's value in keyCol: a String or bytes. */
    private[online] def key(kvs: Seq[(String, Any)]): Any
    private[online] def values(rs: ResultSet): Map[String, Any]
    /** The write rule: one partition of latest-per-key rows into the
      * existing table `t`, through [[writeRows]]. */
    private[online] def write(conn: Connection, t: String, cols: Cols, rows: Iterator[Row]): Unit
  }

  val ReadChunk = 100

  /** All TIMESTAMP binds use a fixed UTC Calendar: a bare
    * setTimestamp/getTimestamp stores JVM-default-timezone wall time,
    * which round-trips in a single embedded JVM but shifts the instant
    * (and can invert last-write-wins ordering) when writers on
    * executors and point reads on the driver talk to a server store
    * from JVMs with different default timezones. Per-use instance —
    * Calendar is mutable and not thread-safe. */
  def utcCalendar(): Calendar =
    Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))

  // Derby 10.15+ registers its driver via the ServiceLoader; forcing the
  // class load here keeps non-ServiceLoader JDBC setups working too.
  def withConnection[A](url: String)(f: Connection => A): A = {
    try Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    catch { case _: ClassNotFoundException => () }
    Using.resource(DriverManager.getConnection(url))(f)
  }

  def isMissingTable(e: SQLException): Boolean =
    e.getSQLState == "42X05" || e.getSQLState == "42Y55"

  def createIfAbsent(conn: Connection, ddl: Seq[String]): Unit =
    try {
      val st = conn.createStatement()
      try ddl.foreach(s => st.executeUpdate(s)) finally st.close()
    } catch {
      case e: SQLException if e.getSQLState == "X0Y32" => () // already exists
    }

  /** Byte keys compare by content: ISO-8859-1 is byte-bijective. */
  private def idOf(key: Any): Any = key match {
    case b: Array[Byte] => new String(b, ISO_8859_1)
    case other => other
  }

  /** The only nullable binds are timestamps, so null binds as one. */
  def bindAll(st: PreparedStatement, values: Seq[Any], utc: Calendar): Unit =
    values.zipWithIndex.foreach {
      case (n: Int, i) => st.setInt(i + 1, n)
      case (s: String, i) => st.setString(i + 1, s)
      case (b: Array[Byte], i) => st.setBytes(i + 1, b)
      case (t: Timestamp, i) => st.setTimestamp(i + 1, t, utc)
      case (null, i) => st.setTimestamp(i + 1, null, utc)
      case (other, _) => throw new IllegalArgumentException(s"unbindable value: $other")
    }

  /** One query's rows; a missing table (never materialized) has none. */
  def query[A](url: String, sql: String, binds: Seq[Any])(row: ResultSet => A): Seq[A] =
    try withConnection(url)(select(_, sql, binds)(row))
    catch { case e: SQLException if isMissingTable(e) => Nil }

  private def select[A](conn: Connection, sql: String, binds: Seq[Any])(
      row: ResultSet => A): List[A] = {
    val st = conn.prepareStatement(sql)
    try {
      bindAll(st, binds, utcCalendar())
      val rs = st.executeQuery()
      try Iterator.continually(rs).takeWhile(_.next()).map(row).toList finally rs.close()
    } finally st.close()
  }

  /** [[query]] over the distinct `keys`, ReadChunk per `IN (...)`
    * statement on one connection. */
  def selectIn[A](url: String, t: String, cols: String, keyCol: String,
      keys: Seq[Any])(row: ResultSet => A): Seq[A] =
    try withConnection(url) { conn =>
      keys.distinctBy(idOf).grouped(ReadChunk).flatMap(chunk => select(conn,
        s"SELECT $cols FROM $t WHERE $keyCol IN (${chunk.map(_ => "?").mkString(",")})",
        chunk)(row)).toList
    } catch { case e: SQLException if isMissingTable(e) => Nil }

  /** Runs `body` with auto-commit off (`body` commits per batch). On
    * failure it rolls back before withConnection's close — embedded
    * Derby refuses to close mid-transaction, and that secondary error
    * would SUPERSEDE the root cause (review r7) — then rethrows. */
  def transaction[A](conn: Connection)(body: => A): A = {
    conn.setAutoCommit(false)
    try body catch { case e: Throwable =>
      try conn.rollback() catch { case _: SQLException => () }
      throw e
    }
  }

  /** THE write step of every layout. Each element of `rows` is one
    * source row's stored rows as (UPDATE binds, INSERT binds): UPDATE;
    * on a miss INSERT; on a duplicate key (23505: a concurrent first
    * INSERT of the same key) re-run the UPDATE so the layout's rule
    * still decides — last-by-arrival, not "first inserter wins" (review
    * r7). Commits every WriteBatch source rows, so one source row's
    * stored rows land together. */
  def writeRows(conn: Connection, update: String, insert: String,
      rows: Iterator[Seq[(Seq[Any], Seq[Any])]]): Unit = {
    val (upd, ins, utc) = (conn.prepareStatement(update), conn.prepareStatement(insert), utcCalendar())
    def run(st: PreparedStatement, values: Seq[Any]): Int = {
      bindAll(st, values, utc); st.executeUpdate()
    }
    try transaction(conn) {
      rows.grouped(WriteBatch).foreach { group =>
        for (stored <- group; (u, i) <- stored)
          if (run(upd, u) == 0)
            try run(ins, i)
            catch { case e: SQLException if e.getSQLState == "23505" => run(upd, u) }
        conn.commit()
      }
    } finally { upd.close(); ins.close() }
  }

  /** Runs `sql` once per element of `binds`, WriteBatch statements per
    * JDBC batch and commit, and returns the rows it changed. A missing
    * table (never materialized) changes none — a deletes-only first CDC
    * batch must not kill the stream. */
  def executeAll(url: String, sql: String, binds: Iterator[Seq[Any]]): Long =
    try withConnection(url) { conn =>
      val (st, utc) = (conn.prepareStatement(sql), utcCalendar())
      try transaction(conn) {
        binds.grouped(WriteBatch).map { group =>
          group.foreach { b => bindAll(st, b, utc); st.addBatch() }
          val changed = st.executeBatch().map(_.toLong).sum
          conn.commit()
          changed
        }.sum
      } finally st.close()
    } catch { case e: SQLException if isMissingTable(e) => 0L }
}

/** The RESP transport of [[RedisOnlineStore]] and [[ReferenceRedisStore]]:
  * one Redis hash per entity key, written in pipelined batches; point
  * reads are driver-side pipelined `HGETALL`, no Spark job. */
private[online] abstract class RespStore(host: String, port: Int, layout: RespStore.Layout)
    extends ExternalStore {
  import ExternalStore._
  import RespClient._

  protected def openWrite(project: String, view: FeatureView,
      cols: Cols): Iterator[Row] => Unit = {
    val (h, p, lay, viewName) = (host, port, layout, view.name)
    rows => Using.resource(new RespClient(h, p)) { c =>
      rows.grouped(WriteBatch).foreach(batch =>
        c.pipeline(lay.writeCommands(c, project, viewName, cols, batch)))
    }
  }

  protected def openDelete(project: String, view: FeatureView,
      joinKeys: Seq[String]): Iterator[Row] => Unit = {
    val (h, p, lay, viewName) = (host, port, layout, view.name)
    rows => Using.resource(new RespClient(h, p)) { c =>
      rows.grouped(WriteBatch).foreach(batch => c.command(
        bytes("DEL") +: batch.map(r => lay.key(project, viewName, keyOf(joinKeys, r)))))
    }
  }

  def read(project: String, view: FeatureView, joinKeys: Seq[String],
      entityKeys: Seq[Seq[(String, Any)]],
      features: Seq[String]): Seq[(Option[Timestamp], Map[String, FeatureValue])] = {
    val decode = layout.decoder(view.name, features)
    Using.resource(new RespClient(host, port)) { c =>
      c.pipeline(entityKeys.map(k => Seq(bytes("HGETALL"), layout.key(project, view.name, k))))
        .map {
          case Arr(items) if items != null && items.nonEmpty =>
            // field names keyed through ISO-8859-1 (byte-bijective): the
            // reference layout's are binary
            val fields = items.grouped(2).collect {
              case Vector(Bulk(f), Bulk(v)) => new String(f, ISO_8859_1) -> v
            }.toMap
            OnlineStore.readBack(Some(decode(fields)), features)
          case _ => OnlineStore.readBack(None, features)
        }
    }
  }

  def teardown(project: String, views: Seq[FeatureView]): Unit =
    Using.resource(new RespClient(host, port))(layout.teardown(_, project, views))
}

private[online] object RespStore {
  import ExternalStore.Cols
  import RespClient._

  /** One store's hash layout. Implemented by the store's companion
    * object, so task-side code reaches it without capturing the store. */
  trait Layout extends Serializable {
    private[online] def key(project: String, view: String, kvs: Seq[(String, Any)]): Array[Byte]
    /** The write rule: the commands that store one batch of
      * latest-per-key rows (a rule may first probe the server on `c`). */
    private[online] def writeCommands(c: RespClient, project: String, view: String,
        cols: Cols, batch: Seq[Row]): Seq[Seq[Array[Byte]]]
    /** One read's decode of a stored hash (fields by ISO-8859-1 name)
      * into its ts and feature values. */
    private[online] def decoder(view: String, features: Seq[String])
        : Map[String, Array[Byte]] => (Option[Timestamp], Map[String, Any])
    private[online] def teardown(c: RespClient, project: String, views: Seq[FeatureView]): Unit
  }

  /** Cursor `SCAN` (never `KEYS`, which blocks the server at production
    * keyspace sizes), optionally server-filtered by a MATCH glob; hands
    * each non-empty page of keys to `page`. */
  def scan(c: RespClient, pattern: Option[String])(page: Seq[Array[Byte]] => Unit): Unit = {
    var cursor = "0"
    do {
      val matching = pattern.toSeq.flatMap(p => Seq(bytes("MATCH"), bytes(p)))
      c.command(Seq(bytes("SCAN"), bytes(cursor)) ++ matching ++
          Seq(bytes("COUNT"), bytes("1000"))) match {
        case Arr(Vector(Bulk(next), Arr(ks))) =>
          cursor = new String(next, UTF_8)
          val found = ks.collect { case Bulk(k) => k }
          if (found.nonEmpty) page(found)
        case other => throw new IllegalStateException(s"SCAN: $other")
      }
    } while (cursor != "0")
  }
}

/** Minimal RESP2 (REdis Serialization Protocol) client over a JDK
  * socket — the wire format every Redis-compatible server speaks
  * (redis.io/docs/reference/protocol-spec): requests are arrays of
  * bulk strings, replies are simple strings / errors / integers /
  * bulk strings / arrays. Binary-safe (bulk strings carry raw bytes).
  * Supports PIPELINING: send n commands, then read n replies — the
  * batched round-trip pattern the stores' write path depends on.
  *
  * Deliberately tiny: no connection pool, no cluster topology, no
  * RESP3 — one socket per writer partition / driver reader, which is
  * the reference redis store's own per-process client shape
  * (`sdk/python/feast/infra/online_stores/redis.py`).
  */
private[online] final class RespClient(host: String, port: Int) extends AutoCloseable {
  private val socket = new Socket(host, port)
  socket.setSoTimeout(RespClient.TimeoutMs)
  socket.setTcpNoDelay(true)
  private val out: OutputStream = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
  private val in: InputStream = new BufferedInputStream(socket.getInputStream, 1 << 16)

  private def send(args: Seq[Array[Byte]]): Unit = {
    out.write(s"*${args.length}\r\n".getBytes(UTF_8))
    args.foreach { a =>
      out.write(s"$$${a.length}\r\n".getBytes(UTF_8))
      out.write(a)
      out.write('\r'.toInt); out.write('\n'.toInt)
    }
  }

  /** Send every command (each an array of binary-safe args) in one
    * round-trip, then read their replies in order. */
  def pipeline(commands: Seq[Seq[Array[Byte]]]): Seq[RespClient.Reply] = {
    commands.foreach(send)
    out.flush()
    Vector.fill(commands.length)(readReply())
  }

  def command(args: Seq[Array[Byte]]): RespClient.Reply = pipeline(Seq(args)).head

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new EOFException("redis connection closed")
      sb.append(c.toChar)
      c = in.read()
    }
    if (in.read() != '\n') throw new IllegalStateException("malformed RESP line end")
    sb.toString
  }

  private def readReply(): RespClient.Reply = {
    val t = in.read()
    if (t < 0) throw new EOFException("redis connection closed")
    t.toChar match {
      case '+' => RespClient.Simple(readLine())
      case '-' => throw new IllegalStateException(s"redis error: ${readLine()}")
      case ':' => RespClient.Num(readLine().toLong)
      case '$' =>
        val n = readLine().toInt
        if (n < 0) RespClient.Bulk(null)
        else {
          val b = in.readNBytes(n)
          if (b.length < n) throw new EOFException("redis connection closed mid-bulk")
          if (in.read() != '\r' || in.read() != '\n')
            throw new IllegalStateException("malformed bulk terminator")
          RespClient.Bulk(b)
        }
      case '*' =>
        val n = readLine().toInt
        if (n < 0) RespClient.Arr(null)
        else RespClient.Arr(Vector.fill(n)(readReply()))
      case other => throw new IllegalStateException(s"unknown RESP type byte '$other'")
    }
  }

  override def close(): Unit = socket.close()
}

private[online] object RespClient {
  val TimeoutMs = 10000

  sealed trait Reply
  final case class Simple(s: String) extends Reply
  final case class Num(n: Long) extends Reply
  final case class Bulk(bytes: Array[Byte]) extends Reply
  final case class Arr(items: Vector[Reply]) extends Reply

  def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
}
