package graft.registry

import java.sql.Timestamp
import java.time.Duration

import graft.model._
import graft.util.Json
import graft.util.JValue
import graft.util.JValue._

/** File-backed registry of entities / feature views / feature services
  * plus materialization-interval bookkeeping (reference registry.py:
  * apply_* at 84-257, list/get/delete 259-388, TTL cache 399-449).
  *
  * Persistence is a single JSON document on any Hadoop-FS path (local,
  * HDFS, S3A), written atomically via write-temp-then-rename and stamped
  * with a version id — the locking improvement the reference left as a
  * TODO (feature_store.py:219, registry.py:494-500).
  */
final case class MaterializationInterval(start: Timestamp, end: Timestamp)

final case class RegistryState(
    entities: Map[String, Entity] = Map.empty,
    views: Map[String, FeatureView] = Map.empty,
    services: Map[String, FeatureService] = Map.empty,
    materializations: Map[String, Seq[MaterializationInterval]] = Map.empty,
    versionId: String = java.util.UUID.randomUUID().toString)

class Registry(path: Option[String] = None, cacheTtl: Duration = Duration.ofSeconds(600)) {

  @volatile private var state: RegistryState = load().getOrElse(RegistryState())
  @volatile private var cachedAt: Long = System.currentTimeMillis()

  // ---- CRUD ----------------------------------------------------------
  def applyEntity(e: Entity): Unit = mutate(s => s.copy(entities = s.entities + (e.name -> e)))
  def applyFeatureView(v: FeatureView): Unit = mutate { s =>
    val unknown = v.entities.filterNot(s.entities.contains)
    require(unknown.isEmpty, s"view ${v.name} references unregistered entities: $unknown")
    s.copy(views = s.views + (v.name -> v))
  }
  def applyFeatureService(fs: FeatureService): Unit =
    mutate(s => s.copy(services = s.services + (fs.name -> fs)))

  def getEntity(name: String): Entity =
    current.entities.getOrElse(name, throw new NoSuchElementException(s"entity $name not registered"))
  def getFeatureView(name: String): FeatureView =
    current.views.getOrElse(name, throw new NoSuchElementException(s"feature view $name not registered"))
  def getFeatureService(name: String): FeatureService =
    current.services.getOrElse(name, throw new NoSuchElementException(s"feature service $name not registered"))

  def listEntities: Seq[Entity] = current.entities.values.toSeq.sortBy(_.name)
  def listFeatureViews: Seq[FeatureView] = current.views.values.toSeq.sortBy(_.name)
  def listFeatureServices: Seq[FeatureService] = current.services.values.toSeq.sortBy(_.name)

  def deleteEntity(name: String): Unit = mutate(s => s.copy(entities = s.entities - name))
  def deleteFeatureView(name: String): Unit =
    mutate(s => s.copy(views = s.views - name, materializations = s.materializations - name))
  def deleteFeatureService(name: String): Unit = mutate(s => s.copy(services = s.services - name))

  /** Track a completed materialization window (registry.py:215-257). */
  def applyMaterialization(view: String, start: Timestamp, end: Timestamp): Unit =
    mutate { s =>
      val ivs = s.materializations.getOrElse(view, Nil) :+ MaterializationInterval(start, end)
      s.copy(materializations = s.materializations + (view -> ivs))
    }
  def materializationIntervals(view: String): Seq[MaterializationInterval] =
    current.materializations.getOrElse(view, Nil)

  def teardown(): Unit = mutate(_ => RegistryState())

  // ---- cache / io ----------------------------------------------------
  private def current: RegistryState = {
    if (path.isDefined &&
        System.currentTimeMillis() - cachedAt > cacheTtl.toMillis) refresh()
    state
  }
  def refresh(): Unit = {
    // load OUTSIDE the monitor: remote-FS IO under `this` would stall
    // every concurrent read, and mutate previously held the same
    // monitor through its whole file-lock spin (up to ~35 s) — a
    // TTL-expired point read could park behind a contended writer for
    // tens of seconds (review r12). The swap itself is guarded, and a
    // refresh that raced a newer mutate must NOT clobber it: skip the
    // assignment when someone advanced the cache after our load began.
    val t0 = System.currentTimeMillis()
    val loaded =
      try load()
      catch {
        case scala.util.control.NonFatal(e) =>
          // a TTL refresh on the SERVING path holds a perfectly usable
          // cached state — a transient remote-FS failure (throttle,
          // network blip; only FileNotFound is retried inside load)
          // must serve stale + retry after the next TTL window, not
          // 500 a point read (review r13). The constructor's initial
          // load still propagates: starting EMPTY against a broken
          // registry would silently serve nothing.
          System.err.println(s"[registry] refresh failed, serving cached " +
            s"state (${e.getClass.getSimpleName}: ${e.getMessage})")
          None
      }
    synchronized {
      if (cachedAt < t0) {
        loaded.foreach(state = _)
        cachedAt = t0
      }
    }
  }
  /** Read-modify-write against the FRESH on-disk state under a
    * best-effort exclusive-create lock file: a second writer process
    * (or this one with a stale TTL cache) previously applied its
    * mutation to a stale snapshot and persisted it wholesale,
    * silently dropping every registration the other writer made
    * (review r6). The lock discipline lives in
    * [[graft.util.FileLease]] (extracted r14 so the online store's
    * writer lease shares it); a crashed holder's lock expires after
    * `lockStaleMs` so it cannot wedge the registry forever.
    *
    * LEASE ASSUMPTIONS (review r13, stated rather than silently
    * relied on — the full protocol and its documented degraded modes
    * are on [[graft.util.FileLease]]): staleness is judged by the
    * lock file's mtime against the OBSERVER's clock — an mtime lease,
    * not a heartbeat. It is sound when (a) writer clocks and the
    * filesystem's clock agree to well under `lockStaleMs` (NTP-class
    * sync; the stale bound is 30 s) and (b) no holder's critical
    * section (one registry load + one JSON persist) approaches
    * `lockStaleMs` — registries are kilobytes, so both hold by orders
    * of magnitude on any sane deployment. If a holder IS broken
    * mid-section anyway, the break/release tombstone discipline keeps
    * the failure at last-writer-wins on a kilobyte JSON document,
    * never a torn file — deployments needing more than lease
    * semantics should raise `graft.registry.lockStaleMs` or front the
    * registry with a real coordination service. */
  // local writers serialize on a DEDICATED monitor so readers'
  // `this`-scoped state swap never waits behind the cross-process
  // file-lock spin (review r12)
  private val writerLock = new Object
  private def mutate(f: RegistryState => RegistryState): Unit = writerLock.synchronized {
    withFileLock {
      val base = if (path.isDefined) load().getOrElse(RegistryState()) else state
      val next = f(base).copy(versionId = java.util.UUID.randomUUID().toString)
      // persist FIRST: a failed write must leave this instance serving
      // the old state (assigning before persist let a thrown persist
      // hand reads a registration the caller was told failed, for up
      // to a full cache TTL)
      persist(next)
      synchronized {
        state = next
        cachedAt = System.currentTimeMillis()
      }
    }
  }

  // overridable where the lease assumptions above are tight (slow
  // object store, known clock skew): -Dgraft.registry.lockStaleMs=...
  private val lockStaleMs =
    sys.props.get("graft.registry.lockStaleMs").map(_.toLong).getOrElse(30000L)
  private def withFileLock[A](body: => A): A = path match {
    case None => body
    case Some(p) =>
      val (fs, _) = hadoopFs(p)
      // the full claim/break/release protocol (per-acquisition tokens,
      // tombstone-rename breaking, guarded release) lives in FileLease
      // — extracted verbatim from this method's r6–r13 evolution so the
      // online store's writer lease shares it (r14). Registry critical
      // sections are milliseconds, so no heartbeat.
      graft.util.FileLease.withLock(fs,
        new org.apache.hadoop.fs.Path(p + ".lock"), lockStaleMs)(body)
  }

  private def hadoopFs(p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    // the SESSION's Hadoop conf when one exists: spark.hadoop.* fs
    // credentials/endpoints (the normal deployment pattern) are
    // invisible to a bare new Configuration()
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (hp.getFileSystem(conf), hp)
  }

  /** Crash-safe publish through [[graft.util.RenameAside.publishFile]]:
    * write a tmp file, then swap it in with `.old` as the aside copy. A
    * crash between the two renames leaves `.old`, which load() reads.
    * The `.old` copy is deleted only while a NEWER durable copy exists
    * (a live copy in the heal, the fresh install in the swap) — deleting
    * it up front made the post-crash-recovery persist a double-crash
    * data-loss window (review r6). */
  private def persist(toWrite: RegistryState): Unit = path.foreach { p =>
    val (fs, hp) = hadoopFs(p)
    graft.util.RenameAside.publishFile(fs, hp,
      RegistryCodec.encode(toWrite).render.getBytes("UTF-8"))
  }

  /** The persisted state through [[graft.util.RenameAside.readFile]]:
    * the live copy, else a crashed persist's `.old`, with a bounded retry
    * through a concurrent persist's swap — a None here caches an EMPTY
    * state for the whole TTL on the serving path (review r12, r13). */
  private def load(): Option[RegistryState] = path.flatMap { p =>
    val (fs, hp) = hadoopFs(p)
    graft.util.RenameAside.readFile(fs, hp).map(bytes =>
      RegistryCodec.decode(Json.parse(new String(bytes, "UTF-8"))))
  }
}

/** JSON <-> model codecs. DataFrameSource is intentionally not
  * persistable (in-memory only). */
object RegistryCodec {
  private def jstr(s: String) = Json.str(s)

  def encode(s: RegistryState): JObj = Json.obj(
    "version_id" -> jstr(s.versionId),
    "entities" -> Json.arr(s.entities.values.toSeq.sortBy(_.name).map(encodeEntity)),
    "feature_views" -> Json.arr(s.views.values.toSeq.sortBy(_.name).map(encodeView)),
    "feature_services" -> Json.arr(s.services.values.toSeq.sortBy(_.name).map(encodeService)),
    "materializations" -> JObj(s.materializations.toVector.sortBy(_._1).map { case (v, ivs) =>
      v -> Json.arr(ivs.map(iv => Json.obj(
        "start" -> Json.num(iv.start.getTime), "end" -> Json.num(iv.end.getTime))))
    }))

  def decode(j: JValue): RegistryState = {
    val o = j.asInstanceOf[JObj]
    def items(k: String) = o(k) match { case JArr(xs) => xs; case _ => Vector.empty }
    RegistryState(
      entities = items("entities").map(decodeEntity).map(e => e.name -> e).toMap,
      views = items("feature_views").map(decodeView).map(v => v.name -> v).toMap,
      services = items("feature_services").map(decodeService).map(s => s.name -> s).toMap,
      materializations = (o("materializations") match {
        case m: JObj => m.fields.map { case (v, JArr(ivs)) =>
          v -> ivs.collect { case iv: JObj =>
            MaterializationInterval(
              new Timestamp(Json.toLong(iv("start"))),
              new Timestamp(Json.toLong(iv("end"))))
          }.toSeq
        case (v, _) => v -> Seq.empty[MaterializationInterval]
        }.toMap
        case _ => Map.empty[String, Seq[MaterializationInterval]]
      }),
      versionId = o("version_id") match { case JStr(v) => v; case _ => "" })
  }

  private[graft] def encodeEntity(e: Entity): JObj = Json.obj(
    "name" -> jstr(e.name), "dtype" -> jstr(e.dtype.name),
    "join_key" -> jstr(e.joinKey), "description" -> jstr(e.description))
  private[graft] def decodeEntity(j: JValue): Entity = {
    val o = j.asInstanceOf[JObj]
    Entity(
      name = o("name").asInstanceOf[JStr].v,
      dtype = GraftType.fromName(o("dtype").asInstanceOf[JStr].v),
      joinKeyOpt = Some(o("join_key").asInstanceOf[JStr].v),
      description = o.get("description").collect { case JStr(s) => s }.getOrElse(""))
  }

  private def encodeSource(src: DataSource): JObj = src match {
    case f: FileSource => Json.obj(
      "kind" -> jstr("file"), "path" -> jstr(f.path), "format" -> jstr(f.format),
      "event_timestamp_column" -> jstr(f.eventTimestampColumn),
      "created_timestamp_column" -> f.createdTimestampColumn.map(jstr).getOrElse(JNull),
      "field_mapping" -> JObj(f.fieldMapping.toVector.sortBy(_._1).map { case (k, v) => k -> jstr(v) }),
      "date_partition_column" -> f.datePartitionColumn.map(jstr).getOrElse(JNull),
      // reader options survive the round-trip: dropping them turned a
      // header:true CSV source into one that ingests its header row as
      // data after any registry reload (review r6)
      "options" -> JObj(f.options.toVector.sortBy(_._1).map { case (k, v) => k -> jstr(v) }))
    case t: TableSource => Json.obj(
      "kind" -> jstr("table"), "table" -> jstr(t.table),
      "event_timestamp_column" -> jstr(t.eventTimestampColumn),
      "created_timestamp_column" -> t.createdTimestampColumn.map(jstr).getOrElse(JNull),
      "field_mapping" -> JObj(t.fieldMapping.toVector.sortBy(_._1).map { case (k, v) => k -> jstr(v) }),
      "date_partition_column" -> t.datePartitionColumn.map(jstr).getOrElse(JNull))
    case q: QuerySource => Json.obj(
      "kind" -> jstr("query"), "query" -> jstr(q.query),
      "event_timestamp_column" -> jstr(q.eventTimestampColumn),
      "created_timestamp_column" -> q.createdTimestampColumn.map(jstr).getOrElse(JNull),
      "field_mapping" -> JObj(q.fieldMapping.toVector.sortBy(_._1).map { case (k, v) => k -> jstr(v) }))
    case k: KafkaSource => Json.obj(
      "kind" -> jstr("kafka"), "bootstrap_servers" -> jstr(k.bootstrapServers),
      "topic" -> jstr(k.topic),
      "message_format" -> (k.messageFormat match {
        case StreamFormat.Avro(s) => Json.obj("format" -> jstr("avro"), "schema" -> jstr(s))
        case StreamFormat.Json(d) => Json.obj("format" -> jstr("json"), "schema" -> jstr(d))
      }),
      "event_timestamp_column" -> jstr(k.eventTimestampColumn),
      "created_timestamp_column" -> k.createdTimestampColumn.map(jstr).getOrElse(JNull),
      "field_mapping" -> JObj(k.fieldMapping.toVector.sortBy(_._1).map { case (kk, v) => kk -> jstr(v) }),
      "starting_offsets" -> jstr(k.startingOffsets))
    case k: KinesisSource => Json.obj(
      "kind" -> jstr("kinesis"), "region" -> jstr(k.region),
      "stream_name" -> jstr(k.streamName),
      "record_format" -> (k.recordFormat match {
        case StreamFormat.Avro(s) => Json.obj("format" -> jstr("avro"), "schema" -> jstr(s))
        case StreamFormat.Json(d) => Json.obj("format" -> jstr("json"), "schema" -> jstr(d))
      }),
      "event_timestamp_column" -> jstr(k.eventTimestampColumn),
      "created_timestamp_column" -> k.createdTimestampColumn.map(jstr).getOrElse(JNull),
      "field_mapping" -> JObj(k.fieldMapping.toVector.sortBy(_._1).map { case (kk, v) => kk -> jstr(v) }))
    case s: FileStreamSource => Json.obj(
      "kind" -> jstr("file_stream"), "path" -> jstr(s.path), "format" -> jstr(s.format),
      "event_timestamp_column" -> jstr(s.eventTimestampColumn),
      "created_timestamp_column" -> s.createdTimestampColumn.map(jstr).getOrElse(JNull),
      "field_mapping" -> JObj(s.fieldMapping.toVector.sortBy(_._1).map { case (k, v) => k -> jstr(v) }),
      "max_files_per_trigger" -> s.maxFilesPerTrigger.map(n => Json.num(n.toLong)).getOrElse(JNull),
      // reader options round-trip like FileSource's (r6 fix there): a
      // reload that dropped header/cleanSource would silently ingest
      // header rows as data / regrow the landing-dir listing
      "options" -> JObj(s.options.toVector.sortBy(_._1).map { case (k, v) => k -> jstr(v) }))
    case d: DataFrameSource =>
      throw new IllegalArgumentException("DataFrameSource is in-memory only and cannot be registered")
  }

  private def decodeSource(j: JValue): DataSource = {
    val o = j.asInstanceOf[JObj]
    def s(k: String) = o(k).asInstanceOf[JStr].v
    def opt(k: String) = o.get(k).collect { case JStr(v) => v }
    def strMap(key: String) = o.get(key) match {
      case Some(m: JObj) => m.fields.map { case (k, JStr(v)) => k -> v; case (k, _) => k -> "" }.toMap
      case _ => Map.empty[String, String]
    }
    def fm = strMap("field_mapping")
    s("kind") match {
      case "file" => FileSource(s("path"), s("event_timestamp_column"),
        opt("created_timestamp_column"), fm, opt("date_partition_column"), s("format"),
        strMap("options"))
      case "table" => TableSource(s("table"), s("event_timestamp_column"),
        opt("created_timestamp_column"), fm, opt("date_partition_column"))
      case "query" => QuerySource(s("query"), s("event_timestamp_column"),
        opt("created_timestamp_column"), fm)
      case "kafka" =>
        val mf = o("message_format").asInstanceOf[JObj]
        val fmt = mf("format").asInstanceOf[JStr].v match {
          case "avro" => StreamFormat.Avro(mf("schema").asInstanceOf[JStr].v)
          case _ => StreamFormat.Json(mf("schema").asInstanceOf[JStr].v)
        }
        KafkaSource(s("bootstrap_servers"), s("topic"), fmt,
          s("event_timestamp_column"), opt("created_timestamp_column"), fm,
          opt("starting_offsets").getOrElse("latest"))
      case "kinesis" =>
        val rf = o("record_format").asInstanceOf[JObj]
        val fmt = rf("format").asInstanceOf[JStr].v match {
          case "avro" => StreamFormat.Avro(rf("schema").asInstanceOf[JStr].v)
          case _ => StreamFormat.Json(rf("schema").asInstanceOf[JStr].v)
        }
        KinesisSource(s("region"), s("stream_name"), fmt,
          s("event_timestamp_column"), opt("created_timestamp_column"), fm)
      case "file_stream" => FileStreamSource(s("path"), s("format"),
        s("event_timestamp_column"), opt("created_timestamp_column"), fm,
        o.get("max_files_per_trigger").collect { case n @ (_: JNum | _: JInt) => Json.toLong(n).toInt },
        strMap("options"))
      case other => throw new IllegalArgumentException(s"unknown source kind $other")
    }
  }

  private[graft] def encodeView(v: FeatureView): JObj = Json.obj(
    "name" -> jstr(v.name),
    "entities" -> Json.arr(v.entities.map(jstr)),
    "features" -> Json.arr(v.features.map(f => Json.obj(
      "name" -> jstr(f.name), "dtype" -> jstr(f.dtype.name)))),
    // seconds + nanos, like protobuf Duration, so a sub-second TTL survives a reload
    "ttl_seconds" -> Json.num(v.ttl.getSeconds),
    "ttl_nanos" -> Json.num(v.ttl.getNano.toLong),
    "batch_source" -> encodeSource(v.batchSource),
    "stream_source" -> v.streamSource.map(encodeSource).getOrElse(JNull),
    "online" -> Json.bool(v.online))

  private[graft] def decodeView(j: JValue): FeatureView = {
    val o = j.asInstanceOf[JObj]
    FeatureView(
      name = o("name").asInstanceOf[JStr].v,
      entities = (o("entities"): @unchecked) match { case JArr(xs) => xs.map(_.asInstanceOf[JStr].v) },
      features = (o("features"): @unchecked) match { case JArr(xs) => xs.map { f =>
        val fo = f.asInstanceOf[JObj]
        Feature(fo("name").asInstanceOf[JStr].v, GraftType.fromName(fo("dtype").asInstanceOf[JStr].v))
      } },
      // ttl_nanos is absent in registries written before it existed
      ttl = Duration.ofSeconds(Json.toLong(o("ttl_seconds")),
        o.get("ttl_nanos").map(Json.toLong).getOrElse(0L)),
      batchSource = decodeSource(o("batch_source")),
      streamSource = o.get("stream_source").filter(_ != JNull).map(decodeSource),
      online = o.get("online").collect { case JBool(b) => b }.getOrElse(true))
  }

  private[graft] def encodeService(s: FeatureService): JObj = Json.obj(
    "name" -> jstr(s.name),
    "projections" -> Json.arr(s.projections.map(p => Json.obj(
      "view" -> jstr(p.viewName), "features" -> Json.arr(p.features.map(jstr))))),
    "derived" -> Json.arr(s.derived.map(d => Json.obj(
      "name" -> jstr(d.name), "expr" -> jstr(d.sqlExpr)))))

  private[graft] def decodeService(j: JValue): FeatureService = {
    val o = j.asInstanceOf[JObj]
    FeatureService(
      name = o("name").asInstanceOf[JStr].v,
      projections = (o("projections"): @unchecked) match { case JArr(xs) => xs.map { p =>
        val po = p.asInstanceOf[JObj]
        FeatureViewProjection(po("view").asInstanceOf[JStr].v,
          (po("features"): @unchecked) match { case JArr(fs) => fs.map(_.asInstanceOf[JStr].v) })
      } },
      // absent in registries written before derived features existed
      derived = o.get("derived").collect { case JArr(ds) => ds.map { d =>
        val dd = d.asInstanceOf[JObj]
        DerivedFeature(dd("name").asInstanceOf[JStr].v, dd("expr").asInstanceOf[JStr].v)
      } }.getOrElse(Nil))
  }
}
