package graft

import java.sql.Timestamp
import java.time.Duration

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.online.EntityKeyCodec
import graft.registry.{MaterializationInterval, Registry, RegistryCodec, RegistryState}
import graft.util.Json

/** Spark-free unit tests: types, refs, key codec, JSON, registry codec. */
class PureSpec extends AnyFunSuite {

  test("GraftType <-> Spark DataType bijection") {
    import org.apache.spark.sql.types._
    assert(GraftType.fromSpark(LongType) == GraftType.Int64)
    assert(GraftType.fromSpark(ArrayType(FloatType)) == GraftType.ListOf(GraftType.Flt))
    GraftType.all.foreach { t =>
      assert(GraftType.fromName(t.name) == t)
    }
    intercept[IllegalArgumentException](GraftType.fromSpark(DecimalType(10, 2)))
    intercept[IllegalArgumentException](
      GraftType.fromSpark(ArrayType(ArrayType(LongType))))
  }

  test("FeatureRef parse/group/collisions") {
    assert(FeatureRef.parse("view:feat") == FeatureRef("view", "feat"))
    intercept[IllegalArgumentException](FeatureRef.parse("nocolon"))
    val refs = Seq("a:x", "b:y", "a:z").map(FeatureRef.parse)
    assert(FeatureRef.groupByView(refs) == Seq("a" -> Seq("x", "z"), "b" -> Seq("y")))
    val dup = Seq("a:x", "b:x").map(FeatureRef.parse)
    intercept[IllegalArgumentException](FeatureRef.validateNoCollisions(dup, false))
    FeatureRef.validateNoCollisions(dup, true) // prefixed -> fine
  }

  test("EntityKeyCodec: stable, order-insensitive, type-tagged") {
    val a = EntityKeyCodec.serialize(Seq("user" -> 5L, "region" -> "eu"))
    val b = EntityKeyCodec.serialize(Seq("region" -> "eu", "user" -> 5L))
    assert(a.sameElements(b), "key order must not matter")
    val c = EntityKeyCodec.serialize(Seq("user" -> 5, "region" -> "eu")) // Int vs Long
    assert(!a.sameElements(c), "INT32 and INT64 must encode differently")
    assert(EntityKeyCodec.hashKey(Seq("user" -> 5L)) ==
      EntityKeyCodec.hashKey(Seq("user" -> 5L)))
    assert(EntityKeyCodec.hexKey(Seq("user" -> 5L)) !=
      EntityKeyCodec.hexKey(Seq("user" -> 6L)))
    intercept[IllegalArgumentException](EntityKeyCodec.serialize(Seq("k" -> 3.14)))
    intercept[IllegalArgumentException](EntityKeyCodec.serialize(Nil))
  }

  test("reference-codec byte parity: entity key v1 layout, _mmh3 field names, RedisKey proto") {
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    // Ground-truth constants computed INDEPENDENTLY (a from-scratch
    // Python murmur3_x86_32 + struct.pack replay of the reference's
    // key_encoding_utils.py:22-48 / helpers.py:40-56 logic) — not by
    // this codec, so the assertion pins cross-compat, not
    // self-consistency.
    // serialize_entity_key({"driver_id": int64 1001}):
    //   <I(STRING=2) + "driver_id" + <I(INT64=4) + <I(4) + <l(1001)
    assert(hex(EntityKeyCodec.referenceSerializeEntityKey(Seq("driver_id" -> 1001L))) ===
      "020000006472697665725f69640400000004000000e9030000")
    // two keys enter sorted by name regardless of caller order:
    // {"zone": "sf", "driver_id": int64 7}
    val twoKey = "020000006472697665725f6964020000007a6f6e65" +
      "04000000040000000700000002000000020000007366"
    assert(hex(EntityKeyCodec.referenceSerializeEntityKey(
      Seq("zone" -> "sf", "driver_id" -> 7L))) === twoKey)
    assert(hex(EntityKeyCodec.referenceSerializeEntityKey(
      Seq("driver_id" -> 7L, "zone" -> "sf"))) === twoKey)
    // _mmh3("view:feature") — murmur3_32 seed 0, 4 LE bytes
    assert(hex(EntityKeyCodec.referenceFeatureFieldName(
      "driver_hourly_stats", "conv_rate")) === "6160e3da")
    assert(hex(EntityKeyCodec.referenceFeatureFieldName(
      "user_events", "value")) === "18560151")
    assert(hex(EntityKeyCodec.referenceFeatureFieldName(
      "feature_view", "feature")) === "a27f30d2")
    // _redis_key("test_proj", {"driver_id": int64 1001}) — RedisKey
    // protobuf wire bytes (field 1 project, 2 names, 3 Value msgs)
    assert(hex(EntityKeyCodec.referenceRedisKey("test_proj",
      Seq("driver_id" -> 1001L))) ===
      "0a09746573745f70726f6a12096472697665725f69641a0320e907")
    // compute_entity_id — mmh3.hash_bytes digest hex (h1 LE || h2 LE)
    // of the v1-serialized key: the DynamoDB/Datastore document id
    assert(EntityKeyCodec.referenceEntityId(Seq("driver_id" -> 1001L)) ===
      "4502dfea47294cccf23a78c07a9fb3e5")
    assert(EntityKeyCodec.referenceEntityId(
      Seq("zone" -> "sf", "driver_id" -> 7L)) ===
      "d01768f699de6457fdf41c61089c5ff2")
  }

  test("FeastProto Value oneof: every type round-trips the wire") {
    import graft.serving.{FeastProto, ProtoWire}
    def rt(v: Any): Any =
      FeastProto.decodeValue(new ProtoWire.Reader(FeastProto.encodeValue(v).toBytes))
    assert(rt(null) == null) // empty message = no oneof case
    assert(rt("héllo") === "héllo")
    assert(rt(42) === 42)
    assert(rt(-7L) === -7L) // negative varint: 10-byte sign extension
    assert(rt(Long.MaxValue) === Long.MaxValue)
    assert(rt(3.25) === 3.25)
    assert(rt(1.5f) === 1.5f)
    assert(rt(true) === true)
    assert(rt(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")) ===
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    assert(rt(Array[Byte](0, -1, 127)).asInstanceOf[Array[Byte]].toSeq === Seq[Byte](0, -1, 127))
    assert(rt(Seq("a", "b")) === Seq("a", "b"))
    assert(rt(Seq(1, 2, 3)) === Seq(1, 2, 3)) // packed varints
    assert(rt(Seq(1L, -2L)) === Seq(1L, -2L))
    assert(rt(Seq(0.5, -0.25)) === Seq(0.5, -0.25)) // packed fixed64
    assert(rt(Seq(0.5f, 2.0f)) === Seq(0.5f, 2.0f)) // packed fixed32
    assert(rt(Seq(true, false)) === Seq(true, false))
    assert(rt(Seq.empty[String]) === Seq.empty)
    // unix_timestamp_list (field 18) — second-granularity, like the scalar
    val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-03-01 12:30:00")
    assert(rt(Seq(t1, t2)) === Seq(t1, t2))
    // mixed Int/Long promotes to Int64List (first-element sniffing used
    // to truncate the Long through an int32 list — review r7)
    assert(rt(Seq[Any](1, 5000000000L)) === Seq(1L, 5000000000L))
    // genuinely mixed types are an error, not a guess
    intercept[IllegalArgumentException](
      graft.serving.FeastProto.encodeValue(Seq[Any](1, "a")))
    // hostile length varint near Int.MaxValue must error, not silently
    // truncate (overflowing bounds check — review r7)
    intercept[IllegalArgumentException] {
      val w = new ProtoWire.Writer
      w.varintField(0, 0) // dummy to get a writer; craft raw bytes below
      val evil = Array[Byte](0x12, -1, -1, -1, -1, 0x07) // field 2 LEN, len=0x7FFFFFFF
      FeastProto.decodeValue(new ProtoWire.Reader(evil))
    }
  }

  test("FeastProto request decoding matches independently-generated protobuf bytes") {
    import graft.serving.{FeastProto, ProtoWire}
    def unhex(s: String): Array[Byte] =
      s.grouped(2).map(java.lang.Integer.parseInt(_, 16).toByte).toArray
    // GetOnlineFeaturesRequestV2 bytes produced by a from-scratch Python
    // protobuf writer (varint/struct.pack replay of the proto3 wire
    // spec), NOT by FeastProto — so this pins cross-compat with any
    // conforming protobuf implementation, not self-consistency:
    //   entity_rows=[{timestamp: 2024-02-01T00:00:00Z,
    //                 fields: {driver_id: int64 1001, zone: "eu"}}],
    //   features=[{feature_table:"stats", name:"conv_rate"}],
    //   project="proj_x"
    val req = FeastProto.decodeOnlineRequest(unhex(
      "12280a060880beebad0612100a096472697665725f6964120320e907120c0a047a" +
        "6f6e6512041202657522120a0573746174731209636f6e765f726174652a067" +
        "0726f6a5f78"))
    assert(req.project === Some("proj_x"))
    assert(req.features === Seq(("stats", "conv_rate")))
    assert(req.entityRows.length === 1)
    val row = req.entityRows.head
    assert(row.tsSeconds === Some(1706745600L))
    assert(row.fields.toMap === Map("driver_id" -> 1001L, "zone" -> "eu"))
    // encode side: our writer reproduces the same bytes for the same
    // message (field order matches python protobuf's field-number order)
    assert(FeastProto.encodeOnlineRequest(FeastProto.OnlineRequestMsg(
      features = Seq(("stats", "conv_rate")),
      entityRows = Seq(FeastProto.EntityRowMsg(Some(1706745600L),
        Seq("driver_id" -> 1001L, "zone" -> "eu"))),
      project = Some("proj_x"))).map(b => f"${b & 0xff}%02x").mkString ===
      "12280a060880beebad0612100a096472697665725f6964120320e907120c0a047a" +
        "6f6e6512041202657522120a0573746174731209636f6e765f726174652a067" +
        "0726f6a5f78")
    // packed double list Value (field 15, 8-byte LE elements)
    val dl = FeastProto.decodeValue(new ProtoWire.Reader(
      unhex("7a120a10000000000000f83f000000000000e0bf")))
    assert(dl === Seq(1.5, -0.5))
  }

  test("registry lock: stale locks break atomically, fresh locks block until released (review r7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock")
    val p = s"$dir/registry.json"
    val lockFile = new java.io.File(p + ".lock")

    // a STALE lock (older than lockStaleMs=30s) from a crashed holder
    // must be broken by the rename-to-tombstone path, the mutation must
    // proceed, and no .lock.breaking-* tombstone may be left behind
    assert(lockFile.createNewFile())
    assert(lockFile.setLastModified(System.currentTimeMillis() - 60000L))
    val reg = new Registry(Some(p))
    reg.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    assert(reg.listEntities.map(_.name) === Seq("user"))
    assert(!lockFile.exists(), "released after the mutation")
    val leftovers = new java.io.File(dir.toString).listFiles()
      .map(_.getName).filter(_.contains(".lock."))
    assert(leftovers.isEmpty, s"no tombstone leftovers: ${leftovers.toSeq}")

    // a FRESH foreign lock must BLOCK the mutation until its holder
    // releases — never be stolen
    assert(lockFile.createNewFile()) // fresh mtime = live holder
    val done = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      reg.applyEntity(Entity("order", GraftType.Int64, Some("o_id")))
      done.countDown()
    })
    t.start()
    assert(!done.await(600, java.util.concurrent.TimeUnit.MILLISECONDS),
      "a fresh foreign lock must hold the mutation off")
    assert(lockFile.delete()) // the holder releases
    assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "the blocked mutation must complete once the lock frees")
    assert(reg.listEntities.map(_.name) === Seq("order", "user"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir.toString))
  }

  test("Json round-trip") {
    val doc = """{"a":[1,2.5,"x\ny",true,null],"b":{"c":-3e2},"d":""}"""
    val parsed = Json.parse(doc)
    assert(Json.parse(parsed.render) == parsed)
    intercept[IllegalArgumentException](Json.parse("""{"a":}"""))
    intercept[IllegalArgumentException](Json.parse("""[1,2"""))
  }

  test("Registry codec round-trips full state") {
    val state = RegistryState(
      entities = Map("user" -> Entity("user", GraftType.Int64, Some("user_id"), "desc")),
      views = Map("v1" -> FeatureView("v1", Seq("user"),
        Seq(Feature("f1", GraftType.Dbl), Feature("f2", GraftType.ListOf(GraftType.Str))),
        Duration.ofHours(6),
        FileSource("/data/x.parquet", "ts", Some("created"), Map("a" -> "b"), Some("date")),
        streamSource = Some(KafkaSource("broker:9092", "topic",
          StreamFormat.Json("user_id LONG, f1 DOUBLE, ts TIMESTAMP"), "ts"))),
        // Kinesis: declarative-only stream metadata, the reference's
        // own treatment — must survive the round-trip losslessly
        "v2" -> FeatureView("v2", Seq("user"),
          Seq(Feature("f3", GraftType.Flt)), Duration.ZERO,
          FileSource("/data/y.parquet", "ts"),
          streamSource = Some(KinesisSource("us-east-1", "events-stream",
            StreamFormat.Avro("""{"type":"record","name":"r","fields":[]}"""), "ts",
            fieldMapping = Map("src" -> "f3")))),
        // FileStreamSource reader options must survive the round-trip
        // (review r11: a reload that dropped header/cleanSource would
        // silently ingest header rows as data)
        "v3" -> FeatureView("v3", Seq("user"),
          Seq(Feature("f4", GraftType.Dbl)), Duration.ZERO,
          FileSource("/data/z.parquet", "ts"),
          streamSource = Some(FileStreamSource("/landing/z", "csv", "ts",
            maxFilesPerTrigger = Some(2),
            options = Map("header" -> "true", "cleanSource" -> "delete"))))),
      services = Map("svc" -> FeatureService("svc",
        Seq(FeatureViewProjection("v1", Seq("f1"))))),
      materializations = Map("v1" -> Seq(MaterializationInterval(
        Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-02 00:00:00")))))
    val decoded = RegistryCodec.decode(Json.parse(RegistryCodec.encode(state).render))
    assert(decoded.entities == state.entities)
    assert(decoded.views == state.views)
    assert(decoded.services == state.services)
    assert(decoded.materializations == state.materializations)
  }

  test("Json: int64 literals round-trip exactly (JInt), doubles stay JNum") {
    import graft.util.JValue._
    val big = 1234567890123456789L // above 2^53 — Double would corrupt it
    val parsed = Json.parse(s"""{"id": $big, "v": 0.5, "n": -42}""").asInstanceOf[JObj]
    assert(parsed("id") == JInt(big))
    assert(Json.toLong(parsed("id")) == big)
    assert(parsed("v") == JNum(0.5))
    assert(Json.toLong(parsed("n")) == -42L)
    assert(Json.parse(parsed.render) == parsed, "render/parse round trip")
    assert(parsed.render.contains(big.toString), "exact digits preserved in output")
    intercept[IllegalArgumentException](Json.toLong(JNum(0.5)))
  }

  test("murmur3 x64 128 entity id: known empty vector, avalanche, stable hex") {
    import graft.online.EntityKeyCodec
    // canonical x64_128 property: empty input, seed 0 -> (0, 0)
    assert(EntityKeyCodec.murmur3x64_128(Array.emptyByteArray) == (0L, 0L))
    // deterministic 32-hex-char document id, order-insensitive like the codec
    val id1 = EntityKeyCodec.entityId(Seq("user_id" -> 42L, "region" -> "eu"))
    val id2 = EntityKeyCodec.entityId(Seq("region" -> "eu", "user_id" -> 42L))
    assert(id1 == id2 && id1.length == 32 && id1.matches("[0-9a-f]{32}"))
    // avalanche: a one-bit key change flips a substantial share of bits
    val (a1, a2) = EntityKeyCodec.murmur3x64_128("abcdefgh12345678X".getBytes("UTF-8"))
    val (b1, b2) = EntityKeyCodec.murmur3x64_128("abcdefgh12345678Y".getBytes("UTF-8"))
    val flipped = java.lang.Long.bitCount(a1 ^ b1) + java.lang.Long.bitCount(a2 ^ b2)
    assert(flipped > 32, s"expected avalanche, only $flipped/128 bits flipped")
    // tail-handling: every length 0..17 hashes distinctly
    val hs = (0 to 17).map(n => EntityKeyCodec.murmur3x64_128(Array.fill(n)(7.toByte)))
    assert(hs.distinct.size == hs.size)
  }

  test("Registry persists to file and reloads") {
    val path = java.nio.file.Files.createTempDirectory("graftreg").toString + "/registry.json"
    val reg = new Registry(Some(path))
    reg.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    reg.applyFeatureView(FeatureView("v", Seq("user"),
      Seq(Feature("f", GraftType.Dbl)), Duration.ZERO,
      // reader options must survive the round-trip (review r6: they
      // were silently dropped, turning header CSVs into garbage reads)
      FileSource("/tmp/x.csv", "ts", format = "csv",
        options = Map("header" -> "true", "sep" -> ";"))))
    reg.applyMaterialization("v",
      Timestamp.valueOf("2024-01-01 00:00:00"), Timestamp.valueOf("2024-01-02 00:00:00"))
    val reg2 = new Registry(Some(path))
    assert(reg2.getEntity("user").joinKey == "user_id")
    assert(reg2.getFeatureView("v").features.head.name == "f")
    assert(reg2.getFeatureView("v").batchSource.asInstanceOf[FileSource].options
      === Map("header" -> "true", "sep" -> ";"))
    assert(reg2.materializationIntervals("v").size == 1)
    intercept[NoSuchElementException](reg2.getFeatureView("missing"))
    // registering a view with unknown entity fails
    intercept[IllegalArgumentException](reg2.applyFeatureView(
      FeatureView("v2", Seq("ghost"), Seq(Feature("f", GraftType.Dbl)),
        Duration.ZERO, FileSource("/tmp/x.parquet", "ts"))))
  }

  test("Registry: crash-recovery persist keeps a durable copy; stale writers never drop registrations (review r6)") {
    val path = java.nio.file.Files.createTempDirectory("graftreg2").toString + "/registry.json"
    val reg = new Registry(Some(path))
    reg.applyEntity(Entity("user", GraftType.Int64, Some("user_id")))
    // simulate a crash between persist's two renames: only .old remains
    val live = new java.io.File(path)
    val old = new java.io.File(path + ".old")
    assert(live.renameTo(old) && !live.exists())
    val recovered = new Registry(Some(path))
    assert(recovered.getEntity("user").joinKey == "user_id", "loads from .old")
    // the next persist previously DELETED .old before installing the
    // new live file — a second crash in that window lost everything;
    // now the mutation lands durably and the live file is restored
    recovered.applyEntity(Entity("item", GraftType.Int64, Some("item_id")))
    assert(live.exists())
    val reloaded = new Registry(Some(path))
    assert(reloaded.getEntity("user").name == "user" && reloaded.getEntity("item").name == "item")

    // two writer handles on one path: the second's mutation must not
    // wipe the first's (read-modify-write over the FRESH disk state)
    val a = new Registry(Some(path))
    val b = new Registry(Some(path)) // loads now, would go stale
    a.applyEntity(Entity("order", GraftType.Int64, Some("o_id")))
    b.applyEntity(Entity("store", GraftType.Int64, Some("s_id")))
    val check = new Registry(Some(path))
    assert(check.listEntities.map(_.name).toSet ===
      Set("user", "item", "order", "store"), "stale-writer lost update")
  }

  test("TFRecord framing: masked crc32c and record layout match the public spec") {
    import graft.functions.TfRecord
    // crc32c("123456789") = 0xe3069283 is the Castagnoli check value;
    // mask(crc) = rotr(crc,15) + 0xa282ead8 -> 0xc78ab0e5. Both pinned
    // against an independent bit-level implementation (not this code).
    assert(TfRecord.maskedCrc32c("123456789".getBytes("UTF-8")) == 0xc78ab0e5)
    // frame("abc"): [03 00*7][masked crc(len)=0x0e4999b0 LE][abc][0x21f1576e LE]
    val f = TfRecord.frame("abc".getBytes("UTF-8"))
    assert(f.length == 8 + 4 + 3 + 4)
    assert(f.take(8).toSeq == Seq[Byte](3, 0, 0, 0, 0, 0, 0, 0))
    def le32(off: Int): Int =
      (f(off) & 0xff) | ((f(off + 1) & 0xff) << 8) |
        ((f(off + 2) & 0xff) << 16) | ((f(off + 3) & 0xff) << 24)
    assert(le32(8) == 0x0e4999b0, f"len crc ${le32(8)}%08x")
    assert(new String(f.slice(12, 15), "UTF-8") == "abc")
    assert(le32(15) == 0x21f1576e, f"data crc ${le32(15)}%08x")

    // parseShard round-trips concatenated records and REJECTS corruption
    val shard = TfRecord.frame("abc".getBytes("UTF-8")) ++ TfRecord.frame(Array.emptyByteArray)
    val recs = TfRecord.parseShard(shard).toSeq
    assert(recs.map(new String(_, "UTF-8")) == Seq("abc", ""))
    val corrupt = shard.clone(); corrupt(13) = 'X'.toByte // inside record 1 data
    intercept[IllegalArgumentException](TfRecord.parseShard(corrupt).toSeq)
    intercept[Exception](TfRecord.parseShard(shard.dropRight(1)).toSeq) // torn tail
  }

  test("tf.Example codec: scalars, arrays, null omission, double->float narrowing") {
    import graft.functions.TfRecord
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("b", BinaryType), StructField("flag", BooleanType),
      StructField("d", DoubleType), StructField("tags", ArrayType(StringType)),
      StructField("ids", ArrayType(LongType)), StructField("vec", ArrayType(FloatType)),
      StructField("missing", StringType)))
    val row = Row(7L, "héllo", Array[Byte](1, 2), true, 0.25, Seq("a", "b"),
      Seq(1L, -5L, 300L), Seq(1.5f, -2.0f), null)
    val back = TfRecord.decodeExample(schema, TfRecord.encodeExample(schema, row))
    assert(back.getLong(0) == 7L && back.getString(1) == "héllo")
    assert(back.getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2))
    assert(back.getBoolean(3) && back.getDouble(4) == 0.25)
    assert(back.getAs[Seq[String]](5) == Seq("a", "b"))
    assert(back.getAs[Seq[Long]](6) == Seq(1L, -5L, 300L)) // negatives via varint
    assert(back.getAs[Seq[Float]](7) == Seq(1.5f, -2.0f))
    assert(back.isNullAt(8), "null field must be omitted and decode to null")
    // double really narrows to float32 (tf.Example has no double list)
    val dSchema = StructType(Seq(StructField("d", DoubleType)))
    val narrowed = TfRecord.decodeExample(dSchema,
      TfRecord.encodeExample(dSchema, Row(0.1))).getDouble(0)
    assert(narrowed == 0.1f.toDouble && narrowed != 0.1)
    // timestamp rides int64 epoch-MICROS and round-trips exactly
    val tSchema = StructType(Seq(StructField("ts", TimestampType)))
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:20:30.123456")
    val t1 = TfRecord.decodeExample(tSchema,
      TfRecord.encodeExample(tSchema, Row(t0))).getTimestamp(0)
    assert(t1 == t0, s"micros timestamp must round-trip, got $t1")
    // short/byte ride Int64List on write AND read back at their schema
    // width (the r8 codec was write-only for these — ADVICE item)
    val sbSchema = StructType(Seq(StructField("sh", ShortType), StructField("by", ByteType)))
    val sb = TfRecord.decodeExample(sbSchema,
      TfRecord.encodeExample(sbSchema, Row(12345.toShort, (-7).toByte)))
    assert(sb.getShort(0) == 12345.toShort && sb.getByte(1) == (-7).toByte)
    // a null ARRAY ELEMENT is unrepresentable in tf.Example lists: the
    // encoder must reject it loudly, naming the field (not NPE)
    val aSchema = StructType(Seq(StructField("tags", ArrayType(StringType))))
    val e = intercept[IllegalArgumentException](
      TfRecord.encodeExample(aSchema, Row(Seq("a", null, "c"))))
    assert(e.getMessage.contains("tags") && e.getMessage.contains("null"))
  }

  test("WebDataset tar: truncated shard fails loudly; space-padded octal fields parse (review r12)") {
    import graft.functions.WebDataset
    // a shard truncated mid-archive (trailer and later members gone)
    // must throw, never read back as a clean shorter archive
    val full = WebDataset.tarMember("1.txt", "abc".getBytes("UTF-8")) ++
      WebDataset.tarMember("2.txt", "def".getBytes("UTF-8")) ++ WebDataset.Trailer
    val torn = full.take(WebDataset.tarMember("1.txt", "abc".getBytes("UTF-8")).length + 100)
    val e = intercept[IllegalArgumentException] {
      WebDataset.parseTar(torn).toSeq
    }
    assert(e.getMessage.contains("torn"))
    // POSIX-legal space-padded numeric fields (BSD/older tar): rewrite
    // the size field of a valid header as space-padded octal and restate
    // the checksum in the same spaced form — must parse, not read size 0
    val m = WebDataset.tarMember("5.txt", "hello".getBytes("UTF-8"))
    val h = java.util.Arrays.copyOf(m, m.length)
    val sizeField = "      5 ".getBytes("UTF-8") // leading spaces, space terminator
    System.arraycopy(sizeField, 0, h, 124, 8); h(132) = 0
    // recompute checksum over the modified header (chksum as spaces)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    var sum = 0L
    (0 until 512).foreach(i => sum += h(i) & 0xff)
    val chk = ("%06o".format(sum) + "  ").getBytes("UTF-8")
    System.arraycopy(chk, 0, h, 148, 8)
    val spaced = h ++ WebDataset.Trailer
    val parsed = WebDataset.parseTar(spaced).toSeq
    assert(parsed.size == 1 && parsed.head._1 == "5.txt" &&
      new String(parsed.head._2, "UTF-8") == "hello",
      "space-padded size/chksum fields must parse")
  }

  test("WebDataset tar: round-trip, adjacency grouping, checksum reject, SYSTEM tar interop") {
    import graft.functions.WebDataset
    // our writer -> our parser
    val shard = WebDataset.tarMember("42.txt", "hello wörld".getBytes("UTF-8")) ++
      WebDataset.tarMember("42.json", """{"lang":"de"}""".getBytes("UTF-8")) ++
      WebDataset.tarMember("43.txt", Array.fill[Byte](513)('x'.toByte)) ++ // pad spill
      WebDataset.Trailer
    val members = WebDataset.parseTar(shard).toSeq
    assert(members.map(_._1) == Seq("42.txt", "42.json", "43.txt"))
    assert(new String(members.head._2, "UTF-8") == "hello wörld")
    assert(members(2)._2.length == 513)
    // adjacency grouping: 2 samples, suffix = past the FIRST dot
    val samples = WebDataset.groupSamples(WebDataset.parseTar(shard)).toSeq
    assert(samples.map(_._1) == Seq("42", "43"))
    assert(samples.head._2.keySet == Set("txt", "json"))
    // corrupt header byte -> checksum reject
    val corrupt = shard.clone(); corrupt(0) = 'Z'.toByte
    intercept[IllegalArgumentException](WebDataset.parseTar(corrupt).toSeq)

    // interop both directions against the system tar, when present
    val sysTar = new java.io.File("/usr/bin/tar")
    assume(sysTar.exists, "system tar not available")
    val dir = java.nio.file.Files.createTempDirectory("wds_").toFile
    try {
      // 1) our shard -> system tar extracts the same contents
      val ours = new java.io.File(dir, "ours.tar")
      java.nio.file.Files.write(ours.toPath, shard)
      val ex = new ProcessBuilder("/usr/bin/tar", "-xf", ours.getAbsolutePath,
        "-C", dir.getAbsolutePath).inheritIO().start().waitFor()
      assert(ex == 0, "system tar rejected our ustar shard")
      val extracted = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "42.txt").toPath)
      assert(new String(extracted, "UTF-8") == "hello wörld")
      // 2) system tar's output -> our parser
      val theirs = new java.io.File(dir, "theirs.tar")
      val cr = new ProcessBuilder("/usr/bin/tar", "--format=ustar",
        "-cf", theirs.getAbsolutePath, "-C", dir.getAbsolutePath,
        "42.txt", "42.json").inheritIO().start().waitFor()
      assert(cr == 0)
      val reparsed = WebDataset.parseTar(
        java.nio.file.Files.readAllBytes(theirs.toPath)).toMap
      assert(new String(reparsed("42.txt"), "UTF-8") == "hello wörld")
      assert(new String(reparsed("42.json"), "UTF-8") == """{"lang":"de"}""")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("Registry codec: sub-second view TTLs round-trip; a ttl_seconds-only view still loads") {
    def view(ttl: Duration) = FeatureView("sub", Seq("e"), Seq(Feature("v", GraftType.Dbl)),
      ttl, FileSource("/nonexistent.parquet", eventTimestampColumn = "et"))
    Seq(Duration.ofMillis(1500), Duration.ofNanos(1), Duration.ofHours(2), Duration.ZERO)
      .foreach { ttl =>
        val text = RegistryCodec.encodeView(view(ttl)).render
        assert(RegistryCodec.decodeView(Json.parse(text)).ttl === ttl, text)
      }
    // a view written before ttl_nanos existed carries whole seconds only
    val text = Json.obj(RegistryCodec.encodeView(view(Duration.ofSeconds(90))).fields
      .filterNot(_._1 == "ttl_nanos"): _*).render
    assert(!text.contains("ttl_nanos") && text.contains("\"ttl_seconds\":90"), text)
    assert(RegistryCodec.decodeView(Json.parse(text)).ttl === Duration.ofSeconds(90))
  }
}
