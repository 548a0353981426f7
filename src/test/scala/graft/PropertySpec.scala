package graft

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.online.{EntityKeyCodec, InMemoryOnlineStore, ParquetOnlineStore}
import graft.operators.PointInTimeJoin
import graft.operators.PointInTimeJoin.ViewJoin

/** Property-based tests (the reference has none — SURVEY §5 upgrade):
  * the PIT join must agree with a per-row nested-loop as-of oracle on
  * ARBITRARY generated inputs (key counts, ttl, created-ts presence,
  * duplicate rows, empty frames), and the entity-key codec must be
  * permutation-invariant and type-tag injective. */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.configure(s)
    s
  }

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** GRAFT_PROP_FACTOR multiplies every test's iteration count — the
    * soak knob (e.g. =10 for a long adversarial run); default 1 keeps
    * the suite fast. */
  private val propFactor: Int =
    sys.env.get("GRAFT_PROP_FACTOR").map(_.toInt).getOrElse(1)

  private def runCheck(prop: Prop, minTests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(minTests * propFactor).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("PIT join agrees with the nested-loop oracle on arbitrary inputs (ScalaCheck)") {
    import spark.implicits._
    val genCase = for {
      nKeys <- Gen.choose(1, 6)
      nRows <- Gen.choose(0, 150)
      nEnt <- Gen.choose(1, 40)
      ttlH <- Gen.oneOf(0, 1, 7, 48)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nEnt, ttlH, seed)

    val prop = Prop.forAllNoShrink(genCase) { case (nKeys, nRows, nEnt, ttlH, seed) =>
      val rnd = new scala.util.Random(seed)
      def t(): Timestamp = new Timestamp(base + rnd.nextInt(100) * 3600_000L)
      val rows = (0 until nRows).map(_ =>
        (rnd.nextInt(nKeys).toLong, t(), t(), rnd.nextInt(500).toDouble))
      val ents = (0 until nEnt).map(_ => (rnd.nextInt(nKeys).toLong, t()))
      val ttl = Duration.ofHours(ttlH.toLong)

      val featDf = rows.toDF("k", "et", "ct", "v")
      val entityDf = ents.toDF("k", "event_timestamp")
      val view = FeatureView("pv", Seq("e"), Seq(Feature("v", GraftType.Dbl)),
        ttl, DataFrameSource(featDf, "et", createdTimestampColumn = Some("ct")))
      val got = PointInTimeJoin.join(entityDf, Seq(ViewJoin(view, Seq("k"), Seq("v"), featDf)))
        .select("k", "event_timestamp", "v").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.get(2)).map(_.asInstanceOf[Double])))

      def oracle(key: Long, ts: Timestamp): Option[Double] = {
        val lower = ts.getTime - ttl.toMillis
        val c = rows.filter { case (k, et, _, _) =>
          k == key && et.getTime <= ts.getTime && (ttl.isZero || et.getTime >= lower)
        }
        if (c.isEmpty) None
        else Some(c.maxBy { case (_, et, ct, v) => (et.getTime, ct.getTime, v) }._4)
      }

      // left outer preserves cardinality; every row matches the oracle
      got.length == ents.length && got.forall { case (k, ts, v) => v == oracle(k, ts) }
    }
    runCheck(prop, minTests = 8)
  }

  test("multi-view PIT chain agrees with per-view nested-loop oracles (ScalaCheck)") {
    import spark.implicits._
    // Exercises the r8 all-eligible CHAIN route (entity asof v1 asof
    // v2): tiny key/ts domains force duplicate (key, ts, created) rows
    // so the payload tie-break engages, distinct TTLs per view, and
    // fullFeatureNames prefixing. Each view enriches independently, so
    // the oracle is the single-view as-of rule per view.
    val genCase = for {
      nKeys <- Gen.choose(1, 5)
      nRows1 <- Gen.choose(0, 80)
      nRows2 <- Gen.choose(0, 80)
      nEnt <- Gen.choose(1, 30)
      ttl1 <- Gen.oneOf(0, 1, 24)
      ttl2 <- Gen.oneOf(0, 6, 48)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows1, nRows2, nEnt, ttl1, ttl2, seed)

    val prop = Prop.forAllNoShrink(genCase) {
      case (nKeys, nRows1, nRows2, nEnt, ttl1H, ttl2H, seed) =>
        val rnd = new scala.util.Random(seed)
        def t(): Timestamp = new Timestamp(base + rnd.nextInt(30) * 3600_000L)
        val rows1 = (0 until nRows1).map(_ =>
          (rnd.nextInt(nKeys).toLong, t(), t(), rnd.nextInt(5).toDouble))
        val rows2 = (0 until nRows2).map(_ =>
          (rnd.nextInt(nKeys).toLong, t(), s"s${rnd.nextInt(4)}"))
        val ents = (0 until nEnt).map(_ => (rnd.nextInt(nKeys).toLong, t()))
        val (ttl1, ttl2) = (Duration.ofHours(ttl1H.toLong), Duration.ofHours(ttl2H.toLong))

        val f1 = rows1.toDF("k", "et", "ct", "v")
        val f2 = rows2.toDF("k", "et2", "s")
        val entityDf = ents.toDF("k", "event_timestamp")
        val v1 = FeatureView("a", Seq("e"), Seq(Feature("v", GraftType.Dbl)),
          ttl1, DataFrameSource(f1, "et", createdTimestampColumn = Some("ct")))
        val v2 = FeatureView("b", Seq("e"), Seq(Feature("s", GraftType.Str)),
          ttl2, DataFrameSource(f2, "et2"))
        val got = PointInTimeJoin.join(entityDf,
            Seq(ViewJoin(v1, Seq("k"), Seq("v"), f1),
              ViewJoin(v2, Seq("k"), Seq("s"), f2)),
            fullFeatureNames = true)
          .select("k", "event_timestamp", "a__v", "b__s").collect()
          .map(r => (r.getLong(0), r.getTimestamp(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[String])))

        def inWin(et: Timestamp, ts: Timestamp, ttl: Duration): Boolean =
          et.getTime <= ts.getTime &&
            (ttl.isZero || et.getTime >= ts.getTime - ttl.toMillis)
        def o1(key: Long, ts: Timestamp): Option[Double] = {
          val c = rows1.filter { case (k, et, _, _) => k == key && inWin(et, ts, ttl1) }
          if (c.isEmpty) None
          else Some(c.maxBy { case (_, et, ct, v) => (et.getTime, ct.getTime, v) }._4)
        }
        def o2(key: Long, ts: Timestamp): Option[String] = {
          val c = rows2.filter { case (k, et, _) => k == key && inWin(et, ts, ttl2) }
          if (c.isEmpty) None
          else Some(c.maxBy { case (_, et, s) => (et.getTime, s) }._3)
        }
        got.length == ents.length && got.forall { case (k, ts, v, sv) =>
          v == o1(k, ts) && sv == o2(k, ts)
        }
    }
    runCheck(prop, minTests = 8)
  }

  test("every PIT join route and both AsOfJoin routes agree with the nested-loop oracle (ScalaCheck)") {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions.{col, lit, unix_micros, when}
    import graft.plans.AsOfJoin
    // One generated case through every input shape PointInTimeJoin.join
    // accepts, with the entity frame at 1 and 4 partitions. Times are
    // UTC midnights, so DATE-typed copies of either ts are exact; tiny
    // (et, ct, v) domains make ties that only the payload tail breaks.
    // Key remaps that are bijections on both sides (0 -> null, or
    // 0 -> -0.0 / 0.0 and 1 -> NaN) leave the oracle unchanged.
    val day = 86400000L
    val dayBase = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val genCase = for {
      nKeys <- Gen.choose(1, 4)
      nRows <- Gen.choose(0, 60)
      nEnt <- Gen.choose(1, 25)
      ttlD <- Gen.oneOf(0, 1, 3, 10)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nEnt, ttlD, seed)

    def values(df: DataFrame, c: String): Map[Long, Option[Double]] =
      df.select("eid", c).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap

    val prop = Prop.forAllNoShrink(genCase) { case (nKeys, nRows, nEnt, ttlD, seed) =>
      val rnd = new scala.util.Random(seed)
      def t(days: Int): Timestamp = new Timestamp(dayBase + rnd.nextInt(days) * day)
      val rows = (0 until nRows).map(_ =>
        (rnd.nextInt(nKeys).toLong, t(20), t(3), rnd.nextInt(4).toDouble))
      val ents = (0 until nEnt).map(i => (rnd.nextInt(nKeys).toLong, t(20), i.toLong))
      val ttl = Duration.ofDays(ttlD.toLong)
      val subDay = Duration.ofHours(12)
      def expect(ttl: Duration): Map[Long, Option[Double]] = ents.map { case (key, ts, eid) =>
        val c = rows.filter { case (k, et, _, _) =>
          k == key && et.getTime <= ts.getTime &&
            (ttl.isZero || et.getTime >= ts.getTime - ttl.toMillis)
        }
        eid -> (if (c.isEmpty) None
          else Some(c.maxBy { case (_, et, ct, v) => (et.getTime, ct.getTime, v) }._4))
      }.toMap
      val expected = expect(ttl)

      val featTs = rows.toDF("k", "et", "ct", "v")
      def retype(df: DataFrame, c: String, e: Column => Column) = df.withColumn(c, e(col(c)))
      val asDate: Column => Column = _.cast("date")
      val asNtz: Column => Column = _.cast("timestamp_ntz")
      val featDate = retype(featTs, "et", asDate)
      val nullKeys: Column => Column = k => when(k =!= 0, k)
      def doubleKeys(zero: Double): Column => Column = k =>
        when(k === 0, lit(zero)).when(k === 1, lit(Double.NaN)).otherwise(k.cast("double"))
      def viewJoin(name: String, feat: DataFrame, ttl: Duration = ttl) = ViewJoin(
        FeatureView(name, Seq("e"), Seq(Feature("v", GraftType.Dbl)),
          ttl, DataFrameSource(feat, "et", createdTimestampColumn = Some("ct"))),
        Seq("k"), Seq("v"), feat)
      def pit(entity: DataFrame, feat: DataFrame, ttl: Duration = ttl) =
        values(PointInTimeJoin.join(entity, Seq(viewJoin("pv", feat, ttl)),
          fullFeatureNames = true), "pv__v")
      val byParts = Seq(1, 4).map { parts =>
        val entity = ents.toDF("k", "event_timestamp", "eid").repartition(parts)
        val entDate = retype(entity, "event_timestamp", asDate)
        val entNtz = retype(entity, "event_timestamp", asNtz)
        // one call, a TIMESTAMP view and a DATE view
        val mixed = PointInTimeJoin.join(entity,
          Seq(viewJoin("pv", featTs), viewJoin("pd", featDate)), fullFeatureNames = true)
        val runs = Seq(
          ("chain", pit(entity, featTs), expected),
          // an entity column named like the source feature stays on the chain
          ("chain, entity column named like the feature",
            pit(entity.withColumn("v", lit(-1.0)), featTs), expected),
          ("DATE feature ts", pit(entity, featDate), expected),
          ("DATE entity ts", pit(entDate, featTs), expected),
          ("DATE entity ts, sub-day ttl", pit(entDate, featTs, subDay), expect(subDay)),
          ("DATE ts on both sides", pit(entDate, featDate), expected),
          ("NTZ ts on both sides", pit(entNtz, retype(featTs, "et", asNtz)), expected),
          ("NTZ entity ts, TIMESTAMP feature ts", pit(entNtz, featTs), expected),
          ("epoch-long ts on both sides, ttl 0",
            pit(retype(entity, "event_timestamp", unix_micros),
              retype(featTs, "et", unix_micros), Duration.ZERO), expect(Duration.ZERO)),
          ("int entity key, bigint feature key",
            pit(retype(entity, "k", _.cast("int")), featTs), expected),
          ("bigint entity key, int feature key",
            pit(entity, retype(featTs, "k", _.cast("int"))), expected),
          ("null keys", pit(retype(entity, "k", nullKeys), retype(featTs, "k", nullKeys)),
            expected),
          ("double keys with -0.0 / 0.0 / NaN",
            pit(retype(entity, "k", doubleKeys(-0.0)), retype(featTs, "k", doubleKeys(0.0))),
            expected),
          ("double keys, DATE feature ts",
            pit(retype(entity, "k", doubleKeys(-0.0)), retype(featDate, "k", doubleKeys(0.0))),
            expected),
          ("mixed, TIMESTAMP view", values(mixed, "pv__v"), expected),
          ("mixed, DATE view", values(mixed, "pd__v"), expected),
          ("AsOfJoin sortmerge", values(AsOfJoin.join(entity, featTs, Seq("k"),
            "event_timestamp", "et", ttl, orderCols = Seq("ct"), featureCols = Seq("v")), "v"),
            expected))
        Prop.all(runs.map { case (route, got, exp) =>
          (got == exp) :| s"$route, $parts partition(s): $got != $exp" }: _*)
      }
      Prop.all(byParts: _*)
    }
    runCheck(prop, minTests = 6)
  }

  test("native text-scan counters equal their regex formulations (ScalaCheck)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    // Adversarial alphabet: every java-\s char, word chars incl. '_',
    // ASCII punctuation, 2-/3-/4-byte UTF-8 code points (é, €, emoji),
    // a combining mark, a non-breaking space (NOT \s in java default
    // mode), and whole stopwords to exercise the \b word-set path.
    val atoms = Gen.oneOf(
      Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", " "),
      Gen.oneOf("a", "Z", "7", "_", ".", ",", "!", "-", "'"),
      // 𝕒 = U+1D552, a supplementary-plane LETTER: java.util.regex
      // scans \b in code units, so 𝕒 followed by a combining mark has
      // a boundary (the low surrogate is no base char) where a naive
      // code-point scan sees none — the adjacency the review-r12
      // hasBase fix pins
      Gen.oneOf("é", "€", "😀", "́", "ß", "İ", "𝕒"),
      Gen.oneOf(TextFunctions.StopwordsEn),
      Gen.oneOf("theory", "android", "it4", "on_", "the"))
    val genText = Gen.listOf(atoms).map(_.mkString)
    val prop = Prop.forAllNoShrink(Gen.listOfN(24, genText)) { texts =>
      // pinned: the confirmed r12 divergence input rides every run
      val df = (texts :+ "" :+ "𝕒̀the")
        .zipWithIndex.map(_.swap).toDF("i", "t")
      val sw = TextFunctions.StopwordsEn
      val got = df.select(
          TextFunctions.tokenCount(col("t")),
          TextFunctions.bpeTokenEstimate(col("t")),
          TextFunctions.punctCount(col("t")),
          TextFunctions.stopwordCount(col("t")),
          // regex formulations the natives replaced
          size(regexp_extract_all(col("t"), lit("\\S+"), lit(0))),
          size(regexp_extract_all(lower(col("t")), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))),
          size(regexp_extract_all(col("t"), lit("[^a-zA-Z0-9\\s]"), lit(0))),
          size(regexp_extract_all(lower(col("t")),
            lit("\\b(" + sw.mkString("|") + ")\\b"), lit(0))))
        .collect()
      got.forall(r => r.getInt(0) == r.getInt(4) && r.getInt(1) == r.getInt(5) &&
        r.getInt(2) == r.getInt(6) && r.getInt(3) == r.getInt(7))
    }
    runCheck(prop, minTests = 12)
  }

  test("native words/ngrams equal their regex/HOF formulations (ScalaCheck)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val atoms = Gen.oneOf(
      Gen.oneOf(" ", "\t", "\n", ".", "-", "_", "é", "😀", "İ", "ß"),
      Gen.oneOf("a", "b9", "Qx", "the", "and", "word"),
      // repeats so array_distinct has real work
      Gen.const("dup dup dup"))
    val genText = Gen.listOf(atoms).map(_.mkString)
    val prop = Prop.forAllNoShrink(Gen.listOfN(20, genText), Gen.choose(1, 4)) {
      (texts, n) =>
        val df = (texts :+ "").zipWithIndex.map(_.swap).toDF("i", "t")
          .withColumn("__w", TextFunctions.words(col("t")))
          .withColumn("__wr", regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0)))
        def hofGrams(w: org.apache.spark.sql.Column, distinct: Boolean) = {
          val grams = transform(sequence(lit(1), size(w) - lit(n - 1)),
            i => concat_ws(" ", (0 until n).map(j => element_at(w, i + lit(j))): _*))
          val g = when(size(w) < n, array().cast("array<string>")).otherwise(grams)
          if (distinct) array_distinct(g) else g
        }
        val got = df.select(
            col("__w"), col("__wr"),
            TextFunctions.wordNgramsFromWords(col("__wr"), n),
            hofGrams(col("__wr"), distinct = true),
            TextFunctions.wordNgramsAllFromWords(col("__wr"), n),
            hofGrams(col("__wr"), distinct = false))
          .collect()
        got.forall { r =>
          r.getSeq[String](0) == r.getSeq[String](1) &&
            r.getSeq[String](2) == r.getSeq[String](3) &&
            r.getSeq[String](4) == r.getSeq[String](5)
        }
    }
    runCheck(prop, minTests = 12)
  }

  /** The input shapes both forward-looking as-of properties add to their
    * unique-id case: a day grid (so DATE copies are exact) with a
    * duplicate-prone tie-break and a null-bearing payload, so only the
    * payload decides some winners. Each shape runs at 1 and 4 entity
    * partitions plus a shuffle-derived (distinct) entity frame.
    * `join(entity, feature)` runs the operator; `oracle` gives each
    * entity row's (id, v) winner; results are compared per `eid`. */
  private def asOfShapes(
      rows: Seq[(Long, Timestamp, Long, java.lang.Double)],
      ents: Seq[(Long, Timestamp, Long)],
      join: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame,
      oracle: (Long, Timestamp) => Option[(Long, Any)],
      tsTypes: Seq[String] = Seq("date", "timestamp_ntz")): Prop = {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions.{col, when}
    val expected = ents.map { case (k, ts, eid) => eid -> oracle(k, ts) }.toMap
    val feat = rows.toDF("k", "ft", "id", "v")
    def retype(df: DataFrame, c: String, e: Column => Column) = df.withColumn(c, e(col(c)))
    val nullKeys: Column => Column = k => when(k =!= 0, k)
    val entities = Seq(1, 4).map(p => s"$p partition(s)" ->
      ents.toDF("k", "event_timestamp", "eid").repartition(p)) :+
      ("shuffle-derived" -> ents.toDF("k", "event_timestamp", "eid").distinct())
    val runs = entities.flatMap { case (shape, entity) =>
      Seq(s"TIMESTAMP, $shape" -> join(entity, feat),
        s"null keys, $shape" -> join(retype(entity, "k", nullKeys), retype(feat, "k", nullKeys))) ++
      tsTypes.map(t => s"$t, $shape" -> join(retype(entity, "event_timestamp", _.cast(t)),
        retype(feat, "ft", _.cast(t))))
    }
    Prop.all(runs.map { case (name, df) =>
      val got = df.select("eid", "id", "v").collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(_ => (r.getLong(1), if (r.isNullAt(2)) null else r.get(2)))).toMap
      (got == expected) :| s"$name: $got != $expected"
    }: _*)
  }

  /** A day-grid case for [[asOfShapes]]: ids from {0, 1} and v from
    * {null, 0, 1, 2}, so duplicate (key, ts, id) rows are common. */
  private def dayGridCase(rnd: scala.util.Random, nKeys: Int, nRows: Int, nEnt: Int) = {
    val day = 86400000L
    def t(): Timestamp = new Timestamp(base + rnd.nextInt(12) * day)
    val rows = (0 until nRows).map(_ => (rnd.nextInt(nKeys).toLong, t(),
      rnd.nextInt(2).toLong,
      if (rnd.nextInt(4) == 0) null else java.lang.Double.valueOf(rnd.nextInt(3).toDouble)))
    val ents = (0 until nEnt).map(i => (rnd.nextInt(nKeys).toLong, t(), i.toLong))
    (rows, ents)
  }

  /** (id, v) of a day-grid winner, v null smallest in the payload order. */
  private def idV(r: (Long, Timestamp, Long, java.lang.Double)): (Long, Double) =
    (r._3, if (r._4 == null) Double.NegativeInfinity else r._4.doubleValue())

  test("LabelJoin agrees with the nested-loop forward oracle on arbitrary inputs (ScalaCheck)") {
    import spark.implicits._
    val genCase = for {
      nKeys <- Gen.choose(1, 6)
      nRows <- Gen.choose(0, 150)
      nEnt <- Gen.choose(1, 40)
      horizonH <- Gen.oneOf(1, 7, 48)
      horizonD <- Gen.oneOf(1, 3)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nEnt, horizonH, horizonD, seed)

    val prop = Prop.forAllNoShrink(genCase) {
      case (nKeys, nRows, nEnt, horizonH, horizonD, seed) =>
      val rnd = new scala.util.Random(seed)
      def t(): Timestamp = new Timestamp(base + rnd.nextInt(100) * 3600_000L)
      // unique label ids make the (ts, id) tie-break a total order
      val rows = (0 until nRows).map(i =>
        (rnd.nextInt(nKeys).toLong, t(), i.toLong, rnd.nextInt(500).toDouble))
      val ents = (0 until nEnt).map(_ => (rnd.nextInt(nKeys).toLong, t()))
      val horizon = Duration.ofHours(horizonH.toLong)

      val labelDf = rows.toDF("k", "lt", "lid", "v")
      val entityDf = ents.toDF("k", "event_timestamp")
      val got = graft.operators.LabelJoin.join(entityDf, labelDf, Seq("k"),
          Seq("lid", "v"), horizon, labelTsCol = "lt", tieBreaks = Seq("lid"))
        .select("k", "event_timestamp", "lid").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.get(2)).map(_.asInstanceOf[Long])))

      def oracle(key: Long, ts: Timestamp): Option[Long] = {
        val upper = ts.getTime + horizon.toMillis
        val c = rows.filter { case (k, lt, _, _) =>
          k == key && lt.getTime > ts.getTime && lt.getTime <= upper
        }
        if (c.isEmpty) None
        else Some(c.minBy { case (_, lt, lid, _) => (lt.getTime, lid) }._3)
      }

      // the day grid: duplicate ids, so (lt, id, v) decides
      val (dRows, dEnts) = dayGridCase(rnd, nKeys, nRows, nEnt)
      val dHorizon = Duration.ofDays(horizonD.toLong)
      val shapes = asOfShapes(dRows, dEnts,
        (e, f) => graft.operators.LabelJoin.join(e, f, Seq("k"), Seq("id", "v"),
          dHorizon, labelTsCol = "ft", tieBreaks = Seq("id")),
        (key, ts) => {
          val c = dRows.filter { case (k, lt, _, _) =>
            k == key && lt.getTime > ts.getTime && lt.getTime <= ts.getTime + dHorizon.toMillis
          }
          if (c.isEmpty) None
          else Some(c.minBy(r => (r._2.getTime, idV(r)))).map(r => (r._3, r._4))
        })

      ((got.length == ents.length &&
        got.forall { case (k, ts, lid) => lid == oracle(k, ts) }) :| "unique ids") && shapes
    }
    runCheck(prop, minTests = 8)
  }

  test("NearestJoin agrees with the nested-loop nearest oracle on arbitrary inputs (ScalaCheck)") {
    import spark.implicits._
    val genCase = for {
      nKeys <- Gen.choose(1, 6)
      nRows <- Gen.choose(0, 150)
      nEnt <- Gen.choose(1, 40)
      tolH <- Gen.oneOf(1, 7, 48)
      tolD <- Gen.oneOf(1, 3)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nEnt, tolH, tolD, seed)

    val prop = Prop.forAllNoShrink(genCase) { case (nKeys, nRows, nEnt, tolH, tolD, seed) =>
      val rnd = new scala.util.Random(seed)
      def t(): Timestamp = new Timestamp(base + rnd.nextInt(100) * 3600_000L)
      val rows = (0 until nRows).map(i =>
        (rnd.nextInt(nKeys).toLong, t(), i.toLong, rnd.nextInt(500).toDouble))
      val ents = (0 until nEnt).map(_ => (rnd.nextInt(nKeys).toLong, t()))
      val tol = Duration.ofHours(tolH.toLong)

      val featDf = rows.toDF("k", "ft", "fid", "v")
      val entityDf = ents.toDF("k", "event_timestamp")
      val got = graft.operators.NearestJoin.join(entityDf, featDf, Seq("k"),
          Seq("fid", "v"), tol, featureTsCol = "ft", tieBreaks = Seq("fid"))
        .select("k", "event_timestamp", "fid").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.get(2)).map(_.asInstanceOf[Long])))

      // nearest within ±tol; ties on distance -> backward, then min id
      def oracle(key: Long, ts: Timestamp): Option[Long] = {
        val c = rows.filter { case (k, ft, _, _) =>
          k == key && math.abs(ft.getTime - ts.getTime) <= tol.toMillis
        }
        if (c.isEmpty) None
        else Some(c.minBy { case (_, ft, fid, _) =>
          (math.abs(ft.getTime - ts.getTime),
            if (ft.getTime <= ts.getTime) 0L else 1L, ft.getTime, fid)
        }._3)
      }

      // the day grid: rows at equal distance on both sides of an anchor
      // and duplicate ids, so direction, then (id, v), decides
      val (dRows, dEnts) = dayGridCase(rnd, nKeys, nRows, nEnt)
      val dTol = Duration.ofDays(tolD.toLong)
      val shapes = asOfShapes(dRows, dEnts,
        (e, f) => graft.operators.NearestJoin.join(e, f, Seq("k"), Seq("id", "v"),
          dTol, featureTsCol = "ft", tieBreaks = Seq("id")),
        (key, ts) => {
          val c = dRows.filter { case (k, ft, _, _) =>
            k == key && math.abs(ft.getTime - ts.getTime) <= dTol.toMillis
          }
          if (c.isEmpty) None
          else Some(c.minBy(r => (math.abs(r._2.getTime - ts.getTime),
            if (r._2.getTime <= ts.getTime) 0L else 1L, idV(r)))).map(r => (r._3, r._4))
        }, tsTypes = Nil)

      ((got.length == ents.length &&
        got.forall { case (k, ts, fid) => fid == oracle(k, ts) }) :| "unique ids") && shapes
    }
    runCheck(prop, minTests = 8)
  }

  test("NearestJoin on DATE and NTZ ts agrees with the nested-loop nearest oracle (ScalaCheck)") {
    // its distance compare runs in the links' own ts type, so
    // wall-clock ts types need no unix_micros (a TIMESTAMP-only function)
    val genCase = for {
      nKeys <- Gen.choose(1, 4)
      nRows <- Gen.choose(0, 60)
      nEnt <- Gen.choose(1, 25)
      tolD <- Gen.oneOf(1, 3)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nEnt, tolD, seed)
    val prop = Prop.forAllNoShrink(genCase) { case (nKeys, nRows, nEnt, tolD, seed) =>
      val (rows, ents) = dayGridCase(new scala.util.Random(seed), nKeys, nRows, nEnt)
      val tol = Duration.ofDays(tolD.toLong)
      asOfShapes(rows, ents,
        (e, f) => graft.operators.NearestJoin.join(e, f, Seq("k"), Seq("id", "v"),
          tol, featureTsCol = "ft", tieBreaks = Seq("id")),
        (key, ts) => {
          val c = rows.filter { case (k, ft, _, _) =>
            k == key && math.abs(ft.getTime - ts.getTime) <= tol.toMillis
          }
          if (c.isEmpty) None
          else Some(c.minBy(r => (math.abs(r._2.getTime - ts.getTime),
            if (r._2.getTime <= ts.getTime) 0L else 1L, idV(r)))).map(r => (r._3, r._4))
        })
    }
    runCheck(prop, minTests = 4)
  }

  test("Contrastive.negativeSamples: k per anchor, never self, deterministic, uniform-ish (ScalaCheck)") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.oneOf(2, 3, 17, 100)
      k <- Gen.choose(1, 5)
      offset <- Gen.choose(0L, 1000L) // non-contiguous, non-zero-based ids
    } yield (n, k, offset)
    val prop = Prop.forAllNoShrink(genCase) { case (n, k, offset) =>
      val df = (0 until n).map(i => offset + i * 3L).toDF("id")
      def run() = graft.functions.Contrastive.negativeSamples(df, "id", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val got = run()
      val perAnchor = got.groupBy(_._1)
      got.length == n * k &&
        perAnchor.size == n &&
        perAnchor.values.forall(g => g.map(_._2).sorted == (0L until k.toLong)) &&
        got.forall { case (a, _, neg) => a != neg } &&
        run() == got // deterministic across plan re-executions
    }
    runCheck(prop, minTests = 8)
  }

  test("Contrastive.negativeSamples: a multiplier sharing a factor with n still spreads (review r12)") {
    import spark.implicits._
    // gcd(mulA=5, n=10) = 5: the raw LCG visits only 2 residues — every
    // anchor's negatives collapse onto {2, 7} and the join funnels onto
    // two keys. The coprime walk (5 -> 7) must restore spread while
    // keeping the k/no-self/deterministic contract.
    val df = (0L until 10L).toDF("id")
    val got = graft.functions.Contrastive.negativeSamples(df, "id", k = 3, mulA = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 30)
    assert(got.forall { case (a, _, neg) => a != neg })
    val distinctNegs = got.map(_._3).distinct.length
    assert(distinctNegs > 3,
      s"degenerate multiplier must not collapse negatives onto gcd residues: $distinctNegs distinct")
  }

  test("History.scd2 agrees with the sequential run-collapse oracle on arbitrary inputs (ScalaCheck)") {
    import spark.implicits._
    val genCase = for {
      nKeys <- Gen.choose(1, 5)
      nRows <- Gen.choose(0, 120)
      nAttrVals <- Gen.oneOf(1, 2, 4) // few values => long runs + real collapses
      nullFrac <- Gen.oneOf(0, 3)     // 0 = no nulls, 3 = 1-in-3 null attrs
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nAttrVals, nullFrac, seed)

    val prop = Prop.forAllNoShrink(genCase) { case (nKeys, nRows, nAttrVals, nullFrac, seed) =>
      val rnd = new scala.util.Random(seed)
      // unique eid makes (ts, eid) a total order even with duplicate ts
      val rows = (0 until nRows).map { i =>
        val attr = if (nullFrac > 0 && rnd.nextInt(nullFrac) == 0) null
          else s"v${rnd.nextInt(nAttrVals)}"
        (rnd.nextInt(nKeys).toLong,
          new Timestamp(base + rnd.nextInt(50) * 3600_000L), i.toLong, attr)
      }
      val got = graft.operators.History.scd2(
          rows.toDF("k", "ts", "eid", "attr"), Seq("k"), "ts", Seq("attr"),
          tieBreaks = Seq("eid"))
        .select("k", "attr", "valid_from", "valid_to", "version")
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getTimestamp(2).getTime,
          Option(r.getTimestamp(3)).map(_.getTime), r.getLong(4)))
        .sortBy(t => (t._1, t._5))

      val want = rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val ordered = g.sortBy(r => (r._2.getTime, r._3))
        val kept = ordered.foldLeft(Vector.empty[(Long, Option[String])]) { (acc, r) =>
          val a = Option(r._4)
          if (acc.isEmpty || acc.last._2 != a) acc :+ (r._2.getTime, a) else acc
        }
        kept.zipWithIndex.map { case ((from, a), i) =>
          (k, a, from, kept.lift(i + 1).map(_._1), (i + 1).toLong)
        }
      }.sortBy(t => (t._1, t._5))

      got.toSeq == want
    }
    runCheck(prop, minTests = 8)
  }

  test("History.sessionize agrees with the sequential gap-cut oracle on arbitrary inputs (ScalaCheck)") {
    import spark.implicits._
    val genCase = for {
      nKeys <- Gen.choose(1, 5)
      nRows <- Gen.choose(0, 120)
      gapMin <- Gen.oneOf(1, 17, 60) // minutes
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, gapMin, seed)

    val prop = Prop.forAllNoShrink(genCase) { case (nKeys, nRows, gapMin, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until nRows).map { i =>
        (rnd.nextInt(nKeys).toLong,
          new Timestamp(base + rnd.nextInt(48 * 60) * 60_000L), i.toLong)
      }
      val gapSec = gapMin * 60L
      val got = graft.operators.History.sessionize(
          rows.toDF("k", "ts", "eid"), Seq("k"), "ts", gapSec, tieBreaks = Seq("eid"))
        .select("k", "session_idx", "session_start", "session_end", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime, r.getLong(4)))
        .sortBy(t => (t._1, t._2))

      val want = rows.groupBy(_._1).toSeq.flatMap { case (k, g) =>
        val ordered = g.sortBy(r => (r._2.getTime, r._3))
        val sessions = ordered.foldLeft(Vector.empty[Vector[Long]]) { (acc, r) =>
          val t = r._2.getTime
          if (acc.nonEmpty && (t - acc.last.last) <= gapSec * 1000L)
            acc.init :+ (acc.last :+ t)
          else acc :+ Vector(t)
        }
        sessions.zipWithIndex.map { case (ts_, i) =>
          (k, (i + 1).toLong, ts_.head, ts_.last, ts_.length.toLong)
        }
      }.sortBy(t => (t._1, t._2))

      got.toSeq == want
    }
    runCheck(prop, minTests = 8)
  }

  test("Drift.psi agrees with the sequential PSI formula on arbitrary inputs (ScalaCheck)") {
    import spark.implicits._
    val edges = Seq(10.0, 20.0, 50.0)
    val genCase = for {
      nGroups <- Gen.choose(1, 3)
      nBase <- Gen.choose(0, 80)
      nCur <- Gen.choose(0, 80)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nGroups, nBase, nCur, seed)

    val prop = Prop.forAllNoShrink(genCase) { case (nGroups, nBase, nCur, seed) =>
      val rnd = new scala.util.Random(seed)
      def gen(n: Int) = (0 until n).map(_ =>
        (s"g${rnd.nextInt(nGroups)}", rnd.nextInt(100).toDouble))
      val (baseRows, curRows) = (gen(nBase), gen(nCur))
      val got = graft.functions.Drift.psi(
          baseRows.toDF("g", "v"), curRows.toDF("g", "v"), "v", edges, Seq("g"))
        .collect().map(r => r.getString(0) ->
          (Option(r.getAs[java.lang.Double]("psi")).map(_.doubleValue),
            r.getLong(2), r.getLong(3)))
        .toMap

      def bin(v: Double) = edges.count(_ <= v)
      val nBins = edges.size + 1
      val groups = (baseRows ++ curRows).map(_._1).toSet
      groups.forall { g =>
        val b = baseRows.filter(_._1 == g).map(r => bin(r._2))
        val c = curRows.filter(_._1 == g).map(r => bin(r._2))
        val (gotPsi, gotNb, gotNc) = got(g)
        val counts = gotNb == b.size && gotNc == c.size
        // a group absent from either side has NO defined drift — psi is
        // null there (review r12), never a smoothed pseudo-score
        if (b.isEmpty || c.isEmpty) counts && gotPsi.isEmpty
        else {
          val psi = (0 until nBins).map { i =>
            val pb = (b.count(_ == i) + 0.5) / (b.size + 0.5 * nBins)
            val pc = (c.count(_ == i) + 0.5) / (c.size + 0.5 * nBins)
            (pc - pb) * math.log(pc / pb)
          }.sum
          // rounded to 6 decimals; compare against the unrounded
          // sequential value with the rounding slack (boundary-safe)
          counts && gotPsi.exists(p => math.abs(p - psi) < 5.01e-7)
        }
      } && got.keySet == groups
    }
    runCheck(prop, minTests = 8)
  }

  test("entity key codec: permutation-invariant, value-distinct, tag-distinct (ScalaCheck)") {
    val genKV = for {
      name <- Gen.alphaStr.suchThat(_.nonEmpty).map(_.take(8))
      v <- Gen.oneOf[Any](
        Gen.choose(Long.MinValue, Long.MaxValue).sample.get,
        Gen.choose(Int.MinValue, Int.MaxValue).sample.get,
        Gen.alphaNumStr.map(_.take(12)).sample.get)
    } yield name -> v
    val genKeys = Gen.nonEmptyListOf(genKV)
      .map(_.distinctBy(_._1).take(4)).suchThat(_.nonEmpty)

    val permInv = Prop.forAll(genKeys) { keys =>
      val a = EntityKeyCodec.serialize(keys)
      val b = EntityKeyCodec.serialize(scala.util.Random.shuffle(keys))
      java.util.Arrays.equals(a, b)
    }
    runCheck(permInv, minTests = 100)

    val valueDistinct = Prop.forAll(genKeys, Gen.choose(Long.MinValue, Long.MaxValue)) {
      (keys, delta) =>
        val (n, v) = keys.head
        val mutated = (n -> (v match {
          case l: Long => if (delta == 0L) l + 1 else l ^ delta
          case i: Int => i + 1
          case s: String => s + "x"
        })) +: keys.tail
        !java.util.Arrays.equals(
          EntityKeyCodec.serialize(keys), EntityKeyCodec.serialize(mutated))
    }
    runCheck(valueDistinct, minTests = 100)

    // Int 42 and Long 42 carry different type tags — never collide
    val tagDistinct = Prop.forAll(Gen.choose(Int.MinValue, Int.MaxValue)) { i =>
      !java.util.Arrays.equals(
        EntityKeyCodec.serialize(Seq("k" -> i)),
        EntityKeyCodec.serialize(Seq("k" -> i.toLong)))
    }
    runCheck(tagDistinct, minTests = 50)
  }

  test("connectedComponents agrees with union-find on arbitrary edge lists (ScalaCheck)") {
    import spark.implicits._
    val gen = for {
      nodes <- Gen.choose(2, 60)
      m <- Gen.choose(0, 120)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, nodes.toLong - 1), Gen.choose(0L, nodes.toLong - 1)))
    } yield edges
    val prop = Prop.forAll(gen) { edges =>
      val real = edges.filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      real.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      val got =
        if (edges.isEmpty) Map.empty[Long, Long]
        else graft.functions.Components
          .connectedComponents(edges.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
      got == expected
    }
    // each case runs an iterative Spark job — keep the count modest
    runCheck(prop, minTests = 15)
  }

  test("packShards agrees with the sequential prefix packing on arbitrary inputs (ScalaCheck)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(0, 120)
      toks <- Gen.listOfN(n, Gen.choose(1L, 500L))
      budget <- Gen.choose(1L, 2000L)
      parts <- Gen.choose(1, 6)
    } yield (toks, budget, parts)
    val prop = Prop.forAll(gen) { case (toks, budget, parts) =>
      val rows = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val expected = rows.foldLeft((0L, Map.empty[Long, Long])) {
        case ((prefix, acc), (id, t)) => (prefix + t, acc + (id -> prefix / budget))
      }._2
      val got =
        if (rows.isEmpty) Map.empty[Long, Long]
        else graft.functions.Packing
          .packShards(rows.toDF("id", "tok"), "id", "tok", budget, Some(parts))
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("shard_id"))
          .as[(Long, Long)].collect().toMap
      got == expected
    }
    runCheck(prop, minTests = 30)
  }

  test("lineDedupGlobal agrees with a sequential first-occurrence scan (ScalaCheck)") {
    import spark.implicits._
    // small line alphabet forces heavy cross-doc duplication;
    // whitespace-only lines (empty / space / tab / CR — the explicit
    // [ \t\r]* blank class) appear both mid-doc and trailing
    val lineGen = Gen.oneOf("alpha one", "beta two", "gamma three",
      "", " ", "\t", "\r", " \t ", "delta")
    val docGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, lineGen))
    val gen = Gen.choose(1, 8).flatMap(d => Gen.listOfN(d, docGen))
    val prop = Prop.forAll(gen) { docLines =>
      val docs = docLines.zipWithIndex.map { case (ls, i) => (i.toLong, ls.mkString("\n")) }
      val seen = scala.collection.mutable.Set[String]()
      val expected = docs.map { case (id, text) =>
        val lines = text.split("\n", -1)
        val kept = lines.filter { l =>
          if (l.forall(c => c == ' ' || c == '\t' || c == '\r')) true
          else if (seen.contains(l)) false
          else { seen.add(l); true }
        }
        (id, lines.length.toLong, kept.length.toLong, kept.mkString("\n"))
      }
      val got = graft.functions.Dedup
        .lineDedupGlobal(docs.toDF("id", "text"), "id", "text")
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
      got == expected
    }
    runCheck(prop, minTests = 25)
  }

  test("topKPerKey agrees with sorted-take-k on arbitrary inputs (ScalaCheck)") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(0, 150)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 4), Gen.choose(-50L, 50L)))
      k <- Gen.choose(1, 8)
      parts <- Gen.choose(1, 6)
    } yield (rows, k, parts)
    val prop = Prop.forAll(gen) { case (rows, k, parts) =>
      // duplicates across partitions force the heap-merge path
      val expected = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted.take(k)).toMap
      val got =
        if (rows.isEmpty) Map.empty[Int, List[Long]]
        else graft.functions.Quota
          .topKPerKey(rows.toDF("key", "v").repartition(parts), "key", "v", k)
          .as[(Int, Long)].collect().toList
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      got == expected
    }
    runCheck(prop, minTests = 30)
  }

  test("sort-merge AsOfJoin (custom SparkPlan) agrees with the nested-loop oracle (ScalaCheck)") {
    import spark.implicits._
    val genCase = for {
      nKeys <- Gen.choose(1, 6)
      nRows <- Gen.choose(0, 150)
      nEnt <- Gen.choose(1, 40)
      ttlH <- Gen.oneOf(0, 1, 7, 48)
      lParts <- Gen.choose(1, 5)
      rParts <- Gen.choose(1, 5)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nEnt, ttlH, lParts, rParts, seed)

    val prop = Prop.forAllNoShrink(genCase) {
      case (nKeys, nRows, nEnt, ttlH, lParts, rParts, seed) =>
        val rnd = new scala.util.Random(seed)
        def t(): Timestamp = new Timestamp(base + rnd.nextInt(100) * 3600_000L)
        // unique fid makes (k, et, ct, fid) a total order on the right
        val rows = (0 until nRows).map(i =>
          (rnd.nextInt(nKeys).toLong, t(), t(), i.toLong, rnd.nextInt(500).toDouble))
        val ents = (0 until nEnt).map(i => (rnd.nextInt(nKeys).toLong, t(), i.toLong))
        val ttl = Duration.ofHours(ttlH.toLong)

        val featDf = rows.toDF("k", "et", "ct", "fid", "v").repartition(rParts)
        val entityDf = ents.toDF("k", "event_timestamp", "eid").repartition(lParts)
        val got: Map[Long, Option[Long]] =
          graft.plans.AsOfJoin.join(entityDf, featDf, Seq("k"),
              "event_timestamp", "et", ttl, orderCols = Seq("ct", "fid"),
              featureCols = Seq("fid", "v"))
            .select("eid", "fid").collect()
            .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap

        def oracle(key: Long, ts: Timestamp): Option[Long] = {
          val lower = ts.getTime - ttl.toMillis
          val c = rows.filter { case (k, et, _, _, _) =>
            k == key && et.getTime <= ts.getTime && (ttl.isZero || et.getTime >= lower)
          }
          if (c.isEmpty) None
          else Some(c.maxBy { case (_, et, ct, fid, _) => (et.getTime, ct.getTime, fid) }._4)
        }

        got.size == ents.length &&
          ents.forall { case (k, ts, eid) => got(eid) == oracle(k, ts) }
    }
    runCheck(prop, minTests = 12)
  }

  test("sort-merge AsOfJoin resolves duplicate (key, ts, order) rows to the payload-max winner (ScalaCheck)") {
    // The r7 judge found the exec resolving fully-duplicate
    // (key, ts, created) feature rows by ARRIVAL order while the
    // declarative path (and every oracle) takes the payload-max — the
    // previous generator's unique fid column could never produce that
    // collision class. This generator draws (ct, fid, v) from tiny
    // domains so duplicate (k, et, ct) — and even duplicate
    // (k, et, ct, fid) — groups with differing payloads are common, and
    // checks the exec against a nested-loop oracle maximizing the full
    // (et, ct, fid, v) total order, across partition layouts.
    import spark.implicits._
    val genCase = for {
      nKeys <- Gen.choose(1, 4)
      nRows <- Gen.choose(0, 150)
      nEnt <- Gen.choose(1, 40)
      ttlH <- Gen.oneOf(0, 1, 7, 48)
      lParts <- Gen.choose(1, 5)
      rParts <- Gen.choose(1, 5)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nEnt, ttlH, lParts, rParts, seed)

    val prop = Prop.forAllNoShrink(genCase) {
      case (nKeys, nRows, nEnt, ttlH, lParts, rParts, seed) =>
        val rnd = new scala.util.Random(seed)
        def et(): Timestamp = new Timestamp(base + rnd.nextInt(12) * 3600_000L)
        def ct(): Timestamp = new Timestamp(base + rnd.nextInt(3) * 3600_000L)
        // fid from {0..3}, v from {null, 0..3}: full (k, et, ct, fid)
        // duplicates occur regularly; only the payload differs. Null v
        // pins the null rule — SortOrder's nulls-first and the struct
        // ordering's null-smallest must agree (null loses every tie).
        val rows = (0 until nRows).map(_ =>
          (rnd.nextInt(nKeys).toLong, et(), ct(), rnd.nextInt(4).toLong,
            if (rnd.nextInt(5) == 0) null
            else java.lang.Double.valueOf(rnd.nextInt(4).toDouble)))
        val ents = (0 until nEnt).map(i => (rnd.nextInt(nKeys).toLong, et(), i.toLong))
        val ttl = Duration.ofHours(ttlH.toLong)

        val featDf = rows.toDF("k", "et", "ct", "fid", "v").repartition(rParts)
        val entityDf = ents.toDF("k", "event_timestamp", "eid").repartition(lParts)
        val got: Map[Long, Option[(Long, Any)]] =
          graft.plans.AsOfJoin.join(entityDf, featDf, Seq("k"),
              "event_timestamp", "et", ttl, orderCols = Seq("ct"),
              featureCols = Seq("fid", "v"))
            .select("eid", "fid", "v").collect()
            .map(r => r.getLong(0) ->
              Option(r.get(1)).map(_ =>
                (r.getLong(1), if (r.isNullAt(2)) null else r.get(2)))).toMap

        def oracle(key: Long, ts: Timestamp): Option[(Long, Any)] = {
          val lower = ts.getTime - ttl.toMillis
          val c = rows.filter { case (k, e, _, _, _) =>
            k == key && e.getTime <= ts.getTime && (ttl.isZero || e.getTime >= lower)
          }
          if (c.isEmpty) None
          // full declarative total order: (et, ct, payload) with
          // payload = (fid, v), null v smallest — the max_by struct the
          // oracle SQL pins
          else Some(c.maxBy { case (_, e, c0, fid, v) =>
            (e.getTime, c0.getTime, fid,
              if (v == null) Double.NegativeInfinity else v.doubleValue())
          } match { case (_, _, _, fid, v) => (fid, v) })
        }

        got.size == ents.length &&
          ents.forall { case (k, ts, eid) => got(eid) == oracle(k, ts) }
    }
    runCheck(prop, minTests = 12)
  }

  test("systematicWeightedSample: exactly n draws, PPS bounds, zero-weight exclusion (ScalaCheck)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gen = for {
      nRows <- Gen.choose(1, 60)
      weights <- Gen.listOfN(nRows, Gen.choose(0L, 40L))
      n <- Gen.choose(1, 30)
      parts <- Gen.choose(1, 6)
    } yield (weights, n, parts)
    val prop = Prop.forAllNoShrink(gen) { case (weights, n, parts) =>
      val total = weights.sum
      total > 0 ==> {
        val df = weights.zipWithIndex.map { case (w, i) => (i.toLong, w) }
          .toDF("id", "w").repartition(parts)
        val got = graft.functions.Dedup.systematicWeightedSample(df, "id", "w", n)
          .select("id", "w", "n_picks")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val sumOk = got.map(_._3).sum == n
        // PPS bound: picks within 1 of the exact expectation n*w/W
        val boundOk = got.forall { case (_, w, p) =>
          val exp = n.toDouble * w / total
          p >= math.floor(exp) && p <= math.ceil(exp) + 1e-9
        }
        val zeroOk = got.forall(_._2 > 0)
        sumOk && boundOk && zeroOk
      }
    }
    runCheck(prop, minTests = 30)
  }

  test("bounded_collect agrees with collect_list-then-filter on arbitrary inputs (ScalaCheck)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gen = for {
      nGroups <- Gen.choose(1, 12)
      nRows <- Gen.choose(0, 300)
      cap <- Gen.choose(1, 8)
      withNulls <- Gen.oneOf(true, false)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nGroups, nRows, cap, withNulls, seed)
    val prop = Prop.forAllNoShrink(gen) { case (nGroups, nRows, cap, withNulls, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until nRows).map { i =>
        val v: Option[Long] =
          if (withNulls && rnd.nextInt(5) == 0) None else Some(rnd.nextInt(50).toLong)
        (s"g${rnd.nextInt(nGroups)}", v)
      }
      val df = rows.toDF("k", "v").repartition(3)
      val got = df.groupBy("k")
        .agg(graft.functions.BoundedCollect.column(col("v"), cap).as("xs"))
        .select(col("k"), array_sort(col("xs")).as("xs"))
        .collect().map(r => r.getString(0) -> Option(r.getSeq[Long](1))).toMap
      val want = rows.groupBy(_._1).map { case (k, grp) =>
        val vs = grp.flatMap(_._2).sorted
        k -> (if (vs.length > cap) None else Some(vs))
      }
      // groups whose values are ALL null produce an empty (not null)
      // array, same as collect_list
      got.keySet == want.keySet && want.forall { case (k, w) =>
        (got(k), w) match {
          case (Some(xs), Some(ws)) => xs == ws
          case (None, None) => true
          case (Some(xs), None) => false
          case (None, Some(ws)) => false
        }
      }
    }
    runCheck(prop, minTests = 25)
  }

  test("pageRank: mass conserved and strictly positive on arbitrary graphs (ScalaCheck)") {
    import spark.implicits._
    val gen = for {
      nNodes <- Gen.choose(2, 8)
      nEdges <- Gen.choose(1, 20)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
      iters <- Gen.choose(1, 3)
    } yield (nNodes, edges, iters)
    val prop = Prop.forAllNoShrink(gen) { case (nNodes, edges0, iters) =>
      val edges = edges0.map { case (a, b) => (a % nNodes, b % nNodes) }
        .filter { case (a, b) => a != b }.distinct
      edges.nonEmpty ==> {
        val ranks = graft.functions.Graph.pageRank(
            edges.toDF("src", "dst"), "src", "dst", iters)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val massOk = math.abs(ranks.values.sum - 1.0) < 1e-6
        val positiveOk = ranks.values.forall(_ > 0)
        massOk && positiveOk
      }
    }
    runCheck(prop, minTests = 15)
  }

  test("materializeWindows equals sequential per-window materializes (ScalaCheck)") {
    // The one-pass union materialize must reach the same LWW fixpoint
    // as N back-to-back materializes, for ANY windows (overlapping,
    // nested, disjoint) and ANY duplicate-laden event set. Ties are
    // the interesting surface: rows with identical (key, ts) land in
    // exactly the same SET of ts-range windows (membership is a
    // function of ts), so the per-window pullLatest resolves them by
    // the same payload-max order the union pass uses — equivalence is
    // exact, not modulo ties. The hourly ts grid + tiny value domains
    // below make such ties constant, not rare.
    import spark.implicits._
    import graft.online.InMemoryOnlineStore
    import graft.registry.Registry
    import graft.store.FeatureStore
    val gen = for {
      nKeys <- Gen.choose(1, 5)
      nRows <- Gen.choose(0, 120)
      nWin <- Gen.choose(1, 3)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nRows, nWin, seed)
    val prop = Prop.forAllNoShrink(gen) { case (nKeys, nRows, nWin, seed) =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until nRows).map { _ =>
        (rnd.nextInt(nKeys).toLong,
          new Timestamp(base + rnd.nextInt(96) * 3600000L),
          rnd.nextInt(4).toString,
          rnd.nextInt(3).toDouble)
      }
      val df = rows.toDF("user_id", "ts", "event_type", "value")
      val windows = (0 until nWin).map { _ =>
        val a = rnd.nextInt(96)
        val b = a + rnd.nextInt(48)
        (new Timestamp(base + a * 3600000L), new Timestamp(base + b * 3600000L))
      }
      def finalState(sequential: Boolean): Map[String, (Timestamp, Map[String, Any])] = {
        val project = s"prop_mw_${java.util.UUID.randomUUID().toString.take(8)}"
        val st = new InMemoryOnlineStore()
        val fs = new FeatureStore(project, new Registry(), st, spark)
        fs.applyEntity(Entity("user", GraftType.Int64, joinKeyOpt = Some("user_id")))
        fs.applyFeatureView(FeatureView("v", Seq("user"),
          Seq(Feature("event_type", GraftType.Str), Feature("value", GraftType.Dbl)),
          Duration.ZERO, DataFrameSource(df, eventTimestampColumn = "ts")))
        if (sequential) windows.foreach { case (s0, e0) =>
          fs.materialize(Seq("v"), s0, e0) }
        else fs.materializeWindows(Seq("v"), windows)
        val dump = st.dump(project, "v").map { case (key, r) =>
          key.map(kv => s"${kv._1}=${kv._2}").mkString(",") -> ((r.ts, r.values))
        }.toMap
        fs.teardown()
        dump
      }
      val seqState = finalState(sequential = true)
      val uniState = finalState(sequential = false)
      (seqState == uniState) :| s"sequential=$seqState union=$uniState windows=$windows"
    }
    runCheck(prop, minTests = 8)
  }

  test("unigram Viterbi fold agrees with a plain-Scala DP oracle on arbitrary words/costs (ScalaCheck)") {
    import spark.implicits._
    // independent nested-loop DP: same semantics stated twice — integer
    // costs, sentinel 1e15 for out-of-vocab pieces, min over piece
    // lengths, backtrace preferring the LONGEST piece whose path cost
    // equals dp[pos], emitted left-to-right
    val SENT = graft.functions.UnigramLm.Sentinel
    def oracleSegment(word: String, costs: Map[String, Long], maxLen: Int): Seq[String] = {
      val n = word.length
      val dp = Array.fill(n + 1)(0L)
      // exactly the engine arithmetic: COALESCE(dp + cost, SENT)
      def term(i: Int, l: Int): Long =
        costs.get(word.substring(i - l, i)).map(dp(i - l) + _).getOrElse(SENT)
      for (i <- 1 to n) dp(i) = (1 to math.min(maxLen, i)).map(l => term(i, l)).min
      var pos = n
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var steps = 0
      while (pos > 0 && steps <= word.length) {
        val l = (math.min(maxLen, pos) to 1 by -1)
          .find(l => term(pos, l) == dp(pos)).getOrElse(1)
        out += word.substring(pos - l, pos)
        pos -= l
        steps += 1
      }
      out.reverse.toSeq
    }
    val genCase = for {
      nWords <- Gen.choose(1, 12)
      words <- Gen.listOfN(nWords,
        Gen.choose(1, 12).flatMap(n =>
          Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
      // vocab: random subset of substrings with random positive costs;
      // singles sometimes missing on purpose (sentinel paths must agree)
      seed <- Gen.choose(0L, 1000000L)
    } yield (words.distinct, seed)
    val prop = Prop.forAllNoShrink(genCase) { case (words, seed) =>
      val rnd = new scala.util.Random(seed)
      val subs = words.flatMap(w =>
        for (i <- 0 until w.length; l <- 1 to math.min(3, w.length - i))
          yield w.substring(i, i + l)).distinct
      val vocab = subs.filter(_ => rnd.nextDouble() < 0.7)
        .map(p => p -> (1L + rnd.nextInt(1000000).toLong)).toMap
      if (vocab.isEmpty) Prop.passed
      else {
        val wf = words.map(w => (w, 1L + rnd.nextInt(50).toLong)).toDF("word", "freq")
        val got = graft.functions.UnigramLm.viterbiSegments(wf, vocab, 3, 12)
          .collect().map(r => r.getString(0) -> r.getSeq[String](2).toSeq).toMap
        val want = words.map(w => w -> oracleSegment(w, vocab, 3)).toMap
        (got == want) :| s"engine=$got oracle=$want vocab=${vocab.take(8)}"
      }
    }
    runCheck(prop, 40)
  }

  test("both ParquetOnlineStore gate routes and InMemoryOnlineStore read back the same rows (ScalaCheck)") {
    import spark.implicits._
    // Generated sequences of raw upserts (duplicate keys within a batch,
    // null features and created ts, whole-second timestamps) and keyed
    // deletes, applied to the parquet store on both sides of its
    // small-store gate and to the in-memory store. Every key must read
    // back identically, exact cross-batch (ts, created) ties included:
    // every store keeps the max payload.
    val root = java.nio.file.Files.createTempDirectory("graftroutes").toString
    val small = new ParquetOnlineStore(s"$root/small", numBuckets = 4)
    val touched = new ParquetOnlineStore(s"$root/touched", numBuckets = 4, smallStoreBytes = 0L)
    val stores = Seq(small, touched, new InMemoryOnlineStore())
    val view = FeatureView("rt", Seq("e"), Seq(Feature("a", GraftType.Dbl), Feature("b", GraftType.Dbl)),
      Duration.ZERO, DataFrameSource(spark.emptyDataFrame, "et", createdTimestampColumn = Some("ct")))
    val genCase = for {
      nKeys <- Gen.choose(1, 6)
      nBatches <- Gen.choose(1, 3)
      parts <- Gen.oneOf(1, 4)
      seed <- Gen.choose(0L, 1000000L)
    } yield (nKeys, nBatches, parts, seed)
    var caseNo = 0
    val prop = Prop.forAllNoShrink(genCase) { case (nKeys, nBatches, parts, seed) =>
      caseNo += 1
      val project = s"routes$caseNo" // one project per case: the in-memory map is JVM-wide
      val rnd = new scala.util.Random(seed)
      def sec(n: Int): Timestamp = new Timestamp(base + rnd.nextInt(n) * 1000L)
      def feat(): Option[Double] = Option.when(rnd.nextInt(4) > 0)(rnd.nextInt(3).toDouble)
      (0 until nBatches).foreach { _ =>
        if (rnd.nextInt(4) == 0) {
          // key nKeys is never upserted: deleting it is the absent-key no-op
          val keys = Seq.fill(1 + rnd.nextInt(2))(rnd.nextInt(nKeys + 1).toLong).distinct
          stores.foreach(_.delete(project, view, Seq("k"), keys.toDF("k").repartition(parts)))
        } else {
          val rows = Seq.fill(rnd.nextInt(9))((rnd.nextInt(nKeys).toLong, sec(3),
            if (rnd.nextInt(3) == 0) null else sec(2), feat(), feat()))
          val df = rows.toDF("k", "et", "ct", "a", "b").repartition(parts)
          stores.foreach(_.upsert(project, view, Seq("k"), df, "et", Some("ct")))
        }
      }
      val keys = (0L to nKeys.toLong).map(k => Seq("k" -> k))
      val Seq(gotSmall, gotTouched, gotMem) =
        stores.map(_.read(project, view, Seq("k"), keys, Seq("a", "b")))
      stores.foreach(_.teardown(project, Seq(view)))
      (gotSmall == gotTouched && gotSmall == gotMem) :|
        s"small=$gotSmall touched=$gotTouched memory=$gotMem"
    }
    try runCheck(prop, minTests = 10)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("HRW shard routing: minimal disruption and spark/driver twin at arbitrary ring sizes (ScalaCheck)") {
    // the composite store's whole correctness story, property-ized
    // beyond the fixed-fixture pins: for ANY ring size n and ANY keys,
    // (a) growing n -> n+1 moves a key ONLY to the new shard (the HRW
    // minimal-disruption guarantee — the grown ring re-scores the same
    // shards plus one, so the old arg-max can only lose to the
    // newcomer), and (b) the pure-Scala driver formula lands inside
    // [0, n) deterministically (same key, same shard on every call —
    // the tie-break direction is stable across ring sizes).
    val genCase = for {
      n <- Gen.choose(1, 9)
      keys <- Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))
    } yield (n, keys.distinct)
    val prop = Prop.forAllNoShrink(genCase) { case (n, keys) =>
      val results = keys.map { k =>
        val hex = EntityKeyCodec.hexKey(Seq("id" -> k))
        val s1 = graft.online.ShardedOnlineStore.shardOf(hex, n)
        val s2 = graft.online.ShardedOnlineStore.shardOf(hex, n + 1)
        val inRange = s1 >= 0 && s1 < n && s2 >= 0 && s2 < n + 1
        val minimal = s2 == s1 || s2 == n
        val stable = graft.online.ShardedOnlineStore.shardOf(hex, n) == s1
        (inRange && minimal && stable) :| s"key=$k n=$n s1=$s1 s2=$s2"
      }
      Prop.all(results: _*)
    }
    runCheck(prop, 60)
  }
}
