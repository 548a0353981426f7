package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.functions.TopKSlots]] — the declarative fixed-k top-k that
  * replaced BoundedMinK on q_window_topk (r17). The semantics contract
  * it must keep: identical rows to (a) the row_number() window
  * formulation and (b) BoundedMinK over a struct of the same fields —
  * including ties, hot keys, groups smaller than k, NaN/-0.0 ordering,
  * nulls in non-comparison payload fields, and single-partition vs
  * many-partition execution (the partial → selection-network merge
  * path). Plus the plan property that motivated it: a codegen'd
  * HashAggregate, never ObjectHashAggregate, one exchange, no window.
  * (Comparison-prefix fields must be non-nullable: analysis rejects a
  * nullable one, so q_window_topk filters its nulls and wraps those
  * fields in TopKSlots.nonNull.)
  */
class TopKSlotsSpec extends AnyFunSuite {

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

  private def topkDf(rows: Seq[(Long, Double, Long)], parts: Int, k: Int) = {
    import spark.implicits._
    val df = rows.toDF("key", "v", "id").repartition(parts)
    df.groupBy(col("key"))
      .agg(graft.functions.TopKSlots.column(
        Seq("v" -> col("v"), "id" -> col("id")), k).as("top"))
      .select(col("key"), posexplode(col("top")))
      .select(col("key"), col("col.v").as("v"), col("col.id").as("id"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  test("TopKSlots equals the row_number window formulation: ties, hot keys, small groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // hot key 0 owns half the rows; tiny value domain forces ties so
    // the id tie-break is exercised; key 99 has fewer rows than k
    val rows: Seq[(Long, Double, Long)] =
      (0 until 400).map { i =>
        val key = if (i % 2 == 0) 0L else (i % 7).toLong
        (key, rnd.nextInt(5).toDouble, i.toLong)
      } :+ ((99L, 1.0, 9999L))
    for (parts <- Seq(1, 4); k <- Seq(1, 3, 5)) {
      val got = topkDf(rows, parts, k)
      val df = rows.toDF("key", "v", "id")
      val w = Window.partitionBy(col("key")).orderBy(col("v").asc, col("id").asc)
      val want = df.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("key"), col("v"), col("id"), col("rk").cast("int").as("rk"))
      assert(got.exceptAll(want).count() === 0L, s"parts=$parts k=$k extra rows")
      assert(want.exceptAll(got).count() === 0L, s"parts=$parts k=$k missing rows")
    }
  }

  test("TopKSlots equals BoundedMinK over the same struct: NaN, -0.0, null payload, cmp prefix") {
    import spark.implicits._
    val rows: Seq[(Long, Double, Long, java.lang.Double)] = Seq(
      (1L, 2.0, 10L, Double.box(1.5)),
      (1L, 2.0, 9L, null), // tie on v: id decides; null PAYLOAD rides
      (1L, Double.NaN, 11L, Double.box(0.0)), // NaN sorts LAST
      (1L, -0.0, 12L, Double.box(2.5)),
      (1L, 0.0, 5L, Double.box(3.5)), // -0.0 == 0.0: id decides
      (2L, 1.0, 1L, Double.box(4.5)))
    val df = rows.toDF("key", "v", "id", "p").repartition(3)
    val got = df.groupBy(col("key"))
      .agg(graft.functions.TopKSlots.column(
        Seq("v" -> col("v"), "id" -> col("id"), "p" -> col("p")), 3,
        cmpFields = 2).as("top"))
      .select(col("key"), posexplode(col("top")))
      .select(col("key"), col("col.v"), col("col.id"), col("col.p"), col("pos"))
    val want = df
      .select(col("key"), struct(col("v"), col("id"), col("p")).as("s"))
      .groupBy(col("key"))
      .agg(graft.functions.BoundedMinK.column(col("s"), 3).as("top"))
      .select(col("key"), posexplode(col("top")))
      .select(col("key"), col("col.v"), col("col.id"), col("col.p"), col("pos"))
    assert(got.exceptAll(want).count() === 0L, "extra rows vs BoundedMinK")
    assert(want.exceptAll(got).count() === 0L, "missing rows vs BoundedMinK")
  }

  test("TopKSlots rejects a nullable comparison field at analysis, naming it") {
    import spark.implicits._
    val df = Seq((1L, Option(2.0), 10L), (1L, None, 11L)).toDF("key", "v", "id")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy(col("key")).agg(graft.functions.TopKSlots.column(
        Seq("v" -> col("v"), "id" -> col("id")), 2).as("top"))
    }
    assert(e.getMessage.contains("comparison field(s) v must be non-nullable"), e.getMessage)
  }

  test("q_window_topk plans a codegen HashAggregate partial: no ObjectHashAggregate, one exchange, no window") {
    val plan = graft.queries.CoreQueries.windowTopK(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      s"declarative top-k must plan HashAggregate:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"the imperative-aggregate path is the r16 JFR hot spot — must not come back:\n$plan")
    assert(!plan.contains("Window"), s"no window operator:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"partials are k-capped map-side, so exactly ONE exchange:\n$plan")
    assert(plan.contains("partial_top_k_slots"),
      s"partial aggregation must be map-side:\n$plan")
  }
}
