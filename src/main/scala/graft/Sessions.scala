package graft

import org.apache.spark.sql.SparkSession

/** The one builder of the local sessions that [[Bench]], [[Verify]] and
  * the `graft.tools` programs run on, so their configuration cannot
  * drift apart. (`cli.Cli` and `tools.EntrySmoke` take their master from
  * `SPARK_MASTER` and keep their own builders.)
  */
object Sessions {
  private val AqeKey = "spark.sql.adaptive.enabled"

  /** A `local[SPARK_GRAFT_CPUS]` session (`defaultCpus` when unset) with
    * `shufflePartitions` (default: the core count), UTC session time,
    * no UI, WARN logging and [[graft.sources.Tables.configure]] applied.
    *
    * `benchAqe` adds the bench's AQE policy: AQE as `SPARK_GRAFT_AQE`
    * says (default on), coalescing post-shuffle partitions by size.
    * Without it the session keeps Spark's AQE defaults.
    */
  def local(defaultCpus: Int = 32, shufflePartitions: Option[Int] = None,
      benchAqe: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.fold(cpus)(_.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val builder = if (!benchAqe) base else base
      .config(AqeKey, sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // Coalesce post-shuffle partitions by SIZE, not core count: with
      // the default parallelismFirst=true AQE refuses to merge below
      // defaultParallelism, so every tiny shuffle at bench sf runs 32
      // dispatch-bound tasks (~5-10 ms each — measured to dominate the
      // job wall). Size-based coalescing is also the 100 TB setting:
      // there every shuffle dwarfs the advisory size and nothing
      // under-parallelizes, while misestimated small stages stop
      // fragmenting. 8 MB advisory keeps reduce tasks ~tens of ms.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.configure(spark)
    spark
  }

  /** Run `body` with AQE off when `query` is one of the bench's
    * static-plan queries ([[Bench.StaticPlanQueries]]), then restore the
    * session's own AQE value; other queries run unchanged. */
  def staticPlan[T](spark: SparkSession, query: String)(body: => T): T =
    if (!Bench.StaticPlanQueries(query)) body
    else {
      val own = spark.conf.get(AqeKey)
      spark.conf.set(AqeKey, "false")
      try body finally spark.conf.set(AqeKey, own)
    }
}
