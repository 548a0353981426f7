package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.ColumnShim

/** Engine-owned execution policy for STATIC plans (VERDICT r11 #4).
  *
  * The sort-merge as-of plans are static by construction: every
  * exchange is dictated by `requiredChildDistribution` — there is no
  * join-strategy switch, no skew split, nothing AQE can re-plan. Running them adaptively only serializes each stage behind
  * an AQE re-plan round: measured ~0.56 s AQE-off vs ~0.8–1.1 s AQE-on
  * on identical plans at sf0.1 (BENCH_NOTES.md "Per-query execution
  * policy"). That policy used to
  * live in the BENCH harness (per-job conf), which meant a library
  * user calling [[graft.operators.PointInTimeJoin.join]] in a
  * default AQE-on session paid the adaptive tax for a plan the engine
  * KNOWS is static.
  *
  * Mechanism: the engine re-roots the returned DataFrame onto a cached
  * CLONE of the caller's session whose only conf divergence is
  * `spark.sql.adaptive.enabled=false`. A clone (not a conf flip on the
  * live session) because Spark reads the conf at ACTION time, not at
  * DataFrame-construction time — a set/restore around the API call
  * would not survive to the user's own `.write`/`.collect`, and a
  * set/restore around THEIR action isn't the engine's to do. The clone
  * shares the SparkContext, executors, shared state and cache; its
  * runtime conf snapshots the parent's (timezone, shuffle partitions),
  * so results are bit-identical — the oracle gate runs through this
  * path.
  *
  * Scope caveats (documented contract):
  *  - frames DERIVED from a re-rooted result keep executing on the
  *    static clone, so a long downstream pipeline built on an as-of
  *    result also runs AQE-off;
  *  - session changes made on the parent AFTER the first as-of call
  *    (runtime confs, late-registered SQL functions) are not visible
  *    to it (the clone's conf is a snapshot);
  *  - SESSION-SCOPED registrations made THROUGH a re-rooted result
  *    land on the clone: `result.createOrReplaceTempView("v")`
  *    registers `v` in the clone's temp catalog, and
  *    `parent.sql("SELECT … FROM v")` will not see it — register temp
  *    views via `parent.createDataFrame`-side frames, or opt out.
  * Set `graft.asof.aqe=on` to keep results on the caller's session and
  * let AQE wrap the as-of plans too.
  */
object StaticPlan {

  /** Marker conf carried by the clone so re-rooting is idempotent
    * (chained as-of links re-enter with frames already on the clone). */
  private val Marker = "graft.internal.staticSession"

  // Weak keys AND weak values: the clone strongly references the
  // parent's SessionState (cloneSession passes it as the parent
  // state), which reaches back to the parent session — a strong map
  // value would therefore pin its own key and the WeakHashMap would
  // never collect anything (review r12: a per-request-session driver
  // leaked two full SessionStates per request). With a WeakReference
  // value the cache pins nothing: any live re-rooted DataFrame keeps
  // its clone alive through its own sparkSession field, and a
  // collected clone is simply re-cloned on next use (fresh conf
  // snapshot — same contract as the first call).
  private val clones =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.WeakReference[SparkSession]]

  private[graft] def isStatic(spark: SparkSession): Boolean =
    spark.conf.getOption(Marker).contains("true")

  /** The AQE-off clone for `spark` (cached; `spark` itself if it is
    * already a static clone). */
  def sessionFor(spark: SparkSession): SparkSession = clones.synchronized {
    if (isStatic(spark)) spark
    else {
      val cached = Option(clones.get(spark)).flatMap(r => Option(r.get))
      cached.getOrElse {
        val c = ColumnShim.cloneSession(spark)
        c.conf.set("spark.sql.adaptive.enabled", "false")
        c.conf.set(Marker, "true")
        AsOfJoin.ensureStrategy(c)
        clones.put(spark, new java.lang.ref.WeakReference(c))
        c
      }
    }
  }

  /** Re-root `df` onto the static clone of its session — all actions
    * on the result (and frames derived from it) plan AQE-off. No-op if
    * already static. The plan is passed ANALYZED: attribute ids are
    * resolved, so re-analysis on the clone is a cheap idempotent pass
    * and never re-resolves names against the clone's catalog. */
  def reRoot(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    if (isStatic(s)) df
    else ColumnShim.dataFrame(sessionFor(s), df.queryExecution.analyzed)
  }

  /** Policy gate: re-root unless the caller opted out with
    * `graft.asof.aqe=on` (read on the CALLER's session). */
  private[graft] def applyPolicy(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("graft.asof.aqe", "off").equalsIgnoreCase("on")) df
    else reRoot(df)
}
