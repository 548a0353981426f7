package graft.tools

/** Dev tool (r16 optimization round): dump `.explain("formatted")` for a
  * list of SparkEntry queries to one file each under an output dir —
  * the plan evidence the round's OPTIMIZATION_r16.md claims are checked
  * against. Builds the bench's session ([[graft.Sessions.local]] with
  * its AQE policy, so `SPARK_GRAFT_AQE` applies here too) so the
  * captured plan is the one the bench executes; queries the bench runs
  * AQE-off (its static-plan set) are dumped with AQE off the same way
  * ([[graft.Sessions.staticPlan]]).
  *
  *   runMain graft.tools.FormattedPlans <sfDir> <outDir> [query ...]
  */
object FormattedPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names =
      if (args.length > 2 && args(2) == "ALL")
        graft.SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 2) args.drop(2).toSeq
      else Seq("q_pit_join_single", "q_pit_join_multi",
        "q_materialize_roundtrip", "q_online_multiget",
        "q_stream_materialize", "q_agg_pushdown", "q_window_topk",
        "q_dedup_minhash", "q_ann_brute_force", "q_text_stats")
    // the bench's session and per-query AQE policy (shared code,
    // ADVICE r16: a drifted copy would dump plans the bench never runs)
    val spark = graft.Sessions.local(benchAqe = true)
    new java.io.File(outDir).mkdirs()
    var failed = 0
    names.foreach { n =>
      try graft.Sessions.staticPlan(spark, n) {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/$n.txt")
        try w.println(txt) finally w.close()
        println(s"[plans] wrote $outDir/$n.txt")
      } catch { case scala.util.control.NonFatal(e) =>
        // ADVICE r16: swallowing fatals + exit 0 let a failed dump pass
        // as "zero failures" — count, name the class, and exit non-zero
        failed += 1
        System.err.println(s"[plans] $n failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    println(s"[plans] done: ${names.size - failed}/${names.size} dumped, $failed failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
