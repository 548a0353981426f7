package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The dump core
  * is shared with [[graft.tools.VerifySome]] (selective local checks). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    dump(sfDir, outDir, names = None)
  }

  /** Run the queries (all, or `names` only) at `sfDir`, write each
    * result under `outDir`, and dump the matching oracle SQL map, on a
    * `local[SPARK_GRAFT_CPUS]` session (default 4). `verbose` prints a
    * per-query done-line (off for the driver: its stdout is parsed). */
  def dump(sfDir: String, outDir: String, names: Option[Seq[String]],
      verbose: Boolean = false): Unit = {
    val spark = Sessions.local(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    names.foreach(_.filterNot(SparkEntry.queries.contains)
      .foreach(n => System.err.println(s"[verify] unknown query $n")))
    val selected = names match {
      case Some(ns) => SparkEntry.queries.view.filterKeys(ns.contains).toMap
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (verbose) println(s"[verify] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => names.forall(_.contains(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
