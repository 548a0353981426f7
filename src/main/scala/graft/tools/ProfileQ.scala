package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev profiler: run one SparkEntry query repeatedly and print per-run
  * wall time plus the Spark job/stage breakdown (job wall, stage task
  * totals) — the feedback loop for shaving the toy-sf fixed floors the
  * bench gate measures. Dev-tool only, never part of the library
  * surface.
  *
  *   runMain graft.tools.ProfileQ <sfDir> <query> [reps]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Sessions.local(benchAqe = true)

    @volatile var jobs = List.empty[(Int, Long, String)] // id, wallMs, desc
    @volatile var stages = 0
    @volatile var tasks = 0
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val starts0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        val desc = p.map(_.getProperty("spark.job.description", "")).getOrElse("")
        val site = p.map(_.getProperty("callSite.short", "")).getOrElse("")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts.put(js.jobId, (System.nanoTime(), s"tasks=$nTasks $site ${desc.replace('\n', ' ')}"))
        starts0.put(js.jobId, System.nanoTime())
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, d) =>
          jobs = (je.jobId, (System.nanoTime() - t0) / 1000000, d) :: jobs
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += sc.stageInfo.numTasks
      }
    })

    val fn = graft.SparkEntry.queries(name)
    (0 until reps).foreach { i =>
      jobs = Nil; stages = 0; tasks = 0
      System.gc()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // listener drain
      val jobSum = jobs.map(_._2).sum / 1000.0
      println(f"[profile] run=$i wall=$wall%.3f s jobs=${jobs.size} jobWallSum=$jobSum%.3f s stages=$stages tasks=$tasks")
      jobs.sortBy(_._1).foreach { case (id, ms, d) =>
        val off = (starts0.getOrDefault(id, 0L) - t0) / 1e9
        println(f"[profile]   job=$id%3d @$off%7.3f ${ms / 1000.0}%7.3f s  ${d.take(100)}")
      }
    }
    spark.stop()
  }
}
