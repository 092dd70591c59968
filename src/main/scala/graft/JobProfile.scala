package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-job wall-clock breakdown for one registered query — the
  * measurement side of the "stage count × scheduling floor" audits:
  * runs the query once warm, then once instrumented, printing each
  * Spark job's duration, stage count and task count. Local fixed
  * overhead is jobs × (submit + schedule floor), so a query whose
  * total is dominated by many ~100 ms jobs is floor-bound, not
  * plan-bound. Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.JobProfile q231_rfm_segments
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm run: JIT + codegen + page cache. Skippable via
      // SPARK_GRAFT_PROFILE_WARM=0 for multi-hundred-second sighting
      // queries, where the double run costs more than the JIT noise
      // it removes (per-stage walls at that size dwarf compilation).
      if (sys.env.getOrElse("SPARK_GRAFT_PROFILE_WARM", "1") != "0") {
        fn(spark, sfDir).count()
        spark.sqlContext.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }

      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
      val stages = new java.util.concurrent.atomic.AtomicInteger(0)
      val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          jobs.put(js.jobId, (js.time, js.stageInfos.size))
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          Option(jobs.get(je.jobId)).foreach { case (t0, nStages) =>
            lines.add(f"[job] $name%s job=${je.jobId}%3d " +
              f"wall=${(je.time - t0) / 1e3}%7.3fs stages=$nStages%2d")
          }
        }
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(sc.stageInfo.numTasks)
          val si = sc.stageInfo
          val wall = (for (s <- si.submissionTime; c <- si.completionTime)
            yield (c - s) / 1e3).getOrElse(Double.NaN)
          lines.add(f"[stage] $name%s stage=${si.stageId}%3d " +
            f"wall=$wall%7.3fs tasks=${si.numTasks}%3d ${si.name}%s")
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      // listener bus is async: poll until the per-job lines stop
      // arriving (bounded at ~3 s) instead of one fixed sleep — a slow
      // bus would silently drop late onJobEnd lines from the output
      // (the [profile] totals from the atomics are unaffected either
      // way, but the per-job breakdown is the tool's whole point)
      var seen = -1
      var waited = 0
      while (lines.size() != seen && waited < 3000) {
        seen = lines.size()
        Thread.sleep(150)
        waited += 150
      }
      lines.forEach(l => println(l))
      println(f"[profile] $name total=$dt%.3fs jobs=${jobs.size} " +
        f"stagesRun=${stages.get} tasks=${tasks.get}")
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
