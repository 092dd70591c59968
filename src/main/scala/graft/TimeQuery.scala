package graft

import org.apache.spark.sql.SparkSession

/** Times a named subset of queries in isolation (min of `reps` runs,
  * cache cleared between runs) — the per-query companion to Bench for
  * optimizing one plan without paying the full 95-query sweep. Usage:
  * SPARK_GRAFT_SF_DIR=... runMain graft.TimeQuery q88_tfidf_similar ...
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT warm-up
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = Vector.fill(reps) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sqlContext.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        dt
      }
      println(f"[time] $name min=${times.min}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
