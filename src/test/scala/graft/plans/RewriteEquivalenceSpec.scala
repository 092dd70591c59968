package graft.plans

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Safety of Spark's own bounded top-k rewrite over the WHOLE query
  * surface: every registered query must return identical rows with
  * `InferWindowGroupLimit` on (the default) and off
  * (`spark.sql.optimizer.windowGroupLimitThreshold = -1`). graft relies
  * on that stock rule, not a rule of its own, to bound `row_number()` /
  * `rank()` filters; a limit inferred where it is not legal on any of
  * the production plans (whose ranking windows come in many more shapes
  * than BoundedTopKRewriteSpec's) would surface here as a row diff.
  *
  * Cost note: each query runs twice at sf0.001, sized to the smallest
  * test scale factor on purpose.
  */
class RewriteEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val threshold = "spark.sql.optimizer.windowGroupLimitThreshold"

  /** Order-insensitive canonical form; Row.toString is stable within a
    * single JVM for identical values, which is exactly the contract
    * here (same session, same data, two optimizer settings). */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def release(before: Set[Int]): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(false)
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name: rows identical with boundedTopK rewrite on and off") {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val on =
        try canon(fn(spark, TestSpark.sfDir))
        finally release(before)
      spark.conf.set(threshold, "-1")
      try {
        val off = canon(fn(spark, TestSpark.sfDir))
        assert(on == off,
          s"$name returns different rows with the window group limit off")
      } finally {
        spark.conf.unset(threshold)
        release(before)
      }
    }
  }
}
