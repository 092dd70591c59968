package graft.plans

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's bounded top-k rewrite (`InferWindowGroupLimit`) must put a
  * `WindowGroupLimit` under each ranking-window filter shape graft
  * writes, and return the same rows as the plain window
  * (`spark.sql.optimizer.windowGroupLimitThreshold = -1`). TopKSpec
  * pins where the limit lands in the physical plan. */
class BoundedTopKRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val threshold = "spark.sql.optimizer.windowGroupLimitThreshold"

  private def df: DataFrame = {
    import spark.implicits._
    // 3 groups × 200 rows, unique tiebreak id → total order
    (0 until 600).map(i => (i % 3, (i * 37) % 101, i.toLong))
      .toDF("g", "score", "id")
  }

  private val w = Window.partitionBy(col("g"))
    .orderBy(col("score").desc, col("id").asc)

  private def withoutRule[A](f: => A): A = {
    spark.conf.set(threshold, "-1")
    try f finally spark.conf.unset(threshold)
  }

  private def optimizedHasLimit(q: DataFrame): Boolean =
    q.queryExecution.optimizedPlan.collect {
      case l: WindowGroupLimit => l
    }.nonEmpty

  /** Builds `q` with the rule on and off: the limit is planned only
    * with it on, and both return the same rows. */
  private def assertRewrites(q: () => DataFrame): Unit = {
    val expected = withoutRule {
      val plain = q()
      assert(!optimizedHasLimit(plain))
      plain.collect().toSet
    }
    val limited = q()
    assert(optimizedHasLimit(limited), limited.queryExecution.optimizedPlan.toString)
    assert(limited.collect().toSet == expected)
  }

  test("enabled: rank projected away still rewrites and matches") {
    assertRewrites(() => df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7).drop("rn"))
  }

  test("strict < bound and rn = 1 both rewrite") {
    assertRewrites(() => df.withColumn("rn", row_number().over(w))
      .filter(col("rn") < 4))
    assertRewrites(() => df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1))
  }

  test("rewrite survives a corpus-sized sanity run on real data") {
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val wd = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    assertRewrites(() => docs.withColumn("rn", row_number().over(wd))
      .filter(col("rn") <= 3))
  }
}
