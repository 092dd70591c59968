package graft.functions

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BoundedTopK must be indistinguishable from the per-group
  * `row_number()` window it replaces — same selection, same rank order,
  * same payload — and invariant to how the input is partitioned (the
  * property that makes the map-side heap + merge legal). */
class TopKSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int,
      descScore: Boolean): org.apache.spark.sql.DataFrame = {
    val ord =
      if (descScore) Seq(col("score").desc, col("id").asc)
      else Seq(col("score").asc, col("id").asc)
    val w = Window.partitionBy(col("g")).orderBy(ord: _*)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("g"), col("rank"), col("id"), col("score"), col("tag"))
  }

  private def aggTopK(df: org.apache.spark.sql.DataFrame, k: Int,
      descScore: Boolean): org.apache.spark.sql.DataFrame = {
    val s = struct(col("score"), col("id"), col("tag"))
    df.groupBy(col("g"))
      .agg(BoundedTopK.topK(s, k, Seq(descScore, false)).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("id"), col("col.score").as("score"),
        col("col.tag").as("tag"))
  }

  // deterministic pseudo-random rows with deliberate score TIES so the
  // id tiebreak is exercised, plus a string payload that must survive
  // buffer serialization byte-exact
  private def data(n: Int) = spark.range(n.toLong)
    .select(col("id"),
      (col("id") % 7).as("g"),
      ((col("id") * 2654435761L) % 97 / 10.0).as("score"),
      concat(lit("tag_"), col("id")).as("tag"))

  for (desc <- Seq(true, false)) {
    test(s"matches the row_number window (descScore=$desc), any partitioning") {
      val df = data(5000)
      val expected = windowTopK(df, 10, desc).collect().toSet
      for (parts <- Seq(1, 3, 32)) {
        val got = aggTopK(df.repartition(parts), 10, desc).collect().toSet
        assert(got == expected, s"parts=$parts")
      }
    }
  }

  test("groups smaller than k emit all rows, still rank-ordered") {
    val df = data(12) // 7 groups of 1-2 rows
    assert(aggTopK(df, 10, true).collect().toSet ==
      windowTopK(df, 10, true).collect().toSet)
  }

  test("nulls sort NULLS LAST under desc like the window default") {
    val df = data(200)
      .withColumn("score", when(col("id") % 11 === 0, lit(null)).otherwise(col("score")))
    assert(aggTopK(df, 5, true).collect().toSet ==
      windowTopK(df, 5, true).collect().toSet)
  }

  test("array payload (embedding-shaped) survives the buffer round-trip") {
    val df = spark.range(300)
      .select(col("id"), (col("id") % 3).as("g"),
        (col("id") % 13).cast("double").as("score"),
        array(col("id").cast("double"), (col("id") * 2).cast("double")).as("v"))
    val got = df.groupBy(col("g"))
      .agg(BoundedTopK.topK(struct(col("score"), col("id"), col("v")), 4,
        Seq(false, false)).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.id").as("id"), col("col.v").as("v"))
      .as[(Long, Long, Seq[Double])].collect().toSet
    val exp = df.select(col("g"), col("id"), col("v"))
      .as[(Long, Long, Seq[Double])].collect()
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (r._2 % 13, r._2)).take(4)
      }.toSet
    assert(got == exp)
  }

  // Stock Spark bounds the window form too (InferWindowGroupLimit): a
  // partial per-group limit below the shuffle, a final one above it.
  // The final plan is read after the query ran, so it is AQE's.
  test("stock Spark limits a row_number top-k on both sides of the shuffle") {
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val df = data(5000).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
    assert(df.collect().length == 7 * 3)
    val finals = collect(df.queryExecution.executedPlan) {
      case l: WindowGroupLimitExec if l.mode == Final => l
    }
    val exchanges = finals.flatMap(collect(_) { case e: ShuffleExchangeExec => e })
    val partials = exchanges.flatMap(collect(_) {
      case l: WindowGroupLimitExec if l.mode == Partial => l
    })
    assert(finals.nonEmpty, "no Final WindowGroupLimit")
    assert(exchanges.nonEmpty, "no shuffle below the Final WindowGroupLimit")
    assert(partials.nonEmpty, "no Partial WindowGroupLimit below the shuffle")
  }
}
