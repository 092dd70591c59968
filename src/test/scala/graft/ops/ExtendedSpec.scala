package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtendedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("manual interpolated percentiles agree with Spark's built-in percentile") {
    val manual = Extended.q69PercentileCont(spark, TestSpark.sfDir)
      .as[(String, Double, Double)].collect()
      .map { case (s, p, v) => (s, p) -> v }.toMap
    val builtin = graft.Tables.load(spark, TestSpark.sfDir, "orders")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(percentile(col("o_totalprice"),
        array(Extended.PercentilePs.map(lit): _*)).as("ps"))
      .as[(String, Seq[Double])].collect()
    assert(manual.nonEmpty)
    for ((s, vs) <- builtin; (p, v) <- Extended.PercentilePs.zip(vs))
      assert(math.abs(manual((s, p)) - v) < 1e-6,
        s"status $s p=$p manual=${manual((s, p))} builtin=$v")
  }

  test("LevenshteinWithin is exact at and below the threshold, -1 above it") {
    val rows = Seq(
      ("kitten", "sitting", 3), // true distance 3 == threshold → exact
      ("kitten", "sitting", 2), // 3 > 2 → -1
      ("kitten", "sitting", 10),
      ("abc", "abc", 0),
      ("", "abc", 3),
      ("", "abc", 2),
      ("Supplier#000000001", "Customer#000000001", 5))
      .toDF("a", "b", "k")
      .select(col("a"), col("b"), col("k"),
        graft.functions.LevenshteinWithin(col("a"), col("b"), col("k")).as("d"),
        levenshtein(col("a"), col("b")).as("full"))
      .as[(String, String, Int, Int, Int)].collect()
    assert(rows.length == 7)
    for ((a, b, k, d, full) <- rows) {
      if (full <= k) assert(d == full, s"($a,$b,$k): banded $d != full $full")
      else assert(d == -1, s"($a,$b,$k): expected -1, got $d (full $full)")
    }
  }

  test("q63 anchor-pruned fuzzy match equals the exhaustive per-block argmin") {
    import org.apache.spark.sql.expressions.Window
    // the exhaustive yardstick blocks on the SAME (nation, century)
    // key as the shipped operator — a nation-only baseline verifies a
    // different contract and only coincidentally agrees at sf0.001
    def blk(name: String) =
      expr(s"substring(split_part($name, '#', 2), 1, " +
        s"greatest(length(split_part($name, '#', 2)) - 2, 0))")
    val sup = graft.Tables.load(spark, TestSpark.sfDir, "supplier")
      .withColumn("s_blk", blk("s_name"))
    val cust = graft.Tables.load(spark, TestSpark.sfDir, "customer")
      .withColumn("c_blk", blk("c_name"))
    val w = Window.partitionBy(col("s_suppkey"))
      .orderBy(col("edit_distance").asc, col("c_custkey").asc)
    val exhaustive = sup.join(cust, col("s_nationkey") === col("c_nationkey")
        && col("s_blk") === col("c_blk"))
      .select(col("s_suppkey"), col("s_name"), col("c_custkey"),
        levenshtein(col("s_name"), col("c_name")).cast("long").as("edit_distance"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("s_suppkey"), col("s_name"),
        col("c_custkey").as("best_match"), col("edit_distance"))
      .as[(Long, String, Long, Long)].collect().sorted
    val pruned = Extended.q63FuzzyMatch(spark, TestSpark.sfDir)
      .as[(Long, String, Long, Long)].collect().sorted
    assert(pruned.nonEmpty && (pruned sameElements exhaustive))
    // the prune is load-bearing: count survivors entering the ranking
    // window vs the full block pair count
    val allPairs = sup.join(cust, col("s_nationkey") === col("c_nationkey")).count()
    val anchors = cust.groupBy(col("c_nationkey").as("a_nationkey"))
      .agg(min(struct(col("c_custkey"), col("c_name"))).as("a"))
      .select(col("a_nationkey"), col("a.c_name").as("anchor_name"))
    val survivors = sup.join(broadcast(anchors), col("s_nationkey") === col("a_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        levenshtein(col("s_name"), col("anchor_name")).as("ub"))
      .join(cust, col("s_nationkey") === col("c_nationkey"))
      .filter(graft.functions.LevenshteinWithin(
        col("s_name"), col("c_name"), col("ub")) >= 0)
      .count()
    info(s"q63 prune: $survivors of $allPairs block pairs reach the ranking window")
    assert(survivors * 3 <= allPairs * 2,
      s"expected the banded prune to drop at least a third of the pairs: $survivors / $allPairs")
  }

  test("mixture sampling emits floor(r) epochs for every doc plus a hash-selected fraction") {
    val out = Curation.q68MixtureSample(spark, TestSpark.sfDir)
      .groupBy("source").agg(countDistinct("doc_id").as("docs"),
        count(lit(1)).as("rows"), max("epoch").as("max_epoch"))
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // r = 2.0 sources: every doc exactly twice
    assert(out("src0")._3 == 2 * out("src0")._2 && out("src0")._4 == 1L)
    // r = 1.0 sources: every doc exactly once
    assert(out("src5")._3 == out("src5")._2 && out("src5")._4 == 0L)
    // r = 0.25 sources: a strict subset selected, epoch 0 only
    val total19 = graft.Tables.load(spark, TestSpark.sfDir, "documents")
      .filter(col("source") === "src19").count()
    assert(out("src19")._2 < total19 && out("src19")._4 == 0L)
  }

  test("q97 LOCF fills every gap with the latest preceding observed sum") {
    val rows = Extended.q97GapFillLocf(spark, TestSpark.sfDir)
      .as[(String, java.sql.Timestamp, Long, Option[Double], Boolean)]
      .collect()
      .groupBy(_._1).map { case (t, rs) => t -> rs.sortBy(_._2.getTime) }
    assert(rows.nonEmpty)
    rows.values.foreach { series =>
      var lastSeen: Option[Double] = None
      series.foreach { case (_, _, n, filled, isGap) =>
        assert(isGap == (n == 0L))
        if (!isGap) { assert(filled.isDefined); lastSeen = filled }
        else assert(filled == lastSeen) // None before first observation
      }
    }
    // q65 and q97 agree on the grid shape and observed buckets
    val zeroFill = Extended.q65Resample(spark, TestSpark.sfDir)
      .as[(String, java.sql.Timestamp, Long, Double)].collect()
    assert(zeroFill.length == rows.values.map(_.length).sum)
  }

  test("q131 EWMA replays the integer recurrence over ordered days") {
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 1.0, "a"),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 09:00:00"), 2.0, "a"),
      (3L, java.sql.Timestamp.valueOf("2024-01-03 09:00:00"), 3.0, "a"))
      .toDF("event_id", "ts", "value", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("ewma").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Extended.q131Ewma(spark, dir)
      .as[(String, java.sql.Date, Long, Long)].collect()
      .sortBy(_._2.getTime).map(r => (r._3, r._4))
    // s1=100; s2=(200+700) div 8=112; s3=(300+784) div 8=135
    assert(out.toSeq == Seq((100L, 100L), (200L, 112L), (300L, 135L)),
      s"got ${out.toSeq}")
  }

  test("q249 Holt-Winters folds two seasonal cycles and a falling tail to the pinned rows") {
    // two full cycles with a rising trend so every slot is updated on a
    // second visit, then a falling tail that drives trend and seasonals
    // negative: the truncating-division regime
    def rate(h: Int): Int = {
      val season = if (h % 24 < 12) 3 else 1
      math.max(1, season + h / 12 - (if (h > 40) h - 40 else 0))
    }
    val events = for {
      h <- 0 until 50; i <- 0 until rate(h)
    } yield (9000L + h * 100 + i,
      java.sql.Timestamp.valueOf(
        f"2024-01-${1 + h / 24}%02d ${h % 24}%02d:${i % 60}%02d:30"),
      5L, "hw", 0.0, "{}")
    val dir = java.nio.file.Files.createTempDirectory("holtwinters").toString
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Trend.q249HoltWinters(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 3600000L
    assert(out.map(r => (r._1, r._2)).toSeq == (0 until 50).map(i => ("hw", h0 + i)))
    // (x, level_milli, trend_milli, seasonal_milli, forecast_milli) per hour
    val expected = Seq(
      (3L, 3000L, 0L, 0L, 3000L), (3L, 3000L, 0L, 0L, 3000L),
      (3L, 3000L, 0L, 0L, 3000L), (3L, 3000L, 0L, 0L, 3000L),
      (3L, 3000L, 0L, 0L, 3000L), (3L, 3000L, 0L, 0L, 3000L),
      (3L, 3000L, 0L, 0L, 3000L), (3L, 3000L, 0L, 0L, 3000L),
      (3L, 3000L, 0L, 0L, 3000L), (3L, 3000L, 0L, 0L, 3000L),
      (3L, 3000L, 0L, 0L, 3000L), (3L, 3000L, 0L, 0L, 3000L),
      (2L, 2750L, -125L, -375L, 2625L), (2L, 2468L, -203L, -234L, 2265L),
      (2L, 2198L, -236L, -99L, 1962L), (2L, 1971L, -231L, 14L, 1740L),
      (2L, 1805L, -198L, 97L, 1607L), (2L, 1705L, -149L, 147L, 1556L),
      (2L, 1667L, -93L, 166L, 1574L), (2L, 1680L, -40L, 160L, 1640L),
      (2L, 1730L, 5L, 135L, 1735L), (2L, 1801L, 38L, 99L, 1839L),
      (2L, 1879L, 58L, 60L, 1937L), (2L, 1952L, 65L, 24L, 2017L),
      (5L, 2762L, 437L, 1119L, 3199L), (5L, 3649L, 662L, 675L, 4311L),
      (5L, 4483L, 748L, 258L, 5231L), (5L, 5173L, 719L, -86L, 5892L),
      (5L, 5669L, 607L, -334L, 6276L), (5L, 5957L, 447L, -478L, 6404L),
      (5L, 6053L, 271L, -526L, 6324L), (5L, 5993L, 105L, -496L, 6098L),
      (5L, 5823L, -32L, -411L, 5791L), (5L, 5593L, -131L, -296L, 5462L),
      (5L, 5346L, -189L, -173L, 5157L), (5L, 5117L, -209L, -58L, 4533L),
      (4L, 4774L, -276L, -574L, 4264L), (4L, 4432L, -309L, -333L, 4024L),
      (4L, 4117L, -312L, -108L, 3819L), (4L, 3850L, -289L, 82L, 3658L),
      (4L, 3646L, -246L, 225L, 3547L), (3L, 3263L, -314L, -58L, 3115L),
      (2L, 2670L, -453L, -252L, 2377L), (1L, 1872L, -625L, -356L, 1382L),
      (1L, 1151L, -673L, -8L, 577L), (1L, 583L, -620L, 258L, 23L),
      (1L, 207L, -498L, 426L, -267L), (1L, 25L, -340L, 499L, 804L),
      (1L, -266L, -315L, 1192L, 94L), (1L, -354L, -201L, 1014L, -297L))
    assert(out.map(r => (r._3, r._4, r._5, r._6, r._7)).toSeq == expected,
      s"got ${out.toSeq}")
    // the seasonal update path genuinely exercised: some negative seasonals
    assert(out.exists(_._6 < 0L))
  }

  test("q129 trimmed mean drops exactly the bottom/top n div 10 per group") {
    // type a: values 0..9 -> k=1, keep 1..8: sum 3600c, mean 450c
    // type b: 3 values -> k=0, keep all: sum 60000c, mean 20000c
    val rows = (1 to 10).map(i => (i.toLong, s"u", (i - 1).toDouble, "a")) ++
      Seq((11L, "u", 100.0, "b"), (12L, "u", 200.0, "b"),
        (13L, "u", 300.0, "b"))
    val df = rows.toDF("event_id", "who", "value", "event_type")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .select(col("event_id"), col("ts"), col("value"), col("event_type"))
    val dir = java.nio.file.Files.createTempDirectory("trim").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.ops.Audit.q129TrimmedMean(spark, dir)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("a") == (("a", 8L, 3600L, 450L)), s"got ${out("a")}")
    assert(out("b") == (("b", 3L, 60000L, 20000L)), s"got ${out("b")}")
  }

  test("q96 regression slopes match a driver-side exact least squares") {
    val got = graft.ops.Audit.q96GroupRegression(spark, TestSpark.sfDir)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    val ev = graft.Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("event_type"), hour(col("ts")).cast("long"),
        expr("CAST(round(value * 100.0) AS BIGINT)"))
      .as[(String, Long, Long)].collect()
    ev.groupBy(_._1).foreach { case (t, rs) =>
      val n = BigInt(rs.length)
      val sx = BigInt(rs.map(_._2).sum); val sy = BigInt(rs.map(_._3).sum)
      val sxx = BigInt(rs.map(r => r._2 * r._2).sum)
      val sxy = BigInt(rs.map(r => r._2 * r._3).sum)
      val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      val (_, gn, gs, gi) = got(t)
      assert(gn == rs.length.toLong)
      assert(gs == slope, s"$t slope $gs vs $slope")
      assert(gi == (sy.toDouble - slope * sx.toDouble) / n.toDouble)
    }
  }

  test("q109 multivariate slopes match a driver-side exact Cramer solve") {
    val got = graft.ops.Audit.q109MultiRegression(spark, TestSpark.sfDir)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val li = graft.Tables.load(spark, TestSpark.sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("x1"),
        count(lit(1)).as("x2"))
    val rows = graft.Tables.load(spark, TestSpark.sfDir, "orders")
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), col("x1"), col("x2"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").as("y"))
      .as[(String, Long, Long, Long)].collect()
    rows.groupBy(_._1).foreach { case (p, rs) =>
      val n = BigInt(rs.length)
      def bsum(f: ((String, Long, Long, Long)) => BigInt) = rs.map(f).sum
      val s1 = bsum(r => BigInt(r._2)); val s2 = bsum(r => BigInt(r._3))
      val sy = bsum(r => BigInt(r._4))
      val s11 = bsum(r => BigInt(r._2) * r._2)
      val s22 = bsum(r => BigInt(r._3) * r._3)
      val s12 = bsum(r => BigInt(r._2) * r._3)
      val s1y = bsum(r => BigInt(r._2) * r._4)
      val s2y = bsum(r => BigInt(r._3) * r._4)
      val sS11 = n * s11 - s1 * s1; val sS22 = n * s22 - s2 * s2
      val sS12 = n * s12 - s1 * s2
      val sS1y = n * s1y - s1 * sy; val sS2y = n * s2y - s2 * sy
      val den = sS11 * sS22 - sS12 * sS12
      assert(den > 0, s"$p collinear features")
      val b1 = (sS1y * sS22 - sS2y * sS12).toDouble / den.toDouble
      val b2 = (sS2y * sS11 - sS1y * sS12).toDouble / den.toDouble
      val (_, gn, gb1, gb2, gb0) = got(p)
      assert(gn == rs.length.toLong)
      assert(gb1 == b1, s"$p slope_qty $gb1 vs $b1")
      assert(gb2 == b2, s"$p slope_lines $gb2 vs $b2")
      assert(gb0 ==
        (sy.toDouble - b1 * s1.toDouble - b2 * s2.toDouble) / n.toDouble)
      // the fitted plane actually explains the data better than the
      // per-feature fits it generalizes: residual SS must not exceed
      // either single-feature OLS residual (least squares is optimal
      // over the larger model class)
      def sse(pred: (Long, Long) => Double) =
        rs.map(r => { val e = r._4.toDouble - pred(r._2, r._3); e * e }).sum
      val multi = sse((a, b) =>
        (sy.toDouble - b1 * s1.toDouble - b2 * s2.toDouble) / n.toDouble +
          b1 * a + b2 * b)
      val m1 = (n * s1y - s1 * sy).toDouble / (n * s11 - s1 * s1).toDouble
      val single = sse((a, _) =>
        (sy.toDouble - m1 * s1.toDouble) / n.toDouble + m1 * a)
      assert(multi <= single * (1.0 + 1e-12), s"$p multi $multi vs single $single")
    }
  }
}
