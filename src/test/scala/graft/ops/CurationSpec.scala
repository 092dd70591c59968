package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stratified sample is deterministic, quota-bounded, and split-consistent") {
    val a = Curation.q45StratifiedSample(spark, TestSpark.sfDir)
      .as[(Long, String, String, Long)].collect().toSet
    val b = Curation.q45StratifiedSample(spark, TestSpark.sfDir)
      .as[(Long, String, String, Long)].collect().toSet
    assert(a == b, "hash-derived sampling must not depend on run/partitioning")
    assert(a.nonEmpty)
    assert(a.forall(_._4 <= Curation.SampleQuota))
    // a doc appears in exactly one (split, rank) slot
    assert(a.groupBy(_._1).forall(_._2.size == 1))
    assert(a.map(_._3).subsetOf(Set("train", "val", "test")))
  }

  test("PII scrub redacts planted emails, URLs, and digit runs") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "contact bob@example.com or visit https://example.com/x?q=1 ref 12345678"),
      (2L, "nothing sensitive here at all"))
      .toDF("doc_id", "text")
    def hits(re: String) = size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    val scrubbed = docs.select(col("doc_id"),
      hits(Curation.EmailRe).as("e"), hits(Curation.UrlRe).as("u"),
      hits(Curation.DigitRunRe).as("d"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        Curation.EmailRe, "<EMAIL>"), Curation.UrlRe, "<URL>"),
        Curation.DigitRunRe, "<NUM>").as("t"))
      .as[(Long, Long, Long, Long, String)].collect()
      .map { case (id, e, u, d, t) => id -> ((e, u, d, t)) }.toMap
    assert(scrubbed(1L)._1 == 1 && scrubbed(1L)._2 == 1 && scrubbed(1L)._3 == 1)
    assert(scrubbed(1L)._4 == "contact <EMAIL> or visit <URL> ref <NUM>")
    assert(scrubbed(2L) == ((0L, 0L, 0L, "nothing sensitive here at all")))
  }

  test("contamination pairs really share a 5-gram across the split boundary") {
    val pairs = Curation.q46Contamination(spark, TestSpark.sfDir)
      .as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty, "corpus near-dups should straddle the split")
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    def grams(s: String): Set[String] = {
      val w = s.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      w.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    }
    pairs.foreach { case (test_, train, n) =>
      val shared = grams(docs(test_)).intersect(grams(docs(train)))
      assert(shared.size.toLong == n, s"pair ($test_, $train)")
    }
  }

  test("q101 per-group register merge equals the directly computed global registers") {
    val rows = Curation.q101HllUnion(spark, TestSpark.sfDir)
      .as[(Long, Int, Int, Boolean)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._4), "a merged register diverged from the direct one")
    assert(rows.forall(r => r._2 == r._3))
  }

  test("q99 novelty counts match a driver-side shingle replay") {
    val got = Curation.q99NgramNovelty(spark, TestSpark.sfDir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def grams(s: String): Set[String] = {
      val w = s.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      w.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    }
    def isTrain(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val c = f"${md(0) & 0xff}%02x".charAt(0)
      c >= '0' && c <= 'b'
    }
    val trainSh = docs.filter(d => isTrain(d._1)).flatMap(d => grams(d._2)).toSet
    val expect = docs.filterNot(d => isTrain(d._1))
      .map { d =>
        val g = grams(d._2)
        val novel = g.count(!trainSh.contains(_)).toLong
        d._1 -> ((g.size.toLong, novel, novel * 1000 / g.size))
      }.filter(_._2._1 > 0).toMap
    assert(got == expect)
  }

  test("q95 keeps exactly the docs at or above the true median quality score") {
    val all = TextOps.q14Quality(spark, TestSpark.sfDir)
      .select("doc_id", "quality_score").as[(Long, Double)].collect()
    val kept = Curation.q95QualityGate(spark, TestSpark.sfDir)
      .as[(Long, Double)].collect().toMap
    val median = all.map(_._2).sorted.apply((all.length - 1) / 2)
    val expect = all.filter(_._2 >= median).toMap
    assert(kept == expect)
    assert(kept.size >= all.length / 2 && kept.size < all.length)
  }

  test("q119 bootstrap replicates: exact md5 replay, half-sample sizes, tight spread") {
    import org.apache.spark.sql.functions._
    val got = Curation.q119BootstrapCi(spark, TestSpark.sfDir)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.size == Curation.BootReplicas + 1)
    val orders = graft.Tables.load(spark, TestSpark.sfDir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100.0) AS BIGINT)"))
      .as[(Long, Long)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def coin(r: Long, k: Long): Boolean = {
      val h = md.digest(s"boot_${r}_$k".getBytes("UTF-8"))
      ((h(0) >> 4) & 0xf) % 2 == 1
    }
    // exact replay of two replicas
    Seq(0L, 7L).foreach { r =>
      val sel = orders.filter(o => coin(r, o._1))
      val (_, n, s, m) = got(r)
      assert(n == sel.length.toLong && s == sel.map(_._2).sum)
      assert(m == s.toDouble / n.toDouble)
    }
    // full-sample row and binomial-plausible replicate sizes
    val (_, nAll, sAll, _) = got(-1L)
    assert(nAll == orders.length.toLong && sAll == orders.map(_._2).sum)
    val meanAll = sAll.toDouble / nAll.toDouble
    (0L until Curation.BootReplicas.toLong).foreach { r =>
      val (_, n, _, m) = got(r)
      assert(math.abs(n.toDouble / nAll - 0.5) < 0.1,
        s"replica $r size $n is not a plausible half-sample of $nAll")
      assert(math.abs(m - meanAll) / meanAll < 0.2,
        s"replica $r mean $m far from $meanAll")
    }
  }

  test("q162 water-filling spends the budget exactly under the epoch cap") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Curation.q162TokenBudget(spark, TestSpark.sfDir)
      .select($"tokens", $"capacity", $"allocated", $"saturated")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val totalTokens = rows.map(_._1).sum
    val budget = totalTokens * Curation.Q162BudgetEpochs
    assert(rows.map(_._3).sum == budget,
      s"allocations ${rows.map(_._3).sum} != budget $budget")
    rows.foreach { case (t, c, a, sat) =>
      assert(c == t * Curation.Q162MaxEpochs)
      assert(a <= c, s"allocation $a exceeds capacity $c")
      assert(sat == (a == c), "saturated flag must mean allocation == cap")
    }
    // unsaturated sources sit within one token of a shared water level
    val unsat = rows.filter(!_._4).map(_._3)
    if (unsat.nonEmpty)
      assert(unsat.max - unsat.min <= 1,
        s"water level not level: ${unsat.min}..${unsat.max}")
  }

  test("q178 systematic PPS draws exactly K samples and oversamples big docs") {
    val rows = Curation.q178SystematicSample(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    // the defining invariant of systematic sampling: multiplicities
    // sum to exactly the K grid points, however the weights fall
    val drawn = rows.map(_.getAs[Long]("multiplicity")).sum
    assert(drawn == Curation.Q178SampleTarget.toLong,
      s"drew $drawn of ${Curation.Q178SampleTarget}")
    // every selected doc's weight span really contains >= 1 grid point
    rows.foreach(r => assert(r.getAs[Long]("multiplicity") >= 1L))
  }

  test("q179 coverage curve is monotone and ends at full coverage for K >= vocab") {
    val rows = TextOps.q179VocabCoverage(spark, TestSpark.sfDir)
      .orderBy(org.apache.spark.sql.functions.col("vocab_size")).collect()
    assert(rows.nonEmpty)
    val cov = rows.map(_.getAs[Long]("coverage_ppm"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b },
      s"coverage not monotone: ${cov.toSeq}")
    cov.foreach(c => assert(c >= 0 && c <= 1000000L))
    // rows only exist for K <= n_types; the largest feasible K's
    // cumulative count must cover every occurrence when K == n_types
    val nTypes = rows.head.getAs[Long]("n_types")
    rows.find(_.getAs[Int]("vocab_size").toLong == nTypes).foreach { last =>
      assert(last.getAs[Long]("coverage_ppm") == 1000000L)
    }
  }

  test("q188 cluster-keyed split has zero cross-split near-dup leakage; naive split measurably leaks") {
    import org.apache.spark.sql.functions._
    // rebuild the per-doc cluster-aware split and check every q18
    // near-dup edge lands with both endpoints in the SAME split —
    // the invariant the operator exists to enforce
    val docs = graft.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"))
    val clusters = DedupOps.q33DedupClusters(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("cluster_rep"))
    def splitOf(c: org.apache.spark.sql.Column) = {
      val h = substring(md5(c.cast("string")), 1, 1)
      when(h.between("0", "b"), "train").when(h.isin("c", "d"), "val")
        .otherwise("test")
    }
    val tagged = docs.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        splitOf(coalesce(col("cluster_rep"), col("doc_id"))).as("split"))
    val edges = DedupOps.q18NgramJaccard(spark, TestSpark.sfDir)
      .select(col("doc_id_1"), col("doc_id_2"))
    val crossed = edges
      .join(tagged.select(col("doc_id").as("doc_id_1"), col("split").as("s1")), "doc_id_1")
      .join(tagged.select(col("doc_id").as("doc_id_2"), col("split").as("s2")), "doc_id_2")
      .filter(col("s1") =!= col("s2")).count()
    assert(crossed == 0L, s"cluster-aware split leaked $crossed edges")
    // and the reported naive leakage is the true doc-hash tear count
    val reported = Curation.q188LeakageSplit(spark, TestSpark.sfDir)
      .agg(sum(col("naive_torn_edges"))).as[Long].head()
    val naiveTorn = edges
      .filter(splitOf(col("doc_id_1")) =!= splitOf(col("doc_id_2"))).count()
    assert(reported == naiveTorn)
    assert(naiveTorn > 0L,
      "corpus near-dup families should straddle the naive doc-hash split")
  }

  test("q203: every pair is non-negative-gap, sides disjoint, count = sum of n div 2") {
    import org.apache.spark.sql.functions._
    val rows = Curation.q203PreferencePairs(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("gap") >= 0L, s"negative-gap pair: $r")
      assert(r.getAs[Long]("chosen_doc") != r.getAs[Long]("rejected_doc"))
    }
    // a doc may appear on at most ONE side, at most once
    val chosen = rows.map(_.getAs[Long]("chosen_doc"))
    val rejected = rows.map(_.getAs[Long]("rejected_doc"))
    assert(chosen.distinct.length == chosen.length)
    assert(rejected.distinct.length == rejected.length)
    assert(chosen.toSet.intersect(rejected.toSet).isEmpty)
    // pair count per source = floor(n/2)
    val perSource = graft.Tables.load(spark, TestSpark.sfDir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1) / 2).toMap
    val got = rows.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.length.toLong).toMap
    assert(got == perSource.filter(_._2 > 0))
  }

  test("q204: every sliding-window cell is merge-consistent and estimates are sane") {
    import org.apache.spark.sql.functions._
    val df = Curation.q204SlidingHll(spark, TestSpark.sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("merge_consistent")),
      "a rolled-up register diverged from the direct window register")
    // ranks grow with window position only via max-merge: per bucket,
    // a day's window rank >= that day's own daily rank is implied by
    // consistency; spot-check the aggregate instead: distinct days in
    // the output == distinct days in the data
    val outDays = rows.map(_.getAs[Long]("day")).distinct.length
    val dataDays = graft.Tables.load(spark, TestSpark.sfDir, "events")
      .select(expr("unix_timestamp(ts) div 86400").as("d"))
      .distinct().count()
    assert(outDays.toLong == dataDays)
  }

  test("q214: allocations sum exactly to the budget; weights are ⌊√n⌋") {
    val rows = Curation.q214TemperatureMix(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("alloc")).sum == Curation.Q214Budget)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val w = r.getAs[Long]("weight")
      assert(w * w <= n && n < (w + 1) * (w + 1), s"not isqrt: $r")
    }
    // Hamilton apportionment: each alloc is floor-share or floor-share+1
    val totW = rows.map(_.getAs[Long]("weight")).sum
    rows.foreach { r =>
      val fl = r.getAs[Long]("weight") * Curation.Q214Budget / totW
      val a = r.getAs[Long]("alloc")
      assert(a == fl || a == fl + 1, s"alloc off floor share: $r")
    }
  }

  test("q221: priorities are the true min-of-w hashes; k lowest win") {
    val rows = Curation.q221WeightedSample(spark, TestSpark.sfDir).collect()
    assert(rows.length == Curation.Q221K)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // JVM recompute of each winner's priority from its weight
    rows.foreach { r =>
      val (ok, ln, w) = (r.getAs[Long]("l_orderkey"),
        r.getAs[Int]("l_linenumber"), r.getAs[Int]("w"))
      val expect = (1 to w).map(i => md5hex(s"ws_${ok}_${ln}_$i")).min
      assert(r.getAs[String]("priority") == expect, s"priority wrong: $r")
    }
    // no duplicates (without replacement) and weights are positive
    assert(rows.map(r => (r.getAs[Long]("l_orderkey"),
      r.getAs[Int]("l_linenumber"))).distinct.length == rows.length)
    rows.foreach(r => assert(r.getAs[Int]("w") >= 1))
  }

  test("q251 per-user event and conversion counts on a shuffled 8-event fixture") {
    val fixture = Seq(
      (1L, "purchase"), (2L, "view"), (1L, "view"), (3L, "purchase"),
      (2L, "purchase"), (1L, "click"), (3L, "purchase"), (2L, "view"))
    val dir = java.nio.file.Files.createTempDirectory("targetenc").toString
    fixture.zipWithIndex.map { case ((u, t), i) =>
      (i.toLong, u, java.sql.Timestamp.valueOf("2024-03-01 08:00:00"), t, 1.0)
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val counts = Curation.q251TargetEncoding(spark, dir)
      .select("user_id", "n_events", "n_conv")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    // only purchases convert; one row per user
    assert(counts == Seq((1L, 3L, 1L), (2L, 3L, 1L), (3L, 2L, 2L)), s"got $counts")
  }
}
