package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CorrUtil, DotProduct, LshBandKeys, ProjectCentered, TokenBucketCounts}

/** q35: recall-controlled LSH near-duplicate detection over document
  * token profiles — the scale path the exact-quadratic q25 is not.
  *
  * Pipeline (all exact-integer statistics, so the DuckDB oracle
  * reproduces every double bit-for-bit):
  *
  *  1. One codegen'd scan builds a 256-dim token-bucket count vector
  *     per doc (TokenBucketCounts; md5-hex bucketing that DuckDB can
  *     express verbatim).
  *  2. Docs are compared by PEARSON CORRELATION of their count vectors
  *     (= cosine after centering on the corpus mean). Centering is what
  *     makes LSH possible: raw same-language count vectors share a huge
  *     stopword component (measured median cosine 0.63 on this corpus),
  *     so every hyperplane sign would agree; centered, random pairs sit
  *     at ~0 and near-dups at ~1.
  *  3. Sign-LSH blocking: SCALE-AWARE exact-key buckets (no
  *     multi-probe) — `bitsPerBand(n)` = max(16, ⌈log₂ n⌉ − 2)
  *     hyperplane bits per band, with the band count re-fitted so the
  *     worst-case per-pair miss bound stays ≤ `MissBound` = 1.4e-5:
  *     a pair at exactly the 0.9 threshold agrees per bit with
  *     p = 1 − arccos(0.9)/π ≈ 0.856, so
  *     bands = ⌈ln(MissBound)/ln(1 − p^bits)⌉. At every driver SF and
  *     the 10× sighting (n ≤ 2¹⁸) this derives the same 16 bits × 128
  *     bands — byte-identical results — and beyond that the keyspace
  *     grows with the corpus, killing the residual ~n²·bands/2^bits
  *     within-bucket enumeration growth a FIXED keyspace suffers at
  *     extreme scale (the q194 lattice trick applied to LSH buckets).
  *     The band shape is fitted to the corpus's measured correlation
  *     spectrum (99th-pct pair corr ≈ 0.79): expected enumerations for
  *     a sub-threshold pair scale as bands·p^bits, so LONG bands kill
  *     the mid-correlation collision mass exponentially while extra
  *     bands buy recall linearly in log-miss. 16×128 measures HALF the
  *     enumeration volume of the previous 12-bit×16-band Hamming-1
  *     probe scheme, a 3× tighter miss bound, and no 13× probe
  *     fan-out. Measured on this corpus: recall 1.0 at every SF
  *     (pinned by the LSH ≡ exhaustive DedupSpec equality and the
  *     oracle).
  *  4. EXACTNESS-PRESERVING candidate prune inside the bucket kernel:
  *     each doc carries an adaptive `MinProjDims`–`ProjDims` (16–96)
  *     QUANTIZED (Short-grid) projection of its unit-centered vector onto the
  *     top orthonormal directions of the corpus second moment
  *     (power-iterated on the driver from a hash-spread `SampleN`
  *     = 2048-doc sample; stats-sized). Orthonormal projection never increases
  *     distance, so ‖proj_a − proj_b‖² ≤ ‖û_a − û_b‖² = 2 − 2·corr:
  *     any pair whose quantized distance² exceeds
  *     `CorrUtil.quantThreshold(2 − 2·0.9 + margin, m)` (the integer
  *     bound that absorbs the rounding of both the margin and the
  *     quantization grid) PROVABLY has corr < 0.9 and dies inside the
  *     streaming bucket kernel — before the distinct and before the
  *     256-dim verify ever see it, at early-exit integer-SSD cost
  *     (the corpus's correlation mass concentrates in few principal
  *     directions, so most pruned pairs exit within a few
  *     coordinates, and the pairs that DON'T exit — the dominant
  *     mid-correlation mass of a near-dup corpus — scan 2 bytes/dim
  *     instead of 4). Degenerate projections (empty-array sentinel)
  *     never prune.
  *  5. Exact verify on surviving candidates, via the integer decomposition
  *     corr = (D − (Pa+Pb)/N + Q/N²) /
  *            (√(SSa − 2Pa/N + Q/N²) · √(SSb − 2Pb/N + Q/N²))
  *     where D = Σ aᵢbᵢ, Pa = Σ aᵢSᵢ, SSa = Σ aᵢ², Q = Σ Sᵢ² are exact
  *     integers (S = per-bucket corpus totals, N = doc count) — every
  *     division happens on exact doubles, so Spark and DuckDB agree to
  *     the last ulp.
  *
  * 100 TB shape: stats are one tiny (256-key) aggregate; signatures are
  * one codegen'd scan; candidates shuffle ONCE on the bucket key —
  * `bands` rows per doc carrying the 32–192-byte quantized prune projection
  * — then stream through the sort-based kernel, so no quadratic set is
  * ever materialized: enumeration happens inside equal-key runs at
  * early-exit integer-SSD cost and only provably-possible pairs become rows
  * for the distinct + 2 KB verify join. A hot bucket is no longer
  * unbounded skew: past [[CorrDedup.SplitMinRows]] docs, any bucket
  * over [[CorrDedup.DefaultBucketCap]] members is salt-split into the
  * exact block-pair cells of its triangle decomposition (per-task
  * work ≤ ~cap², pair set byte-identical — see the cap scaladoc). Measured at the 10× sighting: the
  * generic-join formulation paid ~0.6 µs of operator machinery per
  * enumerated pair (212 s r7 → 80 s with the prune riding the join);
  * the kernel + long-band shape cuts enumeration volume in half and
  * per-pair cost ~15×. (At a true 100 TB corpus the Long bucket
  * totals would be summed as Decimal(38,0) like connectedComponents'
  * signature — at any testable scale Long is exact.)
  */
object CorrDedup {

  val Dim = 256
  val CorrThreshold = 0.9
  /** Band shape derived from corpus size + the measured correlation
    * spectrum (99th pct corr ≈ 0.79, ~2.5 % of pairs in [0.7, 0.9)):
    * the expected enumerations per sub-threshold pair scale as
    * bands·p^bits (p = 1 − acos(corr)/π per-bit sign agreement), so
    * LONG bands kill the mid-correlation mass exponentially while
    * more bands restore recall linearly in log-miss. The floor shape
    * 16×128 measures HALF the candidate enumerations of the old
    * 12-bit×16-band Hamming-1 probe scheme with a 3× smaller
    * worst-case miss bound (1.4e-5 vs 4e-5 for a 0.90-corr pair;
    * empirical recall is 1.0 at every SF, pinned by DedupSpec's
    * LSH ≡ exhaustive equality and by the oracle), and it needs NO
    * probe fan-out: 128 rows/doc vs 208.
    *
    * SCALE RULE: a fixed keyspace makes within-bucket occupancy — and
    * the quadratic enumeration inside each bucket — grow ~n²·bands/2^bits,
    * so bits grows with ⌈log₂ n⌉ − 2 (floor 16) and bands is re-fitted
    * to hold the per-pair miss bound ≤ MissBound. Derived from the
    * same one count(*) the pipeline already runs; n ≤ 2¹⁸ (every
    * driver SF and the 10× sighting) yields exactly 16×128, so
    * results are byte-identical where hashes are checked. */
  val MissBound = 1.4e-5
  def bitsPerBand(n: Long): Int = {
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(math.max(2L, n) - 1L)
    math.max(16, log2n - 2)
  }
  def bandsFor(bits: Int): Int = {
    val p = 1.0 - math.acos(CorrThreshold) / math.Pi
    math.ceil(math.log(MissBound) / math.log(1.0 - math.pow(p, bits))).toInt
  }
  val Seed = 42L
  /** Candidate-prune projection: top-`ProjDims` subspace from a
    * `SampleN`-doc sample, `PowerIters` power iterations (driver-side;
    * exactness never depends on these — only the prune rate does).
    * 96 dims sized for corpus HETEROGENEITY: a mixture of sub-corpora
    * with disjoint vocabularies spreads its variance over roughly
    * 32 directions per component (measured at the 10× sighting: the
    * top-32 subspace held 75 % of the mixed corpus's variance and
    * passed ~36 % of colliding pairs; 96 dims pass ~1 %, and the
    * early-exit distance keeps the extra dims nearly free because
    * most pairs exceed the bound within the first few coordinates). */
  val ProjDims = 96
  val MinProjDims = 16
  val SampleN = 2048
  val PowerIters = 8

  /** Prune-projection width ceiling at ENGAGED keyspace scales (n >
    * [[SplitMinRows]]) — an A/B knob, NOT a tuned-down default.
    * Narrowing is exactness-preserving by construction (any orthonormal
    * PREFIX of the eigenvalue-ordered basis still lower-bounds the true
    * distance, and `CorrUtil.quantThreshold` re-derives the integer
    * bound from the actual m — fewer dims only lower the prune RATE),
    * and the r10 verdict prescribed it as the lever for the
    * superlinear 100× wall. MEASURED at the 60× sighting (min-of-1
    * singles, same box, AQE off, the round-11 A/B): with the candidate
    * exchange at session width 4 the payload barely matters (96 dims 515.7 s,
    * 64 → 500.6, 32 → >600 DNF) — and once the exchange is sized from
    * the entry volume (see [[candShuffleParts]], the ACTUAL fix:
    * 515.7 → 178.4 s) narrowing is strictly WORSE (64 dims → 290.1 s):
    * the lost prune selectivity floods the distinct + verify stages
    * with survivors, exactly the int8-quantization lesson
    * ([[graft.functions.CorrUtil.QuantScale]]) at the dims axis. So
    * the default stays the full [[ProjDims]] ceiling at every scale.
    * Conf `graft.dedup.q35ProjDimsEngaged` for future re-measurement. */
  val EngagedProjDims: Int = ProjDims
  def engagedProjDims(spark: SparkSession): Int =
    spark.conf.getOption("graft.dedup.q35ProjDimsEngaged").map(_.toInt)
      .getOrElse(EngagedProjDims)

  /** Width of the candidate (key, cell) exchange + sort, derived from
    * the KNOWN entry volume (n·bands rows of ~(44 + 2m) bytes) instead
    * of inherited from the session: the one superlinear wall left at
    * the r10 100× sighting was this exchange, whose wall grew 2.6×
    * on 1.8× enumerations. The excess was never payload bytes — it was
    * sort granularity: at the sighting convention (local[4], shuffle
    * width 4) each task external-sorts GIGABYTES of entry rows, and
    * the whole stage runs in one task wave. Sizing partitions so each
    * sorts ~[[CandPartBytes]] restores in-memory sorts and pipelined
    * waves: measured at 60× (same box, min-of-1, AQE off)
    * 515.7 → 178.4 s with everything else byte-identical — under the
    * r9 sighting number (190.7) on a visibly slower box. Results are
    * partition-count-invariant (the kernel only needs equal keys
    * co-located, which any hash width gives), and at driver SFs the
    * formula floors at the session width, so those plans are
    * unchanged. This is exactly the CC-loop discipline ("size loop
    * shuffle width from the measured edge count") applied to the
    * dedup kernel's one big exchange; at cluster scale it is the
    * spill-aware partition sizing the design brief demands. */
  val CandPartBytes: Long = 256L << 20
  def candShuffleParts(spark: SparkSession, n: Long, bands: Int,
      projDims: Int): Int = {
    // BigInt: a pathological n can overflow the Long product, and a
    // wrapped-negative byte count truncated to Int re-wraps POSITIVE —
    // sailing past the cap (caught by DedupSpec's sizing test). Exact
    // arithmetic costs nothing once per query.
    val entryBytes = BigInt(n) * bands * (44 + 2 * projDims)
    val sized = ((entryBytes / CandPartBytes + 1) min 2000).toInt
    math.max(spark.sessionState.conf.numShufflePartitions, sized)
  }

  /** The cross-band pair DISTINCT is the next exchange downstream of
    * the candidate kernel, and it inherited the same session-width
    * disease [[candShuffleParts]] cured for the (key, cell) exchange:
    * at the 100× sighting (local[4], shuffle width 4) the kernel emits
    * 452 M pre-distinct pair rows (post map-side partial aggregate,
    * per-stage shuffle-write records) and the final distinct aggregate
    * ingests 113 M rows PER TASK, external-sorting/spilling for
    * ~236 s/task while GC stays under 1 s — pure per-task working-set
    * excess, growing 3.7× on 1.8× enumeration volume from 60× to 100×.
    * Fix: past the same engagement gate as the split, hash-repartition
    * the pair stream on (doc_id_1, doc_id_2) to the SAME entry-volume-
    * derived width before the distinct — the explicit exchange
    * satisfies the aggregate's required distribution, so the final
    * aggregate (and the broadcast-verify probes after it, which share
    * the stage) runs at that width with no second exchange. The pair
    * stream's bytes track the entry volume within a small factor
    * (452 M × ~20 B ≈ 9 GB vs 17.8 GB of entries at 100×), so one
    * sizing basis serves both exchanges. Trade-off: the explicit
    * repartition sits where Catalyst would have put the partial
    * aggregate's exchange, so the partial agg runs (uselessly) above
    * it and the wire carries raw kernel emissions — measured at 100×
    * the partial agg was already pass-through (452 M written ≈ raw
    * emission; per-task hash tables overflow long before 6.7 M
    * distinct pairs), so nothing real is lost. Driver SFs and every
    * corpus at or below the gate keep the old plan byte-identical.
    * Conf `graft.dedup.q35SizedPairExchange` (default on) is the A/B
    * arm switch. */
  def sizedPairExchange(spark: SparkSession): Boolean =
    !spark.conf.getOption("graft.dedup.q35SizedPairExchange")
      .map(_.trim.toLowerCase)
      .exists(v => v == "false" || v == "0" || v == "no")

  /** Hot-bucket occupancy cap: a single (band, bucket) equal-key run
    * longer than this is no longer enumerated by one task. The
    * quadratic work inside one genuinely-similar hot bucket cannot be
    * reduced (its pairs ARE the output), but it CAN be spread: members
    * of an over-cap bucket are salt-hashed into g = ⌈occ/cap⌉ groups
    * and re-keyed to the g(g+1)/2 block-pair cells (i ≤ j) of the
    * triangle decomposition — cell (i,i) enumerates the full triangle
    * of group i, cell (i,j) enumerates ONLY cross pairs (side tags
    * carried per row), so every unordered bucket pair is produced by
    * EXACTLY one cell. This is an exact decomposition: the candidate
    * pair set — and every hash downstream — is byte-identical at any
    * scale, with per-task work bounded by ~cap² and the analytic miss
    * bound untouched (no pair is dropped, so "≤ MissBound combined"
    * holds trivially; contrast a lossy second-stage LSH re-hash, whose
    * extra miss mass the tightly-fitted band count has no budget for).
    * Member replication is g = per-bucket work / (cap · occ) — i.e.
    * shuffle rows grow only in proportion to the enumeration work that
    * already exists, at ~200 B per cap² pair-tests.
    *
    * The split needs a bucket-occupancy pre-pass (one keys-only
    * aggregate — a second bands·bits sign matvec over the corpus — +
    * a broadcast of the over-cap keys, ≤ |entries|/cap rows by
    * construction). That premium measured ~12 % of q35 at the 30×
    * sighting (67 → 75 s same-box A/B) where a bucket-occupancy probe
    * measured the max bucket at 1413 < cap — insurance with nothing to
    * insure. So the gate is the KEYSPACE-ENGAGEMENT point n > 2¹⁸ (conf
    * `graft.dedup.q35SplitMinRows`): below it the bound on occupancy is
    * the empirical one measured at the sightings, at and beyond it random
    * occupancy is ≤ n/2^bits ≤ 4 by construction and a hot bucket can
    * only be genuinely-similar mass — exactly the unbounded-skew case
    * the split exists for, and a scale where its cost is amortized.
    * Every driver SF and every sighting below 60× stays on the
    * single-pass plan. Cap via conf `graft.dedup.q35BucketCap`
    * (specs force both knobs low to pin split ≡ unsplit). */
  val DefaultBucketCap = 2048
  val SplitMinRows = 1L << 18
  def bucketCap(spark: SparkSession): Int =
    spark.conf.getOption("graft.dedup.q35BucketCap").map(_.toInt)
      .getOrElse(DefaultBucketCap)
  def splitMinRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.dedup.q35SplitMinRows").map(_.toLong)
      .getOrElse(SplitMinRows)
  /** Keep a pair unless its projected distance² provably exceeds
    * 2 − 2·threshold; the margin dominates the double matvec rounding
    * (~1e-12), and the quantization grid's own error budget is carried
    * separately in `CorrUtil.quantThreshold`'s slack term. */
  val PruneBound: Double = 2.0 * (1.0 - CorrThreshold) + 1e-4

  def q35LshNearDup(spark: SparkSession, dir: String): DataFrame =
    corrNearDup(Tables.load(spark, dir, "documents"))

  /** The LSH-blocked pipeline; `exhaustive = true` replaces the LSH
    * candidate stage with all pairs (the recall yardstick used by
    * DedupSpec — outputs must be identical). */
  def corrNearDup(docs: DataFrame, exhaustive: Boolean = false): DataFrame = {
    val vecs = docs
      .select(col("doc_id"), TokenBucketCounts(col("text"), Dim).as("cnt"))
      .persist()

    // Exact corpus statistics (one count + one 256-key aggregate; the
    // collect is 256 longs regardless of corpus size).
    val n = vecs.count()
    val nd = n.toDouble
    val s = new Array[Long](Dim)
    vecs.select(posexplode(col("cnt")).as(Seq("i", "c")))
      .groupBy(col("i")).agg(sum(col("c")).as("s"))
      .collect().foreach(r => s(r.getInt(0)) = r.getLong(1))
    var q = 0L
    var i = 0
    while (i < Dim) { q += s(i) * s(i); i += 1 }
    val qn2 = q.toDouble / (nd * nd)

    // Band shape derived from the corpus size (see MissBound scaladoc);
    // 16×128 at every driver SF. Mean-vector projections for the sign
    // bits: hmu_k = (h_k · S) / N.
    val bits = bitsPerBand(n)
    val bands = bandsFor(bits)
    val planes = CorrUtil.planes(Seed, bands * bits, Dim)
    val hmu = planes.map { p =>
      var acc = 0.0
      var j = 0
      while (j < Dim) { acc += p(j) * s(j); j += 1 }
      acc / nd
    }

    // Prune basis: top-ProjDims orthonormal directions of the sampled
    // unit-centered second moment (driver-side, stats-sized: 1024×256
    // doubles collected once; see scaladoc §4 for why any orthonormal
    // set keeps the prune exact). The sample is spread over the WHOLE
    // corpus by hash order (a TakeOrdered heap, not a sort): a prefix
    // sample sees only one shard's vocabulary, and a basis fitted to
    // one sub-corpus captures none of the others' variance — measured
    // at the 10× sighting, the prefix-sampled prune passed 40 % of
    // enumerated pairs where the hash-spread sample passes ~0.1 %.
    val mu = Array.tabulate(Dim)(j => s(j) / nd)
    val sampleU = vecs.orderBy(xxhash64(col("doc_id")), col("doc_id"))
      .limit(SampleN)
      .select(col("cnt")).collect()
      .flatMap { r =>
        val c = r.getSeq[Long](0)
        val a = Array.tabulate(Dim)(j => c(j) - mu(j))
        var n2 = 0.0
        var j = 0
        while (j < Dim) { n2 += a(j) * a(j); j += 1 }
        if (n2 > 1e-18) { val nr = math.sqrt(n2); Some(a.map(_ / nr)) } else None
      }
    // Adaptive dimension (see CorrUtil.adaptiveBasis): smallest prefix
    // capturing >= 95 % of the sample variance, clamped to
    // [MinProjDims, ProjDims]; an empty/degenerate sample (e.g. an
    // all-identical-documents corpus) yields an EMPTY basis and the
    // prune degrades to a no-op instead of crashing. Past the keyspace
    // engagement point the ceiling narrows to EngagedProjDims — at
    // those scales the payload bytes through the candidate
    // exchange+sort cost more than the lost prune selectivity (see the
    // EngagedProjDims scaladoc; driver SFs keep the full ceiling, so
    // their plans and hashes are untouched).
    val sess = docs.sparkSession
    val maxDims =
      if (n > splitMinRows(sess)) math.min(engagedProjDims(sess), ProjDims)
      else ProjDims
    val basis =
      CorrUtil.adaptiveBasis(sampleU, math.min(MinProjDims, maxDims), maxDims,
        0.95, PowerIters, Seed + 1)
    val bmu = basis.map { bj =>
      var acc = 0.0
      var j = 0
      while (j < Dim) { acc += bj(j) * mu(j); j += 1 }
      acc
    }

    val sLit = array(s.map(v => lit(v.toDouble)): _*)
    // Past the engagement gate, spread the per-doc heavy compute (the
    // bands·bits sign matvec in LshBandKeys, the prune projection, and
    // the candidate exchange's map-side WRITE of n·bands·(44+2m) bytes)
    // over the same entry-volume-derived width as the exchange itself:
    // the parquet scan of the persisted vectors yields ~4 partitions at
    // sighting convention, so each map task was writing gigabytes of
    // shuffle file in one wave — the per-task sorted-spill merge grows
    // superlinearly (measured 28.6 → 108 s for 1.67× bytes, 60×→100×,
    // r12 JobProfile) while GC stays in the hundreds of ms. The hash
    // repartition on doc_id is deterministic, the occupancy pre-pass
    // and the entry stage share the exchange via ReuseExchange, and
    // below the gate vecsW IS vecs — driver-SF plans byte-identical.
    val vecsW =
      if (n > splitMinRows(sess) && sizedPairExchange(sess))
        vecs.repartition(candShuffleParts(sess, n, bands, basis.length),
          col("doc_id"))
      else vecs
    val scal = vecsW
      .select(col("doc_id"), col("cnt"), col("cnt").cast("array<double>").as("v"))
      .select(col("doc_id"), col("cnt"), col("v"),
        DotProduct(col("v"), sLit).as("p"),
        DotProduct(col("v"), col("v")).as("ss"))
      .withColumn("proj", ProjectCentered(col("v"),
        sqrt(col("ss") - lit(2.0) * col("p") / lit(nd) + lit(qn2)), basis, bmu))

    val cand =
      if (exhaustive)
        vecs.select(col("doc_id").as("doc_id_1")).crossJoin(
          vecs.select(col("doc_id").as("doc_id_2")))
          .filter(col("doc_id_1") < col("doc_id_2"))
      else {
        // One row per (doc, band): the band signature, band-offset in
        // the high bits so bands never mix, plus the quantized prune
        // projection (2 bytes/dim through the shuffle AND the sort).
        val entries = scal.select(
          explode(LshBandKeys(col("cnt"), hmu, Seed, bands, bits)).as("key"),
          col("doc_id"), col("proj"))
        // Candidate enumeration is a sort-based streaming bucket
        // kernel: hash-shuffle on the bucket key, sort within
        // partitions, and stream each equal-key run through a tight
        // pairwise loop where every candidate pair pays only the
        // early-exit integer projected distance (exact int math —
        // sound to exit early because partial sums of squares only
        // grow; degenerate projections KEEP the pair). Only pairs
        // not provably below the correlation threshold ever become
        // rows. The generic-join formulation paid ~0.6 µs of operator
        // machinery per enumerated pair, 15× the prune math itself;
        // a collect_list + per-bucket-kernel formulation paid object
        // aggregation on millions of near-empty buckets. This is the
        // mapPartitions-as-last-resort case the design brief allows:
        // genuinely imperative per-partition pair enumeration.
        val spark = docs.sparkSession
        import spark.implicits._
        // integer prune threshold for the grid-quantized projections
        // (see CorrUtil.quantThreshold for the exactness derivation)
        val t2 = CorrUtil.quantThreshold(PruneBound, basis.length)
        val cap = bucketCap(spark)
        // Hot-bucket block split (see [[DefaultBucketCap]]): every row
        // becomes (key, cell, doc_id, side, proj) with side 2 = "this
        // cell enumerates a full triangle" (cold cells and the split's
        // diagonal (i,i) cells), side 0/1 = the A/B halves of a mixed
        // (i,j) cell. The explicit triangle tag — not an inferred
        // empty-B — means a mixed cell one of whose salt groups hashed
        // empty emits NOTHING instead of duplicating the diagonal
        // cell's triangle: every unordered bucket pair is enumerated by
        // exactly one cell even before the cross-band distinct. Below
        // the gate the single-pass plan emits the one cold cell
        // (-1, side 2) per row — no occupancy pass, no broadcast, the
        // driver-SF plan.
        val cellEntries =
          if (n <= splitMinRows(spark))
            entries.select(col("key"), lit(-1L).as("cell"), col("doc_id"),
              lit(2).as("side"), col("proj"))
          else {
            // keys-only occupancy pre-pass: over-cap keys are ≤
            // |entries|/cap rows by construction → broadcastable.
            // Reads vecsW so its matvec runs at the sized width too
            // (and the repartition exchange is shared via ReuseExchange
            // with the entry stage's scan).
            val occ = vecsW
              .select(explode(LshBandKeys(col("cnt"), hmu, Seed, bands, bits))
                .as("key"))
              .groupBy(col("key")).agg(count(lit(1)).as("occ"))
              .filter(col("occ") > cap)
            entries.join(broadcast(occ), Seq("key"), "left")
              .withColumn("g",
                ceil(col("occ").cast("double") / lit(cap.toDouble)).cast("int"))
              .withColumn("x",
                pmod(xxhash64(col("doc_id"), col("key")), col("g").cast("long"))
                  .cast("int"))
              .withColumn("cells", when(col("g").isNull,
                  array(struct(lit(-1L).as("cell"), lit(2).as("side"))))
                .otherwise(expr(
                  """transform(sequence(0, g - 1), j -> struct(
                    |  CAST(CASE WHEN j <= x THEN CAST(j AS BIGINT) * g + x
                    |            ELSE CAST(x AS BIGINT) * g + j END AS BIGINT)
                    |    AS cell,
                    |  CASE WHEN j < x THEN 1 WHEN j = x THEN 2
                    |       ELSE 0 END AS side))"""
                    .stripMargin)))
              .select(col("key"), explode(col("cells")).as("c"),
                col("doc_id"), col("proj"))
              .select(col("key"), col("c.cell").as("cell"), col("doc_id"),
                col("c.side").as("side"), col("proj"))
          }
        cellEntries.as[(Long, Long, Long, Int, Array[Short])]
          .repartition(candShuffleParts(spark, n, bands, basis.length),
            col("key"), col("cell"))
          .sortWithinPartitions(col("key"), col("cell"))
          .mapPartitions { it =>
            new Iterator[(Long, Long)] {
              // side-2 rows (cold cells and the split's diagonal (i,i)
              // cells) fill A and mark the run a TRIANGLE; sides 0/1
              // fill the A/B halves of a mixed (i,j) cell, which pairs
              // A×B only — and pairs NOTHING when either half is empty
              // (the diagonal cells own those pairs), so each unordered
              // bucket pair is enumerated by exactly one cell
              private val aIds = new scala.collection.mutable.ArrayBuffer[Long]()
              private val aPjs =
                new scala.collection.mutable.ArrayBuffer[Array[Short]]()
              private val bIds = new scala.collection.mutable.ArrayBuffer[Long]()
              private val bPjs =
                new scala.collection.mutable.ArrayBuffer[Array[Short]]()
              private var curKey = 0L
              private var curCell = 0L
              private var haveKey = false
              private var tri = false
              private var out: Iterator[(Long, Long)] = Iterator.empty
              // strip-mined shared kernel; false for acc <= t2 and for
              // the degenerate-doc empty-array sentinel (see
              // CorrUtil.projDistExceedsQ)
              private def exceeds(a: Array[Short], b: Array[Short]): Boolean =
                CorrUtil.projDistExceedsQ(a, b, t2)
              private def flush(): Iterator[(Long, Long)] = {
                val buf =
                  scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
                if (tri) {
                  val n = aIds.length
                  var i = 0
                  while (i < n) {
                    var j = i + 1
                    while (j < n) {
                      if (aIds(i) != aIds(j) && !exceeds(aPjs(i), aPjs(j)))
                        buf += ((math.min(aIds(i), aIds(j)),
                          math.max(aIds(i), aIds(j))))
                      j += 1
                    }
                    i += 1
                  }
                } else {
                  val na = aIds.length
                  val nb = bIds.length
                  var i = 0
                  while (i < na) {
                    var j = 0
                    while (j < nb) {
                      if (aIds(i) != bIds(j) && !exceeds(aPjs(i), bPjs(j)))
                        buf += ((math.min(aIds(i), bIds(j)),
                          math.max(aIds(i), bIds(j))))
                      j += 1
                    }
                    i += 1
                  }
                }
                aIds.clear(); aPjs.clear(); bIds.clear(); bPjs.clear()
                tri = false
                buf.iterator
              }
              private def advance(): Unit = {
                while (!out.hasNext && it.hasNext) {
                  val (k, c, id, side, pj) = it.next()
                  if (haveKey && (k != curKey || c != curCell)) out = flush()
                  curKey = k; curCell = c; haveKey = true
                  if (side == 1) { bIds += id; bPjs += pj }
                  else {
                    if (side == 2) tri = true
                    aIds += id; aPjs += pj
                  }
                }
                if (!out.hasNext && !it.hasNext &&
                    (aIds.nonEmpty || bIds.nonEmpty)) out = flush()
              }
              def hasNext: Boolean = { advance(); out.hasNext }
              def next(): (Long, Long) = { advance(); out.next() }
            }
          }
          .toDF("doc_id_1", "doc_id_2")
      }

    val candSized =
      if (!exhaustive && n > splitMinRows(sess) && sizedPairExchange(sess))
        cand.repartition(candShuffleParts(sess, n, bands, basis.length),
          col("doc_id_1"), col("doc_id_2"))
      else cand
    val candDistinct =
      if (exhaustive) candSized else candSized.distinct()

    // broadcast the per-doc vectors instead of shuffling 2 KB of
    // array per candidate pair — candidates stay in place and the
    // verify is a map-side hash probe + one codegen'd dot product.
    // At corpus scales where the vector table outgrows a broadcast,
    // set graft.dedup.broadcastVerifyArrays=false: two hash joins on
    // the doc ids; the candidate set is already the small side by then.
    // Both sides probe the SAME un-renamed frame through dataset
    // aliases (with the join-key not-null pre-applied once, so the
    // pushed-filter conjunct order matches): the two broadcast
    // subtrees are then canonically identical and ReuseExchange
    // builds the relation once instead of twice — the
    // jaccardVerifyBetween pattern (r12, guide §2.4).
    val bc: DataFrame => DataFrame =
      if (DedupOps.useBroadcastVerify(scal.sparkSession)) broadcast else identity
    val sv = scal.select(col("doc_id"), col("v"), col("p"), col("ss"))
      .filter(col("doc_id").isNotNull)
    val a = bc(sv).as("sv1")
    val b = bc(sv).as("sv2")
    def corrOf(p1: Column, p2: Column, v1: Column, v2: Column,
        ss1: Column, ss2: Column): Column =
      (DotProduct(v1, v2) - (p1 + p2) / lit(nd) + lit(qn2)) /
        (sqrt(ss1 - lit(2.0) * p1 / lit(nd) + lit(qn2)) *
          sqrt(ss2 - lit(2.0) * p2 / lit(nd) + lit(qn2)))
    candDistinct
      .join(a, col("doc_id_1") === col("sv1.doc_id"))
      .join(b, col("doc_id_2") === col("sv2.doc_id"))
      .select(col("doc_id_1"), col("doc_id_2"),
        corrOf(col("sv1.p"), col("sv2.p"), col("sv1.v"), col("sv2.v"),
          col("sv1.ss"), col("sv2.ss")).as("corr"))
      .filter(col("corr") >= CorrThreshold)
  }

  /** Exhaustive all-pairs centered correlation in DuckDB over the same
    * integer components — LSH recall on this corpus is exactly 1.0
    * (§3 of the scaladoc), so the blocked output equals this. */
  val q35Oracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
       |  FROM documents
       |), tb AS (
       |  SELECT doc_id,
       |    (strpos('0123456789abcdef', substring(md5(t), 2, 1)) - 1) * 16
       |    + strpos('0123456789abcdef', substring(md5(t), 3, 1)) - 1 AS bucket
       |  FROM toks WHERE t <> ''
       |), cnt AS (SELECT doc_id, bucket, count(*) AS c FROM tb GROUP BY 1, 2),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
       |bs AS (SELECT bucket, sum(c) AS s FROM cnt GROUP BY 1),
       |qq AS (SELECT CAST(sum(s * s) AS DOUBLE) AS q FROM bs),
       |scal AS (
       |  SELECT cnt.doc_id,
       |    CAST(sum(cnt.c * cnt.c) AS DOUBLE) AS ss,
       |    CAST(sum(cnt.c * bs.s) AS DOUBLE) AS p
       |  FROM cnt JOIN bs USING (bucket) GROUP BY 1
       |), dd AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(sum(a.c * b.c) AS DOUBLE) AS d
       |  FROM cnt a JOIN cnt b USING (bucket)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
       |), pairs AS (
       |  SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
       |    coalesce(dd.d, 0.0) AS d,
       |    coalesce(sx.p, 0.0) AS p1, coalesce(sx.ss, 0.0) AS ss1,
       |    coalesce(sy.p, 0.0) AS p2, coalesce(sy.ss, 0.0) AS ss2
       |  FROM documents x JOIN documents y ON x.doc_id < y.doc_id
       |  LEFT JOIN dd ON dd.d1 = x.doc_id AND dd.d2 = y.doc_id
       |  LEFT JOIN scal sx ON sx.doc_id = x.doc_id
       |  LEFT JOIN scal sy ON sy.doc_id = y.doc_id)
       |SELECT doc_id_1, doc_id_2,
       |  (d - (p1 + p2) / nd + q / (nd * nd)) /
       |  (sqrt(ss1 - 2 * p1 / nd + q / (nd * nd)) *
       |   sqrt(ss2 - 2 * p2 / nd + q / (nd * nd))) AS corr
       |FROM pairs, nn, qq
       |WHERE (d - (p1 + p2) / nd + q / (nd * nd)) /
       |      (sqrt(ss1 - 2 * p1 / nd + q / (nd * nd)) *
       |       sqrt(ss2 - 2 * p2 / nd + q / (nd * nd))) >= $CorrThreshold""".stripMargin
}
