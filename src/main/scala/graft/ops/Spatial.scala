package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Uniform-grid spatial blocking: the distributed radius self-join
  * (all point pairs within distance R) without an all-pairs product.
  *
  * The classic plan — `a CROSS JOIN b WHERE dist(a,b) <= R` — is the
  * shape the plan lint bans: quadratic in the corpus. Grid blocking
  * makes it a keyed hash join: snap each point to an R-sized cell,
  * replicate the probe side to its FORWARD half-neighborhood (the cell
  * itself plus the four lexicographically-greater adjacent cells), and
  * join probes to home points on the cell key. Any pair within R spans
  * at most one cell step per axis, and of the two directed copies of a
  * cross-cell pair exactly one direction is forward — so every
  * qualifying unordered pair is produced exactly once, with same-cell
  * pairs de-duplicated by id order instead. No `DISTINCT` pass, no
  * post-hoc dedup shuffle.
  *
  * At 100 TB this is the standard spatial-bucketing plan: one 5×
  * probe replication (narrow), one shuffle on the cell key, and
  * per-cell candidate work bounded by local density × R². A dense
  * city-block cell is ordinary hash-join skew — AQE skew splitting or
  * the q91 salting pattern applies unchanged, because the quadratic
  * work is confined inside single cells rather than global.
  *
  * Coordinates are integer 1e-4-degree units derived from customer
  * keys by the same modular pattern the NOAA station text embeds
  * (`Noaa.latStr`/`lonStr`, reference ghcnd-stations offsets
  * `noaa_bronze_layer.py`) — integer end to end, so squared distances
  * and the R² threshold compare bit-exactly in any engine.
  */
object Spatial {

  /** Radius in 1e-4-degree units (4°). Cell edge = R, so the
    * neighborhood property "pair within R ⇒ cell deltas ∈ {-1,0,1}"
    * holds by construction. 4° is the smallest radius at which the
    * modular coordinate lattice yields pairs at sf0.001 (the derived
    * points are NOT uniform — they sit on a sparse lattice, measured
    * 0 pairs under 2° there). */
  val RadiusE4 = 40000L

  /** Lattice scale factor for n points: the outer moduli grow as
    * ~sqrt(n), so the spatial EXTENT grows linearly with the corpus
    * and point density stays ~constant — the shape of a real geo
    * corpus, which adds territory, not stacked points. Calibrated so
    * every driver SF (n <= 15000 at sf0.1) gets s = 1, i.e. the
    * original 80 x 170 lattice and byte-identical results; n = 150k
    * points get s = 2 (extent x4 for 10x points). Both engines compute
    * s from count(*) with IEEE double sqrt + floor on identical inputs,
    * so the lattice is engine-agreed at any n. */
  def latticeScale(n: Long): Long =
    math.max(1L, math.floor(math.sqrt(n / 20000.0)).toLong)

  /** The scale CTE + derived-point CTE shared verbatim by the q134 and
    * q194 oracles — the Spark side derives the same (k, lat, lon) in
    * [[customerPoints]]; keeping one builder keeps the two engines'
    * lattices identical by construction. */
  private def oraclePointsCte: String =
    """sc AS (
      |  SELECT greatest(1, CAST(floor(sqrt(count(*) / CAST(20000 AS DOUBLE)))
      |                          AS BIGINT)) AS s
      |  FROM customer),
      |p AS (
      |  SELECT c_custkey AS k,
      |    (c_custkey % (80 * sc.s)) * 10000 + (c_custkey * 7 % 10000) AS lat,
      |    (c_custkey * 3 % (170 * sc.s)) * 10000 + (c_custkey * 13 % 10000) AS lon
      |  FROM customer, sc)""".stripMargin

  /** Synthetic integer station coordinates from customer keys (the
    * same derivation the q41 fixed-width station text carries, kept
    * in integer units instead of formatted strings), on the
    * [[latticeScale]]-scaled lattice. The count is one
    * metadata-cheap job; at cluster scale it is the same "one tiny
    * agg before the plan" pattern as the q65 grid bounds. */
  def customerPoints(customer: DataFrame): DataFrame = {
    val s = latticeScale(customer.count())
    customer.select(
      col("c_custkey").as("k"),
      ((col("c_custkey") % lit(80L * s)) * 10000 +
        (col("c_custkey") * 7 % 10000)).as("lat"),
      ((col("c_custkey") * 3 % lit(170L * s)) * 10000 +
        (col("c_custkey") * 13 % 10000)).as("lon"))
  }

  /** All unordered point pairs within Euclidean distance `r`, exactly
    * once each, from a (k: long, lat: long, lon: long) frame with
    * non-negative coordinates and unique keys. Output:
    * (a_k, b_k, dist2) with a_k < b_k. */
  def radiusPairs(points: DataFrame, r: Long): DataFrame = {
    val pts = points
      .withColumn("gx", expr(s"lat div ${r}L"))
      .withColumn("gy", expr(s"lon div ${r}L"))
    // forward half-neighborhood: (0,0) plus the four cells whose
    // (dx,dy) is lexicographically greater — covers each adjacent
    // unordered cell pair in exactly one direction
    val deltas = Seq((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
    val probes = pts
      .select(col("*"), explode(array(deltas.map { case (dx, dy) =>
        struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
      }: _*)).as("d"))
      .select(col("k").as("ak"), col("lat").as("alat"),
        col("lon").as("alon"), col("gx").as("agx"), col("gy").as("agy"),
        (col("gx") + col("d.dx")).as("cx"),
        (col("gy") + col("d.dy")).as("cy"))
    val homes = pts.select(col("k").as("bk"), col("lat").as("blat"),
      col("lon").as("blon"), col("gx").as("cx"), col("gy").as("cy"))
    val d2: Column =
      (col("alat") - col("blat")) * (col("alat") - col("blat")) +
        (col("alon") - col("blon")) * (col("alon") - col("blon"))
    val sameCell = col("agx") === col("cx") && col("agy") === col("cy")
    probes.join(homes, Seq("cx", "cy"))
      .filter((!sameCell || col("ak") < col("bk")) && d2 <= lit(r * r))
      .select(least(col("ak"), col("bk")).as("a_k"),
        greatest(col("ak"), col("bk")).as("b_k"),
        d2.cast("long").as("dist2"))
  }

  /** q134: station pairs within 4° — the grid-blocked radius
    * self-join over the customer-derived station coordinates. The
    * oracle is the exhaustive all-pairs filter, so a green hash is an
    * external proof the blocking loses no pair and duplicates none. */
  def q134SpatialJoin(spark: SparkSession, dir: String): DataFrame =
    radiusPairs(customerPoints(Tables.load(spark, dir, "customer")), RadiusE4)
      .select(col("a_k").as("a_custkey"), col("b_k").as("b_custkey"),
        col("dist2"))

  val q134Oracle: String = {
    val r2 = RadiusE4 * RadiusE4
    s"""WITH $oraclePointsCte
       |SELECT a.k AS a_custkey, b.k AS b_custkey,
       |  CAST((a.lat - b.lat) * (a.lat - b.lat) +
       |       (a.lon - b.lon) * (a.lon - b.lon) AS BIGINT) AS dist2
       |FROM p a JOIN p b ON a.k < b.k
       |WHERE (a.lat - b.lat) * (a.lat - b.lat) +
       |      (a.lon - b.lon) * (a.lon - b.lon) <= $r2""".stripMargin
  }

  /** DBSCAN core-point threshold: |N_eps(p)| >= MinPts, the
    * eps-neighborhood INCLUDING the point itself (Ester et al., KDD'96
    * convention). 6 at eps = [[RadiusE4]] splits sf0.01 into 981 core /
    * 519 non-core over 8 clusters; at sf0.001 the derived lattice is
    * too sparse for any core point, so everything is noise — a valid
    * (and oracle-confirmed) degenerate run. */
  val DbscanMinPts = 6

  /** q194: distributed DBSCAN over the customer-derived station
    * points — density clustering without an all-pairs product and
    * without the sequential seed-expansion of the textbook algorithm.
    *
    * The observation that makes DBSCAN embarrassingly parallel: the
    * clusters are exactly the connected components of the CORE-CORE
    * eps-neighbor graph, with border points (non-core within eps of a
    * core) attached afterwards and everything else noise. So the plan
    * is three reuses of machinery this engine already trusts:
    *
    *   1. eps-neighbor pairs from the grid-blocked radius self-join
    *      ([[radiusPairs]] — keyed hash join, no cross product);
    *   2. per-point neighbor counts (one symmetric explode + count)
    *      → core flags;
    *   3. star-contraction connected components over the core-core
    *      edge subset ([[DedupOps.connectedComponents]] — every stage
    *      hash-partitioned, O(log n) rounds).
    *
    * Border attachment is a keyed aggregate, not a traversal: each
    * mixed (core, non-core) eps-pair routes the core end's component
    * rep to the non-core end, min() picks the winner — deterministic
    * where the textbook's arrival-order assignment is not. Noise rows
    * carry the -1 sentinel rather than NULL so the integer column
    * round-trips engines without nullable-int dtype drift.
    *
    * At 100 TB: neighbor generation is bounded by local density ×
    * eps² per grid cell (skew = ordinary hash-join skew, AQE-split),
    * the CC loop never materializes a component in one task, and no
    * stage is quadratic in the corpus — the oracle's all-pairs +
    * recursive-closure plan is exactly what this plan avoids. */
  def q194Dbscan(spark: SparkSession, dir: String): DataFrame =
    dbscan(customerPoints(Tables.load(spark, dir, "customer")),
      RadiusE4, DbscanMinPts)
      .withColumnRenamed("k", "c_custkey")

  /** Candidate-mass gate for [[dbscan]]'s core-graph sparsifier: when
    * the within-cell candidate mass Σ occ² (one n-scale aggregate, an
    * upper proxy for the eps-pair count) is below this, the dense
    * materialized plan wins — its CC input keeps the eps-graph's
    * minimal diameter, and at low mass the contraction's wall is
    * round LATENCY, not edge volume (measured in r8: sparsifying a
    * 420k-pair corpus was SLOWER — star detours add rounds that cost
    * fixed stage latency). Above the gate the volume term dominates —
    * measured at the 30× sighting: 54.8M eps-pairs over 450k points
    * (avg degree ~244), where materializing, flag-joining and
    * star-contracting the pair graph WAS the query (82 s build +
    * 43 s first CC round of 170 s) — and the sparsifier trades a few
    * ~1 s extra rounds for a ~100× smaller CC input. Conf override
    * `graft.spatial.sparsifyMinPairs` (specs force it low). */
  val SparsifyMinPairs = 5000000L

  /** The distributed DBSCAN pipeline over a (k, lat, lon) frame.
    * Output: (k, role ∈ core|border|noise, cluster_rep — component
    * min for members, -1 for noise — and cluster_size — member count
    * core+border, 0 for noise).
    *
    * Above [[SparsifyMinPairs]] candidate mass, the core-core CC input
    * is SPARSIFIED with exact component equivalence (so the output is
    * byte-identical to the dense plan at any scale):
    *   - half-eps cells (edge c = ⌊eps/√2⌋, so any two in-cell points
    *     are provably within eps): each cell's core members connect to
    *     the cell-min member — a star of TRUE eps-edges;
    *   - for each unordered pair of nearby cells, ONE representative
    *     qualifying core-core pair (the lexicographic min) — any one
    *     edge connects the two star-connected cell groups.
    *   Proof: every sparsified edge is a true eps-pair (⟹ components
    *   refine); conversely a dense edge (a,b) is same-cell (a–min–b
    *   via the star) or cross-cell (its cell pair has a
    *   representative edge, and both endpoints reach their cell mins
    *   by stars) — so connectivity, components, and the min-rep
    *   labels all coincide. Degrees (the core criterion) always come
    *   from the full enumeration, as one map-side-combined count —
    *   never from materialized pair rows; border attachment
    *   enumerates only (non-core × core-cell) candidates, which is
    *   empty when every point is core. */
  def dbscan(pts0: DataFrame, eps: Long, minPts: Int): DataFrame = {
    val spark = pts0.sparkSession
    val pts = pts0.persist()
    val minSparsify = spark.conf.getOption("graft.spatial.sparsifyMinPairs")
      .map(_.toLong).getOrElse(SparsifyMinPairs)
    // n-scale occupancy proxy: Σ occ² over full-eps cells (≥ true
    // within-cell pair count; deterministic, so the plan choice — and
    // with it the identical output — is reproducible at every scale)
    val candMass = pts
      .groupBy(expr(s"lat div ${eps}L"), expr(s"lon div ${eps}L"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * col("c")), lit(0L))).head().getLong(0)

    // The sparsifier needs a half-eps cell of width >= 1 (integer
    // coordinates): eps < 2 makes c = floor(eps/sqrt(2)) = 0, and a
    // zero cell width would collapse every core point into one star
    // cell — false eps-edges, wrong clusters. Degenerate radii take
    // the dense plan, whose correctness has no cell-width precondition.
    val (flags, coreEdges, borderPairs, releaseAfterCc) =
      if (candMass < minSparsify || eps < 2) {
        // dense-materialized plan: the r9 shape, byte-level, for the
        // latency-bound regime (see SparsifyMinPairs)
        val pairs = radiusPairs(pts, eps).persist()
        val sym = pairs.select(explode(array(
            struct(col("a_k").as("k"), col("b_k").as("n")),
            struct(col("b_k").as("k"), col("a_k").as("n")))).as("p"))
          .select(col("p.k").as("k"))
        val deg = sym.groupBy(col("k")).agg(count(lit(1)).as("nb"))
        val flags = pts.select(col("k")).join(deg, Seq("k"), "left")
          .select(col("k"),
            (coalesce(col("nb"), lit(0L)) + lit(1L) >= lit(minPts.toLong))
              .as("is_core"))
          .persist()
        val tagged = pairs
          .join(flags.select(col("k").as("a_k"), col("is_core").as("ac")), "a_k")
          .join(flags.select(col("k").as("b_k"), col("is_core").as("bc")), "b_k")
          .persist()
        pairs.unpersist(false)
        val coreEdges = tagged.filter(col("ac") && col("bc"))
          .select(col("a_k").as("u"), col("b_k").as("v"))
        val borderPairs = tagged.filter(col("ac") =!= col("bc"))
          .select(when(col("ac"), col("b_k")).otherwise(col("a_k")).as("k"),
            when(col("ac"), col("a_k")).otherwise(col("b_k")).as("ck"))
        // tagged stays persisted: borderPairs reads it lazily in the
        // returned plan (released by the per-query session harness)
        (flags, coreEdges, borderPairs, () => ())
      } else {
        // sparsified plan: degrees by aggregate, CC input ~n-scale
        val deg = radiusPairs(pts, eps)
          .select(explode(array(col("a_k"), col("b_k"))).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("nb"))
        val flags = pts.select(col("k")).join(deg, Seq("k"), "left")
          .select(col("k"),
            (coalesce(col("nb"), lit(0L)) + lit(1L) >= lit(minPts.toLong))
              .as("is_core"))
          .persist()
        val c = math.floor(eps / math.sqrt(2.0)).toLong
        require(c >= 1, s"half-eps cell width must be positive (eps=$eps)")
        assert(2 * c * c <= eps * eps, "half-eps cell must fit the radius")
        val corePtsC = pts.join(flags.filter(col("is_core")).select("k"), "k")
          .withColumn("gx", expr(s"lat div ${c}L"))
          .withColumn("gy", expr(s"lon div ${c}L"))
          .persist()
        val wCell = Window.partitionBy(col("gx"), col("gy"))
        val starEdges = corePtsC
          .withColumn("m", min(col("k")).over(wCell))
          .filter(col("k") =!= col("m"))
          .select(col("m").as("u"), col("k").as("v"))
        // forward half of the 5×5 half-eps-cell neighborhood (a pair
        // within eps spans at most 2 half-eps cells per axis); (0,0)
        // is absent on purpose — same-cell pairs are star-connected
        val fwd = Seq((0, 1), (0, 2), (1, -2), (1, -1), (1, 0), (1, 1),
          (1, 2), (2, -2), (2, -1), (2, 0), (2, 1), (2, 2))
        val probes = corePtsC
          .select(col("k").as("ak"), col("lat").as("alat"),
            col("lon").as("alon"), col("gx").as("agx"), col("gy").as("agy"))
          .select(col("*"), explode(array(fwd.map { case (dx, dy) =>
            struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
          }: _*)).as("d"))
          .select(col("ak"), col("alat"), col("alon"),
            col("agx"), col("agy"),
            (col("agx") + col("d.dx")).as("cx"),
            (col("agy") + col("d.dy")).as("cy"))
        val homes = corePtsC.select(col("k").as("bk"), col("lat").as("blat"),
          col("lon").as("blon"), col("gx").as("cx"), col("gy").as("cy"))
        val d2: Column =
          (col("alat") - col("blat")) * (col("alat") - col("blat")) +
            (col("alon") - col("blon")) * (col("alon") - col("blon"))
        val repEdges = probes.join(homes, Seq("cx", "cy"))
          .filter(d2 <= lit(eps * eps))
          .groupBy(col("agx"), col("agy"), col("cx"), col("cy"))
          .agg(min(struct(least(col("ak"), col("bk")).as("u"),
            greatest(col("ak"), col("bk")).as("v"))).as("m"))
          .select(col("m.u").as("u"), col("m.v").as("v"))
        val coreEdges = starEdges.unionByName(repEdges)
        // border candidates: non-core probes × core homes over the
        // FULL 3×3 full-eps neighborhood (the pairing is asymmetric,
        // so no forward-half trick); volume ~ |non-core| × occupancy
        val ncProbes = pts.join(flags.filter(!col("is_core")).select("k"), "k")
          .withColumn("gx", expr(s"lat div ${eps}L"))
          .withColumn("gy", expr(s"lon div ${eps}L"))
          .select(col("k").as("nk"), col("lat").as("alat"),
            col("lon").as("alon"), col("gx").as("agx"), col("gy").as("agy"))
          .select(col("*"), explode(array((-1 to 1).flatMap(dx =>
            (-1 to 1).map(dy => struct(lit(dx.toLong).as("dx"),
              lit(dy.toLong).as("dy")))): _*)).as("d"))
          .select(col("nk"), col("alat"), col("alon"),
            (col("agx") + col("d.dx")).as("cx"),
            (col("agy") + col("d.dy")).as("cy"))
        val coreHomes = pts.join(flags.filter(col("is_core")).select("k"), "k")
          .select(col("k").as("bk"), col("lat").as("blat"),
            col("lon").as("blon"),
            expr(s"lat div ${eps}L").as("cx"), expr(s"lon div ${eps}L").as("cy"))
        val borderPairs = ncProbes.join(coreHomes, Seq("cx", "cy"))
          .filter(d2 <= lit(eps * eps))
          .select(col("nk").as("k"), col("bk").as("ck"))
        // corePtsC's only consumers are the coreEdges inputs, which
        // connectedComponents materializes eagerly — releasable then
        (flags, coreEdges, borderPairs, () => corePtsC.unpersist(false))
      }

    // connectedComponents localCheckpoints its labels eagerly, so
    // coreEdges — and with it the sparsified plan's corePtsC cache —
    // is fully consumed once it returns.
    val ccLabels = DedupOps.connectedComponents(coreEdges)
    releaseAfterCc()
    // isolated cores (>= MinPts neighbors, none of them core) label themselves
    val coreRep = flags.filter(col("is_core")).select(col("k"))
      .join(ccLabels.select(col("node").as("k"), col("rep")), Seq("k"), "left")
      .select(col("k"), coalesce(col("rep"), col("k")).as("rep"))
      .persist()
    val borderRep = borderPairs
      .join(coreRep.select(col("k").as("ck2"), col("rep")),
        col("ck") === col("ck2"))
      .groupBy(col("k")).agg(min(col("rep")).as("rep"))
    val assigned = coreRep.select(col("k"), col("rep"), lit("core").as("role"))
      .unionAll(borderRep.select(col("k"), col("rep"), lit("border").as("role")))
    val sizes = assigned.groupBy(col("rep"))
      .agg(count(lit(1)).as("cluster_size"))
    val members = assigned.join(sizes, "rep")
      .select(col("k"), col("role"),
        col("rep").as("cluster_rep"), col("cluster_size"))
    val noise = pts.select(col("k"))
      .join(assigned.select(col("k").as("k2")), col("k") === col("k2"),
        "left_anti")
      .select(col("k"), lit("noise").as("role"),
        lit(-1L).as("cluster_rep"), lit(0L).as("cluster_size"))
    members.unionAll(noise)
  }

  /** How many unrolled hook+jump rounds the oracle's connected
    * components run. Min-label propagation advances the component-min
    * frontier ONE eps-hop per hook round (the jump floods a region
    * only once its rep hub converts), so the bound is the largest
    * cluster's hop diameter: measured 36 rounds to fixpoint at sf0.01
    * (sparse lattice → long chains), 20 at sf0.1 (denser → shorter);
    * 48 carries a 33 % margin over the worst observed. The oracle
    * asserts its own convergence (a `conv` CTE errors loudly if the
    * last two rounds differ), so regenerated test data with a longer
    * propagation diameter fails with the real cause instead of a
    * confusing Spark-side hash mismatch. */
  val OracleCcRounds = 48

  /** The q194 DuckDB oracle, grid-blocked like the Spark side (the
    * q134 discipline): candidate pairs come from a 3×3-cell equi-join
    * on ⌊coord/eps⌋ cells — NOT the textbook all-pairs product, which
    * DNFs at sf0.1 — and connected components run as [[OracleCcRounds]]
    * unrolled hook+jump rounds (min over eps-neighbors, then one
    * pointer jump rep := rep(rep)), the q56 unrolled-CTE replay
    * discipline standing in for the recursive closure whose pair set
    * is quadratic in component size. `AS MATERIALIZED` pins every
    * multiply-referenced CTE: DuckDB 1.0 inlines CTEs per reference,
    * which would re-expand the whole chain exponentially. */
  val q194Oracle: String = {
    val r2 = RadiusE4 * RadiusE4
    val rounds = (1 to OracleCcRounds).map { i =>
      s"""h$i AS MATERIALIZED (
         |  SELECT l.k, min(least(l.rep, coalesce(n.rep, l.rep))) AS rep
         |  FROM l${i - 1} l LEFT JOIN ce ON ce.ak = l.k
         |  LEFT JOIN l${i - 1} n ON n.k = ce.bk
         |  GROUP BY l.k),
         |l$i AS MATERIALIZED (
         |  SELECT a.k, b.rep FROM h$i a JOIN h$i b ON b.k = a.rep)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $oraclePointsCte,
       |g AS MATERIALIZED (
       |  SELECT k, lat, lon, lat // $RadiusE4 AS cx, lon // $RadiusE4 AS cy
       |  FROM p),
       |off(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
       |                       (1,-1),(1,0),(1,1)),
       |probe AS (
       |  SELECT k, lat, lon, cx + dx AS cx, cy + dy AS cy
       |  FROM g CROSS JOIN off),
       |e AS MATERIALIZED (
       |  SELECT a.k AS ak, b.k AS bk
       |  FROM probe a JOIN g b ON a.cx = b.cx AND a.cy = b.cy
       |  WHERE a.k <> b.k
       |    AND (a.lat - b.lat) * (a.lat - b.lat) +
       |        (a.lon - b.lon) * (a.lon - b.lon) <= $r2),
       |deg AS (
       |  SELECT p.k, count(e.bk) AS nb FROM p
       |  LEFT JOIN e ON e.ak = p.k GROUP BY p.k),
       |core AS MATERIALIZED (SELECT k FROM deg WHERE nb + 1 >= $DbscanMinPts),
       |ce AS MATERIALIZED (
       |  SELECT ak, bk FROM e
       |  WHERE ak IN (SELECT k FROM core) AND bk IN (SELECT k FROM core)),
       |l0 AS MATERIALIZED (SELECT k, k AS rep FROM core),
       |$rounds,
       |conv AS (
       |  SELECT CASE WHEN (SELECT count(*)
       |                    FROM l$OracleCcRounds a
       |                    JOIN l${OracleCcRounds - 1} b ON b.k = a.k
       |                    WHERE a.rep <> b.rep) > 0
       |         THEN error('q194 oracle: CC not converged at $OracleCcRounds rounds — raise OracleCcRounds')
       |         ELSE 1 END AS ok),
       |corerep AS (SELECT l.k, l.rep FROM l$OracleCcRounds l CROSS JOIN conv),
       |borderrep AS (
       |  SELECT e.ak AS k, min(cr.rep) AS rep
       |  FROM e JOIN corerep cr ON cr.k = e.bk
       |  WHERE e.ak NOT IN (SELECT k FROM core)
       |  GROUP BY e.ak),
       |assigned AS (
       |  SELECT k, rep, 'core' AS role FROM corerep
       |  UNION ALL
       |  SELECT k, rep, 'border' AS role FROM borderrep),
       |sizes AS (SELECT rep, count(*) AS n FROM assigned GROUP BY rep)
       |SELECT a.k AS c_custkey, a.role,
       |  CAST(a.rep AS BIGINT) AS cluster_rep,
       |  CAST(s.n AS BIGINT) AS cluster_size
       |FROM assigned a JOIN sizes s ON s.rep = a.rep
       |UNION ALL
       |SELECT p.k AS c_custkey, 'noise' AS role,
       |  CAST(-1 AS BIGINT) AS cluster_rep, CAST(0 AS BIGINT) AS cluster_size
       |FROM p
       |WHERE p.k NOT IN (SELECT k FROM assigned)""".stripMargin
  }
}
