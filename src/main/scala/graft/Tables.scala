package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loaders over the driver-generated parquet directories
  * (see /root/repo/TESTDATA.md). Analog of the reference's Unity Catalog
  * reads (`spark.read.table(...)`, e.g. Geo_silver_layer_common.py:10-11):
  * a table name resolves to self-describing columnar storage, so scans get
  * column pruning + predicate pushdown from Catalyst for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet's `ts` physical type varies by generator version:
    // TIMESTAMP(NANOS) (Spark rejects by default → read nanos as long)
    // or TIMESTAMP_MICROS without isAdjustedToUTC (Spark reads as
    // TIMESTAMP_NTZ, which unix_millis/window etc. reject). Normalize
    // both to Spark's native microsecond TimestampType — sessions run
    // with spark.sql.session.timeZone=UTC, so the NTZ→TZ cast keeps the
    // stored wall-clock == the epoch instant every oracle sees.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TZ cast below is only wall-clock-preserving under UTC;
    // enforce the invariant where it is relied upon rather than trusting
    // every entry point to have set it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case _ => df
    } else df
  }

  /** Adaptive scan-spread for expensive per-row projections — the
    * "one huge unsplittable file" remedy (optimization guide §2.5:
    * repartition immediately after the read). The bench corpora are
    * single-file, single-ROW-GROUP parquet, so a scan is ONE effective
    * task regardless of split confs, and a heavy projection chained to
    * it (md5 digests, shingle hashing, regex scoring) runs on one core
    * while the rest of local[32] idles — measured as 0.7-1.8 s
    * single-task stages dominating q107/q111/q119 at sf0.1 (r12).
    * When the scan plans fewer partitions than the session default,
    * round-robin repartition to the default; on any properly laid-out
    * input (≥ cores splits — every real deployment, and the sighting
    * corpora's multi-file tables) the guard is false and NO exchange
    * is added, so cluster-scale plans are unchanged. Apply only where
    * the per-row work dwarfs one small-table exchange — not on plain
    * scan+aggregate paths, where the exchange would cost more than the
    * single-core map side (the q88 barrier lesson, exchange flavor). */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Registers every table as a temp view so `spark.sql` / `expr` can
    * reference them by name — the in-engine analog of a catalog schema. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    register(spark, dir, names: _*)

  /** Registers only the named tables. A real catalog resolves table
    * metadata lazily at name-lookup; eagerly loading all ten tables
    * costs one schema-read job (~45 ms locally) per table the query
    * never mentions — measured as the bulk of q34's local wall. */
  def register(spark: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
