package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming combinators reproducing the reference's streaming operator
  * surface (SURVEY.md §2.7): watermarks, stream-static dim lookups,
  * stream-stream interval joins with left-outer null emission, and a
  * CDF-modeled change stream.
  *
  * State-bounding is the whole game at scale (the reference's only
  * tuning, BASELINE.md): every stream-stream join here requires both
  * watermarks and a time band so Spark can derive state eviction
  * (`StreamingJoinHelper.getStateValueWatermark`) — unbounded join state
  * is the one thing that cannot survive a 100 TB stream.
  */
object Streams {

  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch streaming state to the RocksDB provider (what the
    * reference's managed runtime runs under its stateful operators,
    * SURVEY.md §4.3). The default HDFS-backed provider holds every
    * state row on the executor HEAP — fine at test scale, a 100 TB
    * stream's join/session state must spill to native storage instead.
    * Session-wide conf, read at streaming-query START: set it before
    * `.start()`; running queries keep their provider. Returns the
    * previous value so callers can restore it. */
  def useRocksDbStateStore(spark: org.apache.spark.sql.SparkSession): Option[String] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, RocksDbProvider)
    prev
  }

  /** `withWatermark` wrapper (silver_layer_person.py:15 et al.). */
  def watermarked(df: DataFrame, eventCol: String, delay: String = "5 minutes"): DataFrame =
    df.withWatermark(eventCol, delay)

  /** Stream-static LEFT equi-join chain — the dim-lookup asymmetry the
    * reference encodes deliberately ("Lookups estáticos para evitar
    * errores de Stream-Stream Join", silver_layer_production.py:15).
    * The static side is broadcast per micro-batch; no join state at all. */
  def streamStaticLeft(stream: DataFrame, dim: DataFrame, cond: Column): DataFrame =
    stream.join(broadcast(dim), cond, "left")

  /** Stream-stream LEFT interval join (sales_aw_silver_layer_dim_store
    * .py:24-34): equi key + [lowerBound, upperBound] band on the two
    * event-time columns. Both inputs MUST be watermarked; null-padded
    * left rows emit once the watermark passes the band. Spark's
    * `StreamingSymmetricHashJoinExec` broadcasts the Hadoop conf on every
    * copy of the node, several per trigger; [[graft.fs.NoProvenance]]
    * keeps that broadcast cheap. */
  def intervalJoinLeft(
      left: DataFrame, right: DataFrame,
      equiCond: Column,
      leftTime: String, rightTime: String,
      lower: String, upper: String): DataFrame = {
    val band = expr(s"$rightTime >= $leftTime - interval $lower") &&
      expr(s"$rightTime <= $leftTime + interval $upper")
    left.join(right, equiCond && band, "left_outer")
  }

  /** FULL OUTER stream-stream interval join — both sides null-pad
    * their unmatched rows once the watermark closes the band (the
    * reconciliation shape: two feeds that SHOULD match, where a row
    * missing on either side is itself the signal). Same state-eviction
    * math as the left variant: the band plus both watermarks bound the
    * join state on BOTH sides. */
  def intervalJoinFull(
      left: DataFrame, right: DataFrame,
      equiCond: Column,
      leftTime: String, rightTime: String,
      lower: String, upper: String): DataFrame = {
    val band = expr(s"$rightTime >= $leftTime - interval $lower") &&
      expr(s"$rightTime <= $leftTime + interval $upper")
    left.join(right, equiCond && band, "full_outer")
  }

  /** Change-data-feed model for a Parquet-only engine (SURVEY.md §7.3):
    * an append stream carrying (_change_type, _commit_version,
    * _commit_timestamp) columns, as Delta CDF would emit. Applying it
    * means dropping deletes and pre-images — inserts/update_postimages
    * flow to consumers (the dim_customer CDF join reads exactly these,
    * sales_aw_silver_layer_dim_customer.py:10-16). */
  def applyChangeFeed(changes: DataFrame): DataFrame =
    changes.filter(col("_change_type").isin("insert", "update_postimage"))

  /** SCD-1 apply (batch form): materialize the CURRENT state of a
    * dimension from its full change feed — what a Delta `MERGE` driven
    * by CDF computes. Pre-images never apply; each key resolves to its
    * highest `_commit_version` change (out-of-order arrivals cannot
    * regress the row); a key whose latest change is a delete is
    * suppressed entirely. One hash-shuffle on the key — the same plan
    * class as the exact-dedup digest groupBy, safe at any corpus size.
    *
    * Determinism contract: within one (key, version) a change feed may
    * carry at most one change per `_change_type` (what Delta CDF emits
    * per commit). Equal versions resolve by change-type rank —
    * delete > update_postimage > insert — the same rule
    * [[Scd1.currentState]] applies, so batch and streaming agree even
    * on feeds that compact an insert and its same-commit delete.
    * Streaming form: [[Scd1.currentState]]. */
  def scd1Apply(changes: DataFrame, keyCols: Seq[String],
      versionCol: String = "_commit_version"): DataFrame = {
    val rank = when(col("_change_type") === "delete", 2)
      .when(col("_change_type") === "update_postimage", 1).otherwise(0)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, rank.desc)
    changes
      .filter(col("_change_type") =!= "update_preimage")
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1 && col("_change_type") =!= "delete")
      .drop("_rk")
  }

  /** CDF-fed stream-stream inner equi-join (dim_customer shape). The
    * reference omits watermarks here (unbounded state); we require them
    * — semantics-preserving for on-time data, mandatory at scale. */
  def cdfInnerJoin(
      leftChanges: DataFrame, rightChanges: DataFrame,
      cond: Column, leftTime: String, rightTime: String,
      delay: String = "5 minutes"): DataFrame =
    applyChangeFeed(leftChanges).withWatermark(leftTime, delay)
      .join(applyChangeFeed(rightChanges).withWatermark(rightTime, delay), cond, "inner")

  /** Exactly-once ingestion dedup: drop redelivered rows by business
    * key, holding each key's dedup state only within the watermark —
    * `dropDuplicatesWithinWatermark`, the at-least-once → effectively-
    * once bridge every streaming source (Kafka redeliveries, retried
    * file commits) needs in front of the bronze layer. Plain
    * `dropDuplicates` on a stream keeps EVERY key forever (state =
    * distinct keys seen — unbounded, the q17-on-a-stream trap);
    * the within-watermark form evicts a key's state once the watermark
    * passes its event time, so state is a sliding window over keys,
    * exactly the interval-join bounding argument applied to dedup.
    *
    * Batch twin for equivalence tests: `dropDuplicates(keys)` over the
    * same rows (any redelivery inside the watermark dedupes
    * identically; duplicates that arrive AFTER the watermark passes
    * are late data, dropped by the watermark itself on the stream). */
  def dedupWithinWatermark(stream: DataFrame, eventCol: String,
      keys: Seq[String], delay: String = "5 minutes"): DataFrame =
    stream.withWatermark(eventCol, delay)
      .dropDuplicatesWithinWatermark(keys)
}
