package medbench

import java.io.File
import java.security.MessageDigest
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{SparkEntry, Tables}
import graft.engine.{NoaaPipelines, Registry, SilverPipelines}
import graft.streaming.Streams

/** Order-insensitive content digest of a DataFrame: row count plus the
  * sum of 64-bit row hashes. Two results digest equal iff they hold the
  * same multiset of rows (up to hash collisions). */
object Digest {
  private def hashable(c: org.apache.spark.sql.Column, t: DataType) =
    if (hasMap(t)) to_json(c) else c
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => hashable(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def files(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Option(dir.listFiles()).getOrElse(Array.empty).filter(_.isFile)
      .sortBy(_.getName).foreach { f =>
        md.update(f.getName.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    md.digest().map(b => f"$b%02x").mkString
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  def rows(d: String): Long = d.takeWhile(_ != ':').toLong

  def countFiles(f: File, p: File => Boolean): Int =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .map(countFiles(_, p)).sum
    else if (p(f)) 1 else 0
}

/** medallion_refresh: one op is a full refresh of the silver and NOAA
  * pipelines (17 datasets) through `Registry.materializeToDir` into a
  * fresh directory, over seeded source tables. */
final class RefreshWorkload(spark: SparkSession, dataDir: String, workDir: String)
    extends Workload {
  val name = "medallion_refresh"
  /** Consecutive refreshes in one run differ by up to 20%, so a run
    * reports the median of at least three. */
  val minOps = 3
  val countPrefix = 1
  private val reg = new Registry
  SilverPipelines.register(reg)
  NoaaPipelines.register(reg)
  val datasets: Seq[String] = reg.tableNames
  private def resolve(n: String): DataFrame =
    Tables.load(spark, dataDir, n.stripPrefix("src."))
  private var rowsPerRefresh = 0L
  private val files = scala.collection.mutable.Map.empty[Int, Int]
  private var lastOp = -1
  private def outDir(i: Int) = new File(workDir, s"refresh-$i")

  /** Dataset → the independent batch query it must equal. */
  private def direct(ds: String): DataFrame = ds match {
    case s if s.startsWith("stg.") => Tables.load(spark, dataDir, s.stripPrefix("stg."))
    case other => SparkEntry.queries(Map(
      "silver.dim_supplier" -> "q3_dim_supplier",
      "silver.dim_customer" -> "q4_dim_customer",
      "silver.fact_sales" -> "q5_fact_orders",
      "silver.dim_geo" -> "q38_dim_geo",
      "silver.dim_store" -> "q39_dim_store",
      "silver.fact_weather" -> "q2_weather_pivot",
      "noaa.stations" -> "q41_noaa_stations",
      "noaa.inventory" -> "q42_noaa_inventory",
      "noaa.timeseries" -> "q43_noaa_timeseries",
      "noaa.us_metrics" -> "q44_noaa_us_metrics")(other))(spark, dataDir)
  }

  def setup(): Unit = {
    val warm = new File(workDir, "refresh-warm")
    reg.materializeToDir(spark, resolve, warm.getAbsolutePath)
    Digest.deleteTree(warm)
  }

  def op(i: Int): Step = {
    if (i > 0) {
      files(i - 1) = Digest.countFiles(outDir(i - 1), _.getName.startsWith("part-"))
      if (i > 1) Digest.deleteTree(outDir(i - 2))
    }
    lastOp = i
    Step("refresh", () => {
      reg.materializeToDir(spark, resolve, outDir(i).getAbsolutePath)
      Nil
    })
  }

  def filesWritten(op: Int): Option[Int] = files.get(op)

  /** Reads every dataset of the last refresh back and compares it with
    * its direct batch query. The comparisons are independent small jobs,
    * so they run concurrently. */
  def check(): Seq[(String, String)] = {
    if (lastOp < 0) return Seq("*" -> "no refresh output")
    val dir = outDir(lastOp)
    files(lastOp) = Digest.countFiles(dir, _.getName.startsWith("part-"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val results = scala.concurrent.Await.result(scala.concurrent.Future.sequence(
        datasets.map { ds => scala.concurrent.Future {
          val path = new File(dir, ds.replace('.', '/')).getAbsolutePath
          (ds, Digest.of(spark.read.parquet(path)), Digest.of(direct(ds)))
        }}), scala.concurrent.duration.Duration.Inf)
      rowsPerRefresh = results.map(r => Digest.rows(r._2)).sum
      results.collect { case (ds, got, want) if got != want =>
        "*" -> s"$ds: read back $got, direct $want" }
    } finally pool.shutdown()
  }

  def opRows: Long = rowsPerRefresh

  lazy val inputBytes: Long =
    Option(new File(dataDir).listFiles()).getOrElse(Array.empty).map(_.length()).sum
  lazy val inputDigest: String = Digest.files(new File(dataDir))
  def info: String = Json.obj("datasets" -> datasets.size.toString,
    "rows_per_refresh" -> rowsPerRefresh.toString)
}

/** One input row of the silver stream: kind 0 is a click-stream event,
  * kind 1 a promotion shown to a user. Both arrive on one source so a
  * fed batch is exactly one append. */
final case class StreamRow(kind: Int, event_id: Long, user_id: Long,
    ts: Timestamp, event_type: String, value: Double, promo_code: String)

/** silver_stream: one op appends one seeded batch (10k events at scale
  * 0.1, a tenth of the sf0.1 events table) and runs
  * `processAllAvailable` on dedupWithinWatermark → intervalJoinLeft →
  * streamStaticLeft → parquet sink with a checkpoint. Event time moves
  * 10 minutes per batch (watermark delay 5 minutes); 5% of events are
  * redeliveries and 2% arrive 30+ minutes late. */
final class StreamWorkload(spark: SparkSession, seed: Long, scale: Double,
    workDir: String) extends Workload {
  import StreamWorkload._
  val name = "silver_stream"
  val batchEvents: Int = math.max(100, math.round(100000 * scale).toInt)
  val warmBatches = 3
  val minOps = 8
  val countPrefix = 4
  private val users = math.max(20, batchEvents / 4)
  private val promos = math.max(10, batchEvents / 5)
  private val dir = new File(workDir, "stream")
  private val sinkDir = new File(dir, "sink").getAbsolutePath
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._
  private val source = MemoryStream[StreamRow]
  private var query: StreamingQuery = _
  private var fed = 0
  private var prevTail: Seq[StreamRow] = Nil
  private var lastBatchId = -1L
  private val onTime = ArrayBuffer.empty[StreamRow]
  private val promoRows = ArrayBuffer.empty[StreamRow]

  /** Batch `i` of the seeded feed, and the rows the stream must keep. */
  def batch(i: Int, prev: Seq[StreamRow]): (Seq[StreamRow], Seq[StreamRow]) = {
    val r = new scala.util.Random(seed * 1000003L + i)
    val lo = T0 + i * StepMs
    val idBase = i.toLong * batchEvents * 2
    def ev(id: Long, t: Long) = StreamRow(0, id, r.nextInt(users).toLong,
      new Timestamp(t), Types(r.nextInt(Types.size)),
      math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0, null)
    val fresh = (0 until batchEvents).map(j => ev(idBase + j, lo + (r.nextDouble() * StepMs).toLong))
    val tail = prev.filter(_.ts.getTime >= lo - 2 * 60000L)
    val dups = (0 until batchEvents / 20).map { _ =>
      if (tail.nonEmpty && r.nextBoolean()) tail(r.nextInt(tail.size))
      else fresh(r.nextInt(fresh.size))
    }
    val late = if (i == 0) Nil else (0 until batchEvents / 50).map(j =>
      ev(idBase + batchEvents + j, lo - 30 * 60000L - (r.nextDouble() * 30 * 60000L).toLong))
    val pr = (0 until promos).map(_ => StreamRow(1, -1L, r.nextInt(users).toLong,
      new Timestamp(lo + (r.nextDouble() * StepMs).toLong), null, 0.0, s"P${r.nextInt(50)}"))
    val all = r.shuffle(fresh ++ dups ++ late ++ pr)
    (all, fresh ++ pr)
  }

  /** Generates the next batch and records what the stream must keep. */
  private def next(): Seq[StreamRow] = {
    val (rows, kept) = batch(fed, prevTail)
    prevTail = kept.filter(_.kind == 0)
    onTime ++= kept.filter(_.kind == 0)
    promoRows ++= kept.filter(_.kind == 1)
    fed += 1
    rows
  }

  /** Appends one batch and runs the stream until it is fully processed;
    * returns the micro-batch ids that ran. */
  private def feed(rows: Seq[StreamRow]): Seq[Long] = {
    source.addData(rows)
    query.processAllAvailable()
    val last = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val ids = (lastBatchId + 1 to last).toSeq
    lastBatchId = last
    ids
  }

  private def dim: DataFrame = spark.range(users.toLong).select(
    col("id").as("dim_user"),
    concat(lit("SEG"), pmod(xxhash64(col("id"), lit(seed)), lit(5L))).as("segment"))

  private def pipeline(events: DataFrame, promos: DataFrame): DataFrame =
    Streams.streamStaticLeft(
      Streams.intervalJoinLeft(events, promos,
        col("user_id") === col("promo_user"), "ts", "promo_ts",
        "2 minutes", "2 minutes"),
      dim, col("user_id") === col("dim_user"))
      .select("event_id", "user_id", "ts", "event_type", "value",
        "promo_code", "segment")

  private def split(src: DataFrame): (DataFrame, DataFrame) = (
    src.filter(col("kind") === 0)
      .select("event_id", "user_id", "ts", "event_type", "value"),
    src.filter(col("kind") === 1)
      .select(col("user_id").as("promo_user"), col("ts").as("promo_ts"), col("promo_code")))

  def setup(): Unit = {
    val (ev, pr) = split(source.toDF())
    query = pipeline(
      Streams.dedupWithinWatermark(ev, "ts", Seq("event_id"), "5 minutes"),
      Streams.watermarked(pr, "promo_ts", "5 minutes"))
      .writeStream.format("parquet")
      .option("checkpointLocation", new File(dir, "checkpoint").getAbsolutePath)
      .outputMode("append")
      .start(sinkDir)
    (0 until warmBatches).foreach(_ => feed(next()))
  }

  def op(i: Int): Step = {
    val rows = next()
    Step("batch", () => feed(rows))
  }

  def check(): Seq[(String, String)] = {
    // flush: one far-future event and promotion move the watermark past
    // every open interval, so every left row is emitted
    val far = new Timestamp(T0 + (fed + 1000) * StepMs)
    source.addData(Seq(StreamRow(0, -1L, -1L, far, "flush", 0.0, null),
      StreamRow(1, -1L, -1L, far, null, 0.0, "flush")))
    query.processAllAvailable()
    query.stop()
    val got = spark.read.parquet(sinkDir).filter(col("user_id") =!= -1L)
    val (ev, pr) = split((onTime ++ promoRows).toSeq.toDF())
    val twin = pipeline(ev.dropDuplicates("event_id"), pr)
    val g = Digest.of(got)
    val w = Digest.of(twin)
    if (g == w) Nil else Seq("*" -> s"sink $g, batch twin $w")
  }

  def opRows: Long = batchEvents.toLong

  /** Size and digest of the first 10 batches of the feed, as text. */
  private lazy val inputText: (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    var prev: Seq[StreamRow] = Nil
    (0 until 10).foreach { i =>
      val (rows, kept) = batch(i, prev)
      prev = kept.filter(_.kind == 0)
      rows.foreach { r =>
        val b = (r.copy(ts = null).toString + r.ts.getTime).getBytes("UTF-8")
        bytes += b.length
        md.update(b)
      }
    }
    (bytes, md.digest().map(b => f"$b%02x").mkString)
  }
  def inputBytes: Long = inputText._1
  def inputDigest: String = inputText._2
  def info: String = Json.obj("batch_events" -> batchEvents.toString,
    "batch_promotions" -> promos.toString, "users" -> users.toString,
    "batches_fed" -> fed.toString)
}

object StreamWorkload {
  val T0: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  val StepMs: Long = 10 * 60000L
  val Types: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
}
