package graft.fs

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.{GraftExtensions, TestSpark}
import graft.streaming.Streams
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

/** The session extension leaves the SparkContext's Hadoop conf without
  * per-key provenance, through Hadoop's reloads, so a serialized copy of
  * the conf gzips no default key's sources; the stream-stream join that
  * serializes one on every copy of its node is pinned here too. */
class NoProvenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def entries(conf: Configuration): Map[String, String] =
    conf.asScala.map(e => e.getKey -> e.getValue).toMap

  private def serialized(conf: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(conf))
    out.close()
    bytes.toByteArray
  }

  /** What `SerializableConfiguration` writes after its header. */
  private def written(conf: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    conf.write(new DataOutputStream(bytes))
    bytes.toByteArray
  }

  /** Hadoop gzips each source of each key's provenance on its own: one
    * gzip header (1f 8b 08) per source. Keys and values are text. */
  private def gzipStreams(conf: Configuration): Int = {
    val b = written(conf)
    (0 until b.length - 2).count(i => b(i) == 0x1f.toByte && b(i + 1) == 0x8b.toByte && b(i + 2) == 8)
  }

  private def deserialized(bytes: Array[Byte]): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[SerializableConfiguration].value

  /** A parquet write and one trigger of a checkpointed stream: the paths
    * that register Hadoop's other default resources and so reload every
    * live conf. */
  private def writeAndTrigger(): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("no-provenance")
    (0 until 10).toDF("id").write.parquet(dir.resolve("table").toString)
    val src = MemoryStream[Int]
    val q = src.toDF().writeStream.format("parquet")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .start(dir.resolve("sink").toString)
    try {
      src.addData(1, 2, 3)
      q.processAllAvailable()
    } finally q.stop()
  }

  test("no default key of the session's Hadoop conf has property sources") {
    spark.sharedState
    writeAndTrigger()
    val stock = new Configuration()
    val defaults = entries(stock).keySet -- spark.sessionState.conf.getAllConfs.keySet
    assert(defaults.size > 500)
    assert(defaults.forall(stock.getPropertySources(_) != null)) // Hadoop keeps them
    val conf = spark.sessionState.newHadoopConf()
    val sourced = defaults.filter(conf.getPropertySources(_) != null)
    assert(sourced.size == 0, s"keys with sources, e.g. ${sourced.take(3)}")
  }

  test("a SerializableConfiguration round trip keeps every value and gzips no default key's sources") {
    writeAndTrigger()
    val conf = spark.sessionState.newHadoopConf()
    assert(entries(deserialized(serialized(conf))) == entries(conf))
    val stock = new Configuration(false)
    entries(conf).foreach { case (k, v) => stock.set(k, v) }
    assert(gzipStreams(stock) >= entries(conf).size)
    // only the session's own keys, set on the copy, keep a source
    assert(gzipStreams(conf) <= spark.sessionState.conf.getAllConfs.size)
    assert(written(conf).length < written(stock).length)
  }

  test("applying the extension a second time leaves one shim in place") {
    val conf = spark.sparkContext.hadoopConfiguration
    val shim = NoProvenance.map(conf)
    assert(shim.exists(_.isInstanceOf[NoProvenance.Discarding]))
    new GraftExtensions().apply(new SparkSessionExtensions)
    assert(NoProvenance.map(conf).exists(_ eq shim.get))
  }

  test("each copy of a stream-stream join node broadcasts the Hadoop conf once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(minute: Int) = new Timestamp(minute * 60000L)
    val left = MemoryStream[(Int, Timestamp)]
    val right = MemoryStream[(Int, Timestamp)]
    val joined = Streams.intervalJoinLeft(
      Streams.watermarked(left.toDF().toDF("l_key", "l_time"), "l_time"),
      Streams.watermarked(right.toDF().toDF("r_key", "r_time"), "r_time"),
      col("l_key") === col("r_key"),
      leftTime = "l_time", rightTime = "r_time", lower = "1 minute", upper = "1 minute")
    val q = joined.writeStream.format("noop").start()
    val join = try {
      left.addData((1, ts(10)), (2, ts(10)))
      right.addData((1, ts(10)))
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        .collectFirst { case j: StreamingSymmetricHashJoinExec => j }.get
    } finally q.stop()
    val sc = spark.sparkContext
    val before = sc.broadcast(0)
    join.copy()
    val after = sc.broadcast(0)
    try assert(after.id - before.id == 2, "a copy made no broadcast, or several")
    finally { before.destroy(); after.destroy() }
  }
}
