package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-recovery contract: a streaming query stopped mid-run and
  * restarted from its checkpoint produces FILE-SINK output identical to
  * an uninterrupted run, with its operator state reloaded — the
  * property the exactly-once dedup and the watermarked-join eviction
  * claims rest on. The spec makes the state reload semantically
  * OBSERVABLE, not just metric-visible: a duplicate key whose first
  * arrival was pre-kill arrives again post-restart and must still be
  * suppressed (lost state would re-emit it), and a buffered join row
  * from before the kill must match a partner arriving after it.
  * Reading a file sink's directory honors its `_spark_metadata` commit
  * log, so a killed attempt's half-written files are invisible — the
  * exactly-once mechanism itself is what the equality exercises.
  * StateBoundSpec proves the companion property: state stays bounded
  * as event time advances over many batches. */
class StreamRecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-recov-$tag").toString

  /** Runs `out` over `feeds` batch slices into a parquet sink; if
    * `killAfter` is set, stops after that batch commits (or, with
    * `during = true`, right after its data lands, without waiting) and
    * restarts from the checkpoint. Returns the sink read-back. */
  private def drive(out: DataFrame, feeds: Seq[() => Unit],
      killAfter: Option[Int], during: Boolean = false): DataFrame = {
    val sink = tmp("sink")
    val ckpt = tmp("ckpt")
    def start() = out.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    var q = start()
    feeds.zipWithIndex.foreach { case (feed, i) =>
      feed()
      if (killAfter.contains(i) && during) {
        q.stop(); q.awaitTermination()
        q = start()
        q.processAllAvailable() // the killed batch re-executes from the WAL
      } else {
        q.processAllAvailable()
        if (killAfter.contains(i)) {
          q.stop(); q.awaitTermination()
          q = start()
        }
      }
    }
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    spark.read.parquet(sink)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---- exactly-once dedup: suppression must survive the restart ----

  private def dedupRun(killAfter: Option[Int], during: Boolean = false): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = Streams.dedupWithinWatermark(
      in.toDF().toDF("event_id", "ts"), "ts", Seq("event_id"), "30 minutes")
    val feeds: Seq[() => Unit] = Seq(
      () => in.addData((1L, ts(0)), (2L, ts(1)), (3L, ts(2))),
      () => in.addData((4L, ts(3)), (5L, ts(3))),
      // post-kill: id 1 re-arrives INSIDE the horizon — only reloaded
      // state can know to suppress it; id 6 is new
      () => in.addData((1L, ts(4)), (6L, ts(5))),
      () => in.addData((2L, ts(6)), (7L, ts(7))))
    drive(out, feeds, killAfter, during)
  }

  test("dedup: restart after a committed batch — output identical, dups still suppressed") {
    val base = rowsOf(dedupRun(None))
    val killed = rowsOf(dedupRun(Some(1)))
    assert(killed == base)
    assert(base.size == 7, s"each key exactly once, got: $base")
  }

  test("dedup: hard kill mid-batch — WAL re-execution emits no duplicates") {
    val base = rowsOf(dedupRun(None))
    val killed = rowsOf(dedupRun(Some(2), during = true))
    assert(killed == base)
  }

  // ---- watermarked interval join: buffered rows survive the kill ----

  private def joinRun(killAfter: Option[Int]): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Timestamp, String)]
    val right = MemoryStream[(String, Timestamp, String)]
    val l = Streams.watermarked(
      left.toDF().toDF("id", "l_time", "key_fk"), "l_time", "5 minutes")
    val r = Streams.watermarked(
      right.toDF().toDF("key", "r_time", "tag"), "r_time", "5 minutes")
    val joined = Streams.intervalJoinLeft(l, r,
      col("key_fk") === col("key"),
      leftTime = "l_time", rightTime = "r_time",
      lower = "2 minutes", upper = "2 minutes")
    val feeds: Seq[() => Unit] = Seq(
      // buffered pre-kill: A's left row waits for a partner; B matches
      // immediately; C will never match (null-pads at watermark)
      () => { left.addData((10L, ts(0), "A"), (11L, ts(0), "B"), (12L, ts(0), "C"))
              right.addData(("B", ts(1), "b0")) },
      // post-kill: A's partner arrives inside the band — only a
      // reloaded join buffer can produce this match
      () => right.addData(("A", ts(1), "a0")),
      // advance both watermarks far enough to close C's band and
      // emit its null-padded row
      () => { left.addData((13L, ts(20), "D"))
              right.addData(("D", ts(20), "d0")) },
      () => { left.addData((14L, ts(40), "E"))
              right.addData(("E", ts(40), "e0")) })
    drive(joined, feeds, killAfter)
  }

  test("interval join: restart mid-stream — buffered match and null emission identical") {
    val base = rowsOf(joinRun(None))
    val killed = rowsOf(joinRun(Some(0)))
    assert(killed == base)
    assert(base.exists(r => r.contains("10,") && r.contains("a0")),
      s"the pre-kill buffered row must match its post-restart partner: $base")
    assert(base.exists(r => r.contains("12,") && r.contains("null")),
      s"the never-matched row must null-pad at watermark: $base")
  }

  // ---- RFM fold: monoid state resumes exactly ----

  private def rfmRun(killAfter: Option[Int]): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RfmStream.OrderRow]
    val out = RfmStream.rfm(in.toDS()).toDF()
    val feeds: Seq[() => Unit] = Seq(
      () => in.addData(RfmStream.OrderRow(1L, 10L, 500L),
        RfmStream.OrderRow(2L, 11L, 700L)),
      () => in.addData(RfmStream.OrderRow(1L, 12L, 300L)),
      // post-kill: the fold must continue from (r=12, f=2, m=800), not
      // restart from zero
      () => in.addData(RfmStream.OrderRow(1L, 9L, 100L),
        RfmStream.OrderRow(3L, 13L, 900L)))
    drive(out, feeds, killAfter)
  }

  test("rfm: restart mid-stream — final per-key triple and row count identical") {
    def finalByKey(df: DataFrame): Seq[String] = df
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("f_cnt"), col("r_day"), col("m_cents"))).as("s"))
      .select(col("o_custkey"), col("s.f_cnt"), col("s.r_day"), col("s.m_cents"))
      .collect().map(_.toString).sorted.toSeq
    val base = rfmRun(None)
    val killed = rfmRun(Some(1))
    assert(base.count() == killed.count(), "one emission per order — no loss, no replay")
    val fin = finalByKey(killed)
    assert(fin == finalByKey(base))
    // the recovered fold's customer 1: r=max(12,9)=12, f=3, m=900
    assert(fin.exists(_.startsWith("[1,3,12,900]")), s"got $fin")
  }
}
