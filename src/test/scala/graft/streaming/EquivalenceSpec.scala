package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch/streaming equivalence: the batch operators and their streaming
  * twins must agree on the same input — the closest the harness can get
  * to oracle-checking streaming semantics (streaming plans aren't
  * expressible as a DuckDB batch query, SURVEY.md §5.2).
  */
class EquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  test("batch gap-rule sessionization equals streaming flatMapGroupsWithState sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two users; user 1 has two sessions split by a >2min gap
    val fixture = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(1), 5.0), (3L, 2L, ts(0), 7.0),
      (4L, 1L, ts(10), 2.0), (5L, 1L, ts(11), 3.0))
    val gapMs = 2 * 60 * 1000L

    val batch = graft.ops.Sessions.sessionizeBatch(
      fixture.toDF("event_id", "user_id", "ts", "value"), gapMs)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet

    val ev = MemoryStream[Sessionize.Event]
    val out = Sessionize.sessions(spark, ev.toDS(), gapMs)
    val q = out.writeStream.format("memory").queryName("equiv_sess")
      .outputMode("append").start()
    ev.addData(fixture.map(f => Sessionize.Event(f._2, f._3, f._4)): _*)
    q.processAllAvailable()
    ev.addData(Sessionize.Event(99L, ts(120), 0.0)) // flush watermark
    q.processAllAvailable()
    ev.addData(Sessionize.Event(99L, ts(240), 0.0))
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streaming = spark.table("equiv_sess").as[Sessionize.Session].collect()
      .filter(_.user_id != 99L)
      .map(s => (s.user_id, s.session_start, s.session_end,
        s.n_events.toLong, s.total_value)).toSet

    assert(batch.nonEmpty && batch == streaming)
  }

  test("batch SCD-1 apply equals the streaming current-state operator on the same change feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // inserts, updates, a pre-image (never applies), a delete, and an
    // out-of-order older version arriving in a LATER micro-batch (must
    // not regress the state)
    val b1 = Seq(
      Scd1.Change(1L, 1L, "a1", "insert"),
      Scd1.Change(2L, 1L, "b1", "insert"),
      Scd1.Change(3L, 1L, "c1", "insert"),
      Scd1.Change(1L, 2L, "a1-pre", "update_preimage"),
      Scd1.Change(1L, 2L, "a2", "update_postimage"))
    val b2 = Seq(
      Scd1.Change(2L, 3L, "b2", "update_postimage"),
      Scd1.Change(3L, 4L, "c-del", "delete"),
      Scd1.Change(1L, 1L, "a-stale", "update_postimage")) // stale replay

    val batchResult = Streams.scd1Apply(
      (b1 ++ b2).toDF()
        .select(col("key"), col("version").as("_commit_version"),
          col("change_type").as("_change_type"), col("payload")),
      keyCols = Seq("key"))
      .select(col("key"), col("_commit_version"), col("payload"))
      .as[(Long, Long, String)].collect().toSet

    val ev = MemoryStream[Scd1.Change]
    val out = Scd1.currentState(spark, ev.toDS())
    val q = out.writeStream.format("memory").queryName("equiv_scd1")
      .outputMode("update").start()
    ev.addData(b1: _*); q.processAllAvailable()
    ev.addData(b2: _*); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    // final state per key = the emission with the highest version
    // (versions are monotone per key across emissions)
    val streaming = spark.table("equiv_scd1").as[Scd1.CurrentRow].collect()
      .groupBy(_.key).values.map(_.maxBy(_.version))
      .filter(!_.deleted)
      .map(r => (r.key, r.version, r.payload)).toSet

    assert(batchResult == Set((1L, 2L, "a2"), (2L, 3L, "b2")))
    assert(streaming == batchResult)
  }

  test("batch interval left join equals the streaming interval join after watermark flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val custRows = Seq((1, 100, ts(10)), (2, 200, ts(10)), (3, 300, ts(10)))
    val storeRows = Seq((100, "InBand", ts(11)), (200, "OutOfBand", ts(15)))

    val bc = custRows.toDF("customer_id", "store_fk", "c_time")
    val bs = storeRows.toDF("store_id", "store_name", "s_time")
    val batch = bc.join(bs,
      col("store_fk") === col("store_id") &&
        col("s_time") >= col("c_time") - expr("interval 2 minutes") &&
        col("s_time") <= col("c_time") + expr("interval 2 minutes"),
      "left_outer")
      .select(col("customer_id"), col("store_name"))
      .as[(Int, Option[String])].collect().toSet

    val cust = MemoryStream[(Int, Int, Timestamp)]
    val store = MemoryStream[(Int, String, Timestamp)]
    val joined = Streams.intervalJoinLeft(
      Streams.watermarked(cust.toDF().toDF("customer_id", "store_fk", "c_time"), "c_time"),
      Streams.watermarked(store.toDF().toDF("store_id", "store_name", "s_time"), "s_time"),
      col("store_fk") === col("store_id"), "c_time", "s_time",
      "2 minutes", "2 minutes")
      .select(col("customer_id"), col("store_name"))
    val q = joined.writeStream.format("memory").queryName("equiv_store")
      .outputMode("append").start()
    cust.addData(custRows: _*)
    store.addData(storeRows: _*)
    q.processAllAvailable()
    cust.addData((99, 999, ts(60))); store.addData((999, "flush", ts(60)))
    q.processAllAvailable()
    cust.addData((98, 998, ts(120))); store.addData((998, "flush2", ts(120)))
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streaming = spark.table("equiv_store").as[(Int, Option[String])].collect()
      .filter(_._1 <= 3).toSet

    assert(batch == streaming)
  }

  test("batch sliding-window aggregate equals the streaming windowed aggregate after watermark flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // events across three slide marks and two types; one pair 7 minutes
    // apart shares 3 of 4 windows, one event an hour away shares none
    val fixture = Seq(
      (ts(0), "a", 1.25), (ts(7), "a", 2.50), (ts(7), "b", 3.00),
      (ts(20), "b", 0.75), (ts(65), "a", 4.00))
    def windowed(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.ops.Exact.units(col("value"), 2)).as("cents"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("cents"))

    val batch = windowed(fixture.toDF("ts", "event_type", "value"))
      .as[(Timestamp, String, Long, Long)].collect().toSet

    val ev = MemoryStream[(Timestamp, String, Double)]
    val out = windowed(
      Streams.watermarked(ev.toDF().toDF("ts", "event_type", "value"), "ts"))
    val q = out.writeStream.format("memory").queryName("equiv_win")
      .outputMode("append").start()
    ev.addData(fixture: _*)
    q.processAllAvailable()
    ev.addData((ts(600), "zz", 0.0)) // advance watermark past every window end
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streaming = spark.table("equiv_win")
      .as[(Timestamp, String, Long, Long)].collect()
      .filter(_._2 != "zz").toSet

    assert(batch.nonEmpty && batch == streaming)
  }

  test("native session_window aggregate: batch equals streaming after watermark flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two users; user 1 has a 31-minute gap (two sessions), user 2 a
    // single dense run; one boundary pair exactly 29 minutes apart
    // stays merged in both modes
    val fixture = Seq(
      (ts(0), 1L, 1.00), (ts(10), 1L, 2.00), (ts(39), 1L, 0.50),
      (ts(71), 1L, 4.00),
      (ts(5), 2L, 3.25), (ts(15), 2L, 1.75))
    def sessions(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(graft.ops.Exact.units(col("value"), 2)).as("cents"))
        .select(col("session_window.start").as("ss"),
          col("session_window.end").as("se"),
          col("user_id"), col("n"), col("cents"))

    val batch = sessions(fixture.toDF("ts", "user_id", "value"))
      .as[(Timestamp, Timestamp, Long, Long, Long)].collect().toSet

    val ev = MemoryStream[(Timestamp, Long, Double)]
    val out = sessions(
      Streams.watermarked(ev.toDF().toDF("ts", "user_id", "value"), "ts"))
    val q = out.writeStream.format("memory").queryName("equiv_sess_win")
      .outputMode("append").start()
    ev.addData(fixture: _*)
    q.processAllAvailable()
    ev.addData((ts(600), 99L, 0.0)) // advance watermark past every session
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    val streaming = spark.table("equiv_sess_win")
      .as[(Timestamp, Timestamp, Long, Long, Long)].collect()
      .filter(_._3 != 99L).toSet

    assert(batch.nonEmpty && batch == streaming)
  }

  test("batch first-seen-day user counts equal streaming dedup-by-user counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // q125's core factoring (distinct-ness decided once per user) has a
    // direct streaming twin: dropDuplicates on the user key keeps the
    // first arrival, so with in-order feeds the per-day new-user counts
    // match the batch min(day) assignment bit for bit.
    val jan1 = Seq(
      (Timestamp.valueOf("2024-01-01 08:00:00"), 1L),
      (Timestamp.valueOf("2024-01-01 09:00:00"), 2L),
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L)) // same-day dup
    val jan2 = Seq(
      (Timestamp.valueOf("2024-01-02 08:00:00"), 1L), // later-day dup
      (Timestamp.valueOf("2024-01-02 09:00:00"), 3L))
    val batch = (jan1 ++ jan2).toDF("ts", "user_id")
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .as[(java.sql.Date, Long)].collect().toMap

    val ev = MemoryStream[(Timestamp, Long)]
    val out = ev.toDF().toDF("ts", "user_id")
      .dropDuplicates("user_id")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("new_users"))
    val q = out.writeStream.format("memory").queryName("equiv_firstseen")
      .outputMode("complete").start()
    ev.addData(jan1: _*); q.processAllAvailable()
    ev.addData(jan2: _*); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val streaming = spark.table("equiv_firstseen")
      .as[(java.sql.Date, Long)].collect().toMap

    assert(batch.nonEmpty && batch == streaming)
  }

  test("batch EWMA equals the streaming ring-buffer smoother on an in-order feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the q202 step fixture as raw events: 8 hours at 2/hour then
    // 8 at 10/hour, split mid-stream across micro-batches
    def evRows(hours: Range) = for {
      h <- hours; i <- 0 until (if (h < 8) 2 else 10)
    } yield (1000L + h * 100 + i,
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:${i % 60}%02d:30"),
      2L, "step", 0.0, "{}")
    val tmp = java.nio.file.Files.createTempDirectory("emastream").toString
    evRows(0 until 16)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = graft.ops.Audit.q202Ema(spark, tmp)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet

    def hourly(hours: Range) = evRows(hours)
      .groupBy(r => r._2.getTime / 3600000)
      .map { case (h, rs) => EmaStream.HourCount("step", h, rs.size.toLong) }
      .toSeq.sortBy(_.h)
    val in = MemoryStream[EmaStream.HourCount]
    val out = EmaStream.ema(in.toDS())
    val q = out.writeStream.format("memory").queryName("equiv_ema")
      .outputMode("append").start()
    in.addData(hourly(0 until 10): _*); q.processAllAvailable()
    in.addData(hourly(10 until 16): _*); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val streaming = spark.table("equiv_ema")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet

    // align the hour key: q202 keys by unix_timestamp div 3600
    assert(streaming.map(_._2).nonEmpty)
    assert(streaming === batch, s"batch=$batch\nstream=$streaming")
  }

  test("batch Holt trend equals the streaming level+trend state mid-stream split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a rise-then-fall count profile so the trend state goes NEGATIVE
    // mid-stream — the div-truncation regime where batch and streaming
    // could drift if their division conventions differed
    def rate(h: Int): Int = if (h < 6) 2 + h else math.max(1, 14 - 2 * h)
    def evRows(hours: Range) = for {
      h <- hours; i <- 0 until rate(h)
    } yield (2000L + h * 100 + i,
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:${i % 60}%02d:30"),
      3L, "holt", 0.0, "{}")
    val tmp = java.nio.file.Files.createTempDirectory("holtstream").toString
    evRows(0 until 14)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = graft.ops.Trend.q229HoltTrend(spark, tmp)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet

    def hourly(hours: Range) = evRows(hours)
      .groupBy(r => r._2.getTime / 3600000)
      .map { case (h, rs) => HoltStream.HourCount("holt", h, rs.size.toLong) }
      .toSeq.sortBy(_.h)
    val in = MemoryStream[HoltStream.HourCount]
    val out = HoltStream.holt(in.toDS())
    val q = out.writeStream.format("memory").queryName("equiv_holt")
      .outputMode("append").start()
    in.addData(hourly(0 until 9): _*); q.processAllAvailable()
    in.addData(hourly(9 until 14): _*); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val streaming = spark.table("equiv_holt")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(streaming.nonEmpty)
    assert(streaming === batch, s"batch=$batch\nstream=$streaming")
  }

  test("batch clamped balance equals the streaming wallet fold mid-stream split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two users over six days: credits (view) and debits (purchase)
    // sized so user 1 pins at zero twice and user 2 never does
    val fixture = Seq(
      (1L, 0, "view", 10.0), (1L, 1, "purchase", 25.0),  // clamp day 1
      (1L, 2, "view", 7.0), (1L, 3, "purchase", 7.0),    // exact zero day 3
      (1L, 4, "view", 3.0),
      (2L, 0, "view", 50.0), (2L, 2, "purchase", 20.0), (2L, 5, "view", 1.0))
    def evRow(i: Int, u: Long, day: Int, t: String, v: Double) =
      (i.toLong, Timestamp.valueOf(f"2024-01-${day + 1}%02d 09:00:00"),
        u, t, v, "{}")
    val tmp = java.nio.file.Files.createTempDirectory("balstream").toString
    fixture.zipWithIndex
      .map { case ((u, d, t, v), i) => evRow(i, u, d, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = graft.ops.Sessions.q225ClampedBalance(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().toSet

    val nets = fixture.groupBy(r => (r._1, r._2)).toSeq
      .map { case ((u, d), rs) =>
        BalanceStream.DayNet(u, d.toLong,
          rs.map(r => if (r._3 == "view") math.round(r._4 * 100)
            else -math.round(r._4 * 100)).sum)
      }.sortBy(r => (r.user_id, r.day))
    val in = MemoryStream[BalanceStream.DayNet]
    val out = BalanceStream.balances(in.toDS())
    val q = out.writeStream.format("memory").queryName("equiv_bal")
      .outputMode("append").start()
    val (first, rest) = nets.partition(_.day < 2)
    in.addData(first: _*); q.processAllAvailable()
    in.addData(rest: _*); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    // the stream's LAST row per user is the batch operator's row
    val finals = spark.table("equiv_bal")
      .as[BalanceStream.BalanceRow].collect()
      .groupBy(_.user_id).values
      .map(rs => { val l = rs.maxBy(_.day); (l.user_id, l.n_days, l.bal, l.z) })
      .toSet
    assert(finals === batch, s"batch=$batch\nstream=$finals")
    // and the zero-pins land where designed
    val u1 = spark.table("equiv_bal").as[BalanceStream.BalanceRow]
      .collect().filter(_.user_id == 1L).sortBy(_.day)
    assert(u1.map(_.bal).toSeq == Seq(1000L, 0L, 700L, 0L, 300L))
    assert(u1.last.z == 2L)
  }

  test("batch RFM metric frame equals the streaming triple's final state under shuffled arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three customers, interleaved orders across two micro-batches in
    // SHUFFLED (non-chronological) order: (max, count, sum) is a
    // commutative monoid, so the final state must match the batch
    // aggregate regardless of arrival order — the stronger contract
    // RfmStream documents (vs the in-order Holt/EWMA recurrences)
    val fixture = Seq(
      (1L, "2024-01-05", 10.25), (2L, "2024-01-02", 99.99),
      (1L, "2024-01-01", 5.50), (3L, "2024-02-10", 1.01),
      (2L, "2024-01-20", 0.49), (1L, "2024-01-12", 7.00),
      (3L, "2024-01-30", 42.42))
    val tmp = java.nio.file.Files.createTempDirectory("rfmstream").toString
    fixture.zipWithIndex.map { case ((c, d, p), i) =>
      (i.toLong, c, Timestamp.valueOf(s"$d 09:30:00"), p)
    }.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val batch = graft.ops.Classic.rfmMetrics(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().toSet

    def orderRow(c: Long, d: String, p: Double) = {
      val ms = Timestamp.valueOf(s"$d 09:30:00").getTime
      RfmStream.OrderRow(c, ms / 86400000L, math.round(p * 100))
    }
    val rows = fixture.map((orderRow _).tupled)
    val in = MemoryStream[RfmStream.OrderRow]
    val q = RfmStream.rfm(in.toDS()).writeStream.format("memory")
      .queryName("equiv_rfm").outputMode("append").start()
    in.addData(rows.take(4): _*); q.processAllAvailable()
    in.addData(rows.drop(4): _*); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    val emissions = spark.table("equiv_rfm")
      .as[(Long, Long, Long, Long)].collect()
    // latest emission per key = the row with that key's max f_cnt
    val finalState = emissions.groupBy(_._1)
      .map { case (_, rs) => rs.maxBy(_._3) }.toSet
    // every order emitted a row, and the final state matches batch
    assert(emissions.length === fixture.length)
    assert(finalState === batch, s"batch=$batch\nstream=$finalState")
  }
}
