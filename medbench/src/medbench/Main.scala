package medbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: sets up a session and a workload, runs timed ops
  * in a closed loop with one client until `--seconds` have elapsed and
  * the workload's minimum number of ops has run, checks every output
  * outside the timed region and writes one result JSON (end-to-end
  * metrics, or per-layer metrics with `--trace 1`).
  *
  * Usage (normally through run.py, which builds, generates inputs and
  * relays the result):
  *   medbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --out FILE --t0-ms EPOCH_MS --scale F
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(a: Array[String]): Args =
    Args(a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  /** Timing of one op as the client saw it; streaming ops also carry the
    * micro-batch ids they ran. */
  final case class OpRec(idx: Int, name: String, group: String,
      traced: Boolean, startNs: Long, endNs: Long, startMs: Long,
      batchIds: Seq[Long]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dataDir = new File(a("data")).getAbsolutePath
    val workDir = new File(a("work")).getAbsolutePath
    val scale = a("scale").toDouble
    val t0Ms = a("t0-ms").toLong
    val cpus = Runtime.getRuntime.availableProcessors()

    val jvmReadyMs = System.currentTimeMillis()
    val probeBefore = HostProbe.run()
    val sessionStartMs = System.currentTimeMillis()
    val spark = session(cpus, dataDir, workDir)
    val sessionMs = System.currentTimeMillis()
    val tracer = if (trace) Some(new Tracer(spark, cpus, dataDir)) else None
    val w: Workload = workload match {
      case "medallion_refresh" => new RefreshWorkload(spark, dataDir, workDir)
      case "silver_stream" => new StreamWorkload(spark, seed, scale, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    // Closed loop, one client. A traced run traces ops in the order
    // T U U T (repeated), so a linear drift across the run — warm-up still
    // settling, host speed — cancels out of the tracing overhead, and runs
    // the minimum number of ops rounded up to whole rounds of four.
    val ops = ArrayBuffer.empty[OpRec]
    val failures = ArrayBuffer.empty[(Int, String)]
    val minOps = if (trace) (w.minOps + 3) / 4 * 4 else w.minOps
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (elapsed < seconds || ops.size < minOps) {
      val i = ops.size
      val step = w.op(i)
      val traced = tracer.isDefined && (i % 4 == 0 || i % 4 == 3)
      val group = s"medbench-op-$i"
      tracer.filter(_ => traced).foreach(_.attach())
      spark.sparkContext.setJobGroup(group, s"${w.name} ${step.name}")
      val startMs = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val batchIds = try step.run() catch {
        case e: Throwable =>
          failures += i -> s"${step.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          Nil
      }
      val s1 = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      tracer.filter(_ => traced).foreach(_.detach())
      ops += OpRec(i, step.name, group, traced, s0, s1, startMs, batchIds)
    }
    val loopS = elapsed

    // live heap: full GCs, with a pause between them so Spark's context
    // cleaner can drop the shuffle and broadcast state the first freed
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // correctness gate, outside the timed region
    val checkStartMs = System.currentTimeMillis()
    val mismatches = try w.check() catch {
      case e: Throwable => Seq("*" -> s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val checkS = (System.currentTimeMillis() - checkStartMs) / 1000.0
    val probeAfter = HostProbe.run()

    // an op fails if it threw or if its output failed the check
    val bad = mismatches.map(_._1).toSet
    val attempted = ops.size
    val threw = failures.map(_._1).toSet
    val failed = ops.indices.count(i => threw(i) || bad("*") || bad(ops(i).name))
    val correct = failures.isEmpty && mismatches.isEmpty

    val lat = ops.map(_.ms).toIndexedSeq
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Stats.median(lat), "ms"),
      ("rows_per_s", w.opRows / (Stats.median(lat) / 1000.0), "1/s"),
      ("live_heap_mb", heapMb, "MB"),
      ("ok_share", (attempted - failed).toDouble / math.max(1, attempted), "share"))

    val perLayer = tracer.map { t =>
      t.drain()
      t.metrics(w, ops.toIndexedSeq, new File(workDir, "trace.json"))
    }

    val diag = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> trace.toString, "nproc" -> cpus.toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "input_bytes" -> w.inputBytes.toString,
      "input_sha256" -> Json.str(w.inputDigest),
      "host_probe_before_ms" -> probeBefore.toString,
      "host_probe_after_ms" -> probeAfter.toString,
      "ops" -> attempted.toString,
      "timed_s" -> loopS.toString,
      "setup_phases_s" -> Json.obj(
        "inputs_and_jvm" -> Json.num((jvmReadyMs - t0Ms) / 1000.0),
        "session" -> Json.num((sessionMs - sessionStartMs) / 1000.0),
        "warm_up" -> Json.num(setupS - (sessionMs - t0Ms) / 1000.0)),
      "check_s" -> Json.num(checkS),
      "op_ms" -> Json.arr(lat.map(Json.num)),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "workload_info" -> w.info,
      "failures" -> Json.arr((failures.map(_._2) ++ mismatches.map {
        case (op, msg) => s"$op: $msg" }).take(20).map(Json.str).toSeq))

    val metrics = perLayer.getOrElse(endToEnd)
    val result = Json.obj(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "diagnostic" -> diag)
    java.nio.file.Files.write(new File(a("out")).toPath, result.getBytes("UTF-8"))
    spark.stop()
  }

  /** The session every workload runs in: all local cores, shuffle
    * partitions sized from the input volume (~2 MB of compressed input
    * per partition, clamped to [4, cores]) with AQE off, as the engine's
    * own query bench configures itself, and the engine's SQL extensions
    * installed. Scratch and warehouse space live under the run's work dir. */
  def session(cpus: Int, dataDir: String, workDir: String): SparkSession = {
    val in = Option(new File(dataDir).listFiles()).getOrElse(Array.empty)
      .map(_.length()).sum
    val parts = math.max(4, math.min(cpus, math.ceil(in / (2.0 * (1 << 20))).toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("medbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One timed op; `run` returns the micro-batch ids it ran (streaming ops). */
final case class Step(name: String, run: () => Seq[Long])

trait Workload {
  def name: String
  /** Inputs ready and warm: everything before the first timed op. */
  def setup(): Unit
  /** The i-th timed op. Building it is untimed: it generates the op's
    * input and removes output no longer needed. */
  def op(i: Int): Step
  def minOps: Int
  /** Traced ops whose counters form the run's count metrics. */
  def countPrefix: Int
  /** Compares every output with its reference; returns (op name, or "*"
    * for every op, → mismatch). */
  def check(): Seq[(String, String)]
  /** Rows one op handles (refresh: rows written; stream: events fed);
    * known once check() has run. */
  def opRows: Long
  def inputBytes: Long
  def inputDigest: String
  def info: String
}

/** Fixed single-thread JVM kernel, timed before and after a run so host
  * drift can be told apart from a regression. Diagnostic only: it never
  * scales a metric. */
object HostProbe {
  /** Milliseconds for 400k chained SHA-256 digests of 32 bytes, after
    * 100k untimed ones so the JIT has compiled the loop. */
  def run(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var buf = new Array[Byte](32)
    def loop(n: Int): Unit = {
      var i = 0
      while (i < n) { buf = md.digest(buf); i += 1 }
    }
    loop(100000)
    val t0 = System.nanoTime()
    loop(400000)
    (System.nanoTime() - t0) / 1e6
  }
}

object Stats {
  def median(xs: IndexedSeq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
