package medbench

import java.io.File
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.engine.{NoaaPipelines, Registry, SilverPipelines}

/** The traced run's instrumentation. A SparkListener and a
  * StreamingQueryListener are attached around traced ops only (traced and
  * untraced ops interleave, so tracing overhead is measured in the same
  * run). Raw events are kept in memory; after the run they are attributed
  * to ops — jobs by job group (micro-batch jobs by batch id), SQL
  * executions by time window — and turned into per-layer metrics and a
  * span file with self time per layer. */
final class Tracer(spark: SparkSession, cpus: Int, dataDir: String) {
  import Tracer._
  import Main.OpRec

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val sqls = mutable.Map.empty[Long, SqlRec]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val runId = java.util.UUID.randomUUID().toString

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs += JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd(e.jobId) = e.time
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.durMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRows += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqls(s.executionId) = SqlRec(s.time, -1L, scans(s.sparkPlanInfo),
          s.physicalPlanDescription)
      case s: SparkListenerSQLExecutionEnd =>
        sqls.get(s.executionId).foreach(r => sqls(s.executionId) = r.copy(end = s.time))
      case _ =>
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress += e.progress
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(queryListener)
  }

  /** Delivers every queued event before the listeners come off. */
  def detach(): Unit = {
    drain()
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def drain(): Unit = org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)

  /** Per-layer metrics over the traced ops; writes the span file. */
  def metrics(w: Workload, ops: IndexedSeq[OpRec], spanFile: File): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced)
    val prefix = traced.take(w.countPrefix)
    val jobsOf: Map[OpRec, Seq[JobRec]] = traced.map { op =>
      val batches = op.batchIds.toSet
      op -> jobs.filter(j => j.group == op.group || (j.batchId >= 0 && batches(j.batchId))).toSeq
    }.toMap
    def stagesOf(op: OpRec): Seq[StageAgg] = {
      val ids = jobsOf(op).map(_.id).toSet
      stageJob.collect { case (s, j) if ids(j) => stages.get(s) }.flatten.toSeq
    }
    def sqlsOf(op: OpRec): Seq[SqlRec] =
      sqls.values.filter(s => s.start >= op.startMs && s.start <= op.startMs + op.ms.toLong + 1)
        .toSeq.sortBy(_.start)
    def progOf(op: OpRec): Seq[StreamingQueryProgress] = {
      val b = op.batchIds.toSet
      progress.filter(p => b(p.batchId)).toSeq
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toIndexedSeq)
    def perOpMean(f: OpRec => Double) = mean(prefix.map(f))
    def perOpMedian(f: OpRec => Double) = med(traced.map(f))

    val out = ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))

    // Tables: parquet scans, from plans and task input metrics
    put("tables.scans", perOpMean(op => sqlsOf(op).map(_.scans.size).sum.toDouble), "count")
    put("tables.scan_bytes", perOpMean(op => stagesOf(op).map(_.inBytes).sum.toDouble), "bytes")
    put("tables.scan_rows", perOpMean(op => stagesOf(op).map(_.inRows).sum.toDouble), "count")

    // engine: registry refreshes
    val refresh = w match { case r: RefreshWorkload => Some(r); case _ => None }
    val refreshOps = if (refresh.isDefined) traced else IndexedSeq.empty
    val refreshPrefix = if (refresh.isDefined) prefix else IndexedSeq.empty
    def writes(op: OpRec): Seq[(String, Double)] = sqlsOf(op).flatMap { s =>
      WritePath.findFirstMatchIn(s.plan).map(m =>
        m.group(1).replace('/', '.') -> (s.end - s.start).toDouble)
    }
    def firstJobMs(op: OpRec): Double = jobsOf(op).map(_.submit).minOption
      .map(t => (t - op.startMs).toDouble).getOrElse(0.0)
    def sourceScans(op: OpRec): Seq[String] =
      sqlsOf(op).flatMap(_.scans).filter(_.contains(dataDir))
    put("engine.plan_ms", med(refreshOps.map(firstJobMs)), "ms")
    put("engine.write_ms", med(refreshOps.map(op => writes(op).map(_._2).sum)), "ms")
    datasets.foreach { ds =>
      put(s"engine.write_ms.$ds",
        med(refreshOps.map(op => writes(op).filter(_._1 == ds).map(_._2).sum)), "ms")
    }
    put("engine.rows_written", mean(refreshPrefix.map(op => stagesOf(op).map(_.outRows).sum.toDouble)), "count")
    put("engine.bytes_written", mean(refreshPrefix.map(op => stagesOf(op).map(_.outBytes).sum.toDouble)), "bytes")
    put("engine.files_written", mean(refreshPrefix.flatMap(op =>
      refresh.flatMap(_.filesWritten(op.idx)).map(_.toDouble))), "count")
    put("engine.source_scans", mean(refreshPrefix.map(op => sourceScans(op).size.toDouble)), "count")
    put("engine.scan_reuse", mean(refreshPrefix.map { op =>
      val s = sourceScans(op)
      if (s.isEmpty) 0.0 else s.distinct.size.toDouble / s.size
    }), "share")

    // streaming: StreamingQueryProgress per trigger, plus the client's view
    val triggers = traced.flatMap(progOf)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def stateSum(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      p.stateOperators.map(f).sum.toDouble
    put("stream.trigger_ms", med(triggers.map(dur(_, "triggerExecution"))), "ms")
    put("stream.add_batch_ms", med(triggers.map(dur(_, "addBatch"))), "ms")
    put("stream.planning_ms", med(triggers.map(dur(_, "queryPlanning"))), "ms")
    put("stream.offset_log_ms", med(triggers.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms")
    put("stream.state_update_ms", med(triggers.map(stateSum(_, _.allUpdatesTimeMs))), "ms")
    put("stream.state_commit_ms", med(triggers.map(stateSum(_, _.commitTimeMs))), "ms")
    val streamPrefix = prefix.filter(_.batchIds.nonEmpty)
    put("stream.state_rows", mean(streamPrefix.flatMap(op =>
      progOf(op).lastOption.map(stateSum(_, _.numRowsTotal)))), "count")
    put("stream.state_bytes", mean(streamPrefix.flatMap(op =>
      progOf(op).lastOption.map(stateSum(_, _.memoryUsedBytes)))), "bytes")
    put("stream.rows_dropped_by_watermark", mean(streamPrefix.map(op =>
      progOf(op).map(stateSum(_, _.numRowsDroppedByWatermark)).sum)), "count")
    put("stream.rows_out", mean(streamPrefix.map(op =>
      stagesOf(op).map(_.outRows).sum.toDouble)), "count")
    put("stream.triggers_per_batch", mean(streamPrefix.map(op => progOf(op).size.toDouble)), "count")
    put("stream.gap_ms", med(traced.filter(_.batchIds.nonEmpty).map(op =>
      op.ms - progOf(op).map(dur(_, "triggerExecution")).sum)), "ms")

    // ops: busy time of the graft.ops modules that build refresh datasets
    DatasetModule.values.toSeq.distinct.sorted.foreach { m =>
      put(s"ops.$m.busy_ms", med(refreshOps.map(op => writes(op).filter { case (ds, _) =>
        DatasetModule.get(ds).contains(m) }.map(_._2).sum)), "ms")
    }

    // Spark execution, attributed per op
    put("exec.jobs", perOpMean(op => jobsOf(op).size.toDouble), "count")
    put("exec.stages", perOpMean(op => stagesOf(op).map(_.completed).sum.toDouble), "count")
    put("exec.tasks", perOpMean(op => stagesOf(op).map(_.tasks).sum.toDouble), "count")
    put("exec.shuffle_write_bytes", perOpMean(op => stagesOf(op).map(_.shufW).sum.toDouble), "bytes")
    put("exec.shuffle_read_bytes", perOpMean(op => stagesOf(op).map(_.shufR).sum.toDouble), "bytes")
    put("exec.spill_bytes", perOpMean(op => stagesOf(op).map(_.spill).sum.toDouble), "bytes")
    put("exec.task_ms", perOpMedian(op => stagesOf(op).map(_.runMs).sum.toDouble), "ms")
    put("exec.executor_cpu_ms", perOpMedian(op => stagesOf(op).map(_.cpuNs).sum / 1e6), "ms")
    put("exec.gc_ms", perOpMedian(op => stagesOf(op).map(_.gcMs).sum.toDouble), "ms")
    put("exec.core_busy_share", perOpMedian(op =>
      stagesOf(op).map(_.durMs).sum / (cpus * math.max(op.ms, 1e-3))), "share")

    // tracing overhead: traced vs untraced ops of the same run
    val untraced = ops.filterNot(_.traced)
    val tMed = med(traced.map(_.ms))
    val uMed = med(untraced.map(_.ms))
    put("trace.overhead_ms", if (untraced.isEmpty) 0.0 else tMed - uMed, "ms")
    put("trace.overhead_share", if (untraced.isEmpty || uMed == 0) 0.0 else tMed / uMed - 1, "share")

    // spans and self time per layer
    val spans = ArrayBuffer.empty[Span]
    traced.foreach { op =>
      val root = Span(spans.size, s"op:${op.name}", "op", op.startMs.toDouble,
        op.startMs + op.ms, -1)
      spans += root
      val mid = ArrayBuffer.empty[Span]
      if (refresh.isDefined) {
        val first = jobsOf(op).map(_.submit).minOption.getOrElse(op.startMs)
        mid += Span(spans.size + mid.size, "engine.plan", "engine", op.startMs.toDouble,
          first.toDouble, root.id)
        sqlsOf(op).foreach { s =>
          WritePath.findFirstMatchIn(s.plan).foreach { m =>
            mid += Span(spans.size + mid.size, s"engine.write:${m.group(1).replace('/', '.')}",
              "engine", s.start.toDouble, s.end.toDouble, root.id)
          }
        }
      }
      progOf(op).foreach { p =>
        val s = Instant.parse(p.timestamp).toEpochMilli.toDouble
        mid += Span(spans.size + mid.size, s"stream.trigger:${p.batchId}", "stream", s,
          s + dur(p, "triggerExecution"), root.id)
      }
      spans ++= mid
      jobsOf(op).foreach { j =>
        val end = jobEnd.getOrElse(j.id, j.submit).toDouble
        val parent = mid.filter(m => m.start <= j.submit && end <= m.end + 1)
          .sortBy(m => m.end - m.start).headOption.map(_.id).getOrElse(root.id)
        spans += Span(spans.size, s"job:${j.id}", "exec", j.submit.toDouble, end, parent)
      }
    }
    // self time: the span minus the union of its children's intervals
    val childMs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.sortBy(_.start).foldLeft((0.0, Double.MinValue)) { case ((sum, reach), c) =>
        val from = math.max(c.start, reach)
        (sum + math.max(0.0, c.end - from), math.max(reach, c.end))
      }._1
    }
    val self = spans.map(s => s -> math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0)))
    val perOpSelf = self.groupBy(_._1.layer).map { case (l, xs) =>
      l -> xs.map(_._2).sum / math.max(1, traced.size) }
    Seq("op", "engine", "stream", "exec").foreach { l =>
      put(s"self.${l}_ms", perOpSelf.getOrElse(l, 0.0), "ms")
    }
    writeSpans(spanFile, spans.toSeq, perOpSelf)
    out.toSeq
  }

  private def writeSpans(f: File, spans: Seq[Span], self: Map[String, Double]): Unit = {
    val body = Json.obj(
      "run_id" -> Json.str(runId),
      "self_ms_per_op" -> Json.obj(self.toSeq.sortBy(_._1).map { case (l, v) => l -> Json.num(v) }: _*),
      "spans" -> Json.arr(spans.map(s => Json.obj(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "parent" -> s.parent.toString, "run_id" -> Json.str(runId)))))
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class JobRec(id: Int, group: String, batchId: Long, submit: Long)
  final class StageAgg {
    var completed, tasks = 0
    var durMs, runMs, cpuNs, gcMs, shufW, shufR, spill = 0L
    var inBytes, inRows, outBytes, outRows = 0L
  }
  final case class SqlRec(start: Long, end: Long, scans: Seq[String], plan: String)
  final case class Span(id: Int, name: String, layer: String, start: Double, end: Double,
      parent: Int) {
    def ms: Double = math.max(0.0, end - start)
  }

  /** Output directory of a registry write: `.../refresh-N/<schema>/<table>`. */
  val WritePath = """refresh-\d+/([A-Za-z0-9_]+/[A-Za-z0-9_]+)""".r

  /** The 17 datasets of a full refresh, for a fixed metric list. */
  lazy val datasets: Seq[String] = {
    val reg = new Registry
    SilverPipelines.register(reg)
    NoaaPipelines.register(reg)
    reg.tableNames
  }

  /** Refresh dataset → the graft.ops module that builds it. */
  val DatasetModule: Map[String, String] = Map(
    "silver.dim_supplier" -> "Dims", "silver.dim_customer" -> "Dims",
    "silver.fact_sales" -> "Dims", "silver.dim_geo" -> "Dims",
    "silver.dim_store" -> "Dims", "silver.fact_weather" -> "Relational",
    "noaa.stations" -> "Noaa", "noaa.inventory" -> "Noaa",
    "noaa.timeseries" -> "Noaa", "noaa.us_metrics" -> "Noaa")

  /** Locations of every parquet scan in a physical plan. */
  def scans(p: SparkPlanInfo): Seq[String] = {
    val here =
      if (p.nodeName.startsWith("Scan parquet"))
        Seq(p.metadata.getOrElse("Location", p.simpleString))
      else Nil
    here ++ p.children.flatMap(scans)
  }
}
