package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Declarative dataset registry — the engine's analog of the reference's
  * `@dp.table(name, comment)` + `dp.read(name)` model
  * (silver_layer_person.py:4-8, :18-19): datasets are named builders and
  * dependency edges are declared. A refresh (`materializeToDir`) runs
  * independent work concurrently, as Lakeflow runs independent flows (the
  * reference's 68 bronze tables are all independent and run in parallel,
  * bronze_structure.ipynb:93-102): every external source loads once, all
  * concurrently; every dataset is planned on the calling thread in
  * topological order; then every write goes to a pool sized to the cores,
  * longest write first. Plans are lazy, so no write reads another
  * dataset's output and write order cannot change any result.
  */
final case class TableDef(
    name: String,
    comment: String,
    deps: Seq[String],
    build: (SparkSession, String => DataFrame) => DataFrame)

final class Registry {
  private val defs = mutable.LinkedHashMap.empty[String, TableDef]
  @volatile private var writeTimes = Map.empty[String, Long]

  def register(t: TableDef): Unit = {
    require(!defs.contains(t.name), s"duplicate table def: ${t.name}")
    defs(t.name) = t
  }

  def tableNames: Seq[String] = defs.keys.toSeq

  /** Write time in ms of each dataset, from the latest `materializeToDir`
    * that wrote it successfully; the next refresh submits the longest
    * writes first. */
  def writeMs: Map[String, Long] = writeTimes

  /** Kahn topological order; fails on cycles or missing deps.
    * External inputs (names in `external`) are allowed as leaves. */
  def topoOrder(external: Set[String] = Set.empty): Seq[String] = {
    val indeg = mutable.Map.empty[String, Int]
    val out = mutable.Map.empty[String, mutable.Buffer[String]]
    defs.values.foreach { t =>
      indeg.getOrElseUpdate(t.name, 0)
      t.deps.foreach { d =>
        if (!external.contains(d)) {
          require(defs.contains(d), s"${t.name} depends on unknown table $d")
          out.getOrElseUpdate(d, mutable.Buffer.empty) += t.name
          indeg(t.name) = indeg.getOrElse(t.name, 0) + 1
        }
      }
    }
    val queue = mutable.Queue(defs.keys.filter(k => indeg(k) == 0).toSeq: _*)
    val order = mutable.Buffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      order += n
      out.getOrElse(n, Nil).foreach { m =>
        indeg(m) -= 1
        if (indeg(m) == 0) queue.enqueue(m)
      }
    }
    require(order.size == defs.size, s"dependency cycle among: ${defs.keySet -- order}")
    order.toSeq
  }

  /** Builds every dataset in dependency order. `resolve` serves external
    * (source) tables and runs once per name; registry outputs are
    * memoized so shared upstreams build once — the `dp.read` batch-edge
    * semantics. Nothing is executed: the DataFrames are lazy plans. */
  def materializeAll(
      spark: SparkSession,
      resolve: String => DataFrame): Map[String, DataFrame] = {
    val sources = mutable.Map.empty[String, DataFrame]
    buildAll(spark, n => sources.getOrElseUpdate(n, resolve(n))).toMap
  }

  /** Every dataset's DataFrame, in topological order. */
  private def buildAll(
      spark: SparkSession,
      source: String => DataFrame): Seq[(String, DataFrame)] = {
    val built = mutable.LinkedHashMap.empty[String, DataFrame]
    topoOrder(external = collectExternal.toSet).foreach { n =>
      built(n) = defs(n).build(spark, m => built.getOrElse(m, source(m)))
    }
    built.toSeq
  }

  /** External names the datasets read, in registration order. */
  private def collectExternal: Seq[String] =
    defs.values.flatMap(_.deps).filterNot(defs.contains).toSeq.distinct

  /** The `@dp.table` materialization sink: persists every dataset as
    * parquet under `outDir/<schema>/<table>` (dots → path segments) and
    * returns name → path. Batch analog of the streaming parquet+checkpoint
    * sink. The external sources load concurrently, `resolve` running once
    * per name; the plans are built on the calling thread; then the writes
    * run on `defaultParallelism` threads started for this call, longest
    * first by `writeMs` (never-timed datasets first, in topological order).
    * The threads inherit the caller's Spark local properties, so every job
    * carries the caller's job group. If a load or a write fails, the first
    * failure in submission order is rethrown as is, once every other one
    * has finished and every thread has exited. */
  def materializeToDir(
      spark: SparkSession,
      resolve: String => DataFrame,
      outDir: String): Map[String, String] = {
    val width = spark.sparkContext.defaultParallelism
    val external = collectExternal
    val loaded = mutable.Map(external.zip(
      Registry.succeeded(Registry.runAll(width, external.map(n => () => resolve(n))))): _*)
    val built = buildAll(spark, n => loaded.getOrElseUpdate(n, resolve(n)))
    val known = writeTimes
    val writes = built.sortBy { case (n, _) => -known.getOrElse(n, Long.MaxValue) }
    val outcomes = Registry.runAll(width, writes.map { case (name, df) => () => {
      val path = s"$outDir/${name.replace('.', '/')}"
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(path)
      (name, path, (System.nanoTime() - t0) / 1000000)
    }})
    writeTimes = known ++ outcomes.collect { case Success((n, _, ms)) => n -> ms }
    Registry.succeeded(outcomes).map { case (n, path, _) => n -> path }.toMap
  }
}

object Registry {

  /** Runs `tasks` on at most `width` threads started for this call, in
    * submission order, and returns every outcome once all threads have
    * exited. Threads started by the caller inherit its Spark local
    * properties (job group, scheduler pool). */
  private def runAll[T](width: Int, tasks: Seq[() => T]): Seq[Try[T]] = {
    val todo = tasks.toIndexedSeq
    val out = new Array[Try[T]](todo.size)
    val next = new AtomicInteger
    val threads = (0 until math.min(width, todo.size)).map { i =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < todo.size) {
          out(k) = try Success(todo(k)()) catch { case e: Throwable => Failure(e) }
          k = next.getAndIncrement()
        }
      }, s"graft-refresh-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toSeq
  }

  /** The values, or the first failure, with any later ones suppressed. */
  private def succeeded[T](outcomes: Seq[Try[T]]): Seq[T] = {
    val errors = outcomes.collect { case Failure(e) => e }
    errors.headOption.foreach { first =>
      errors.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    outcomes.map(_.get)
  }

  /** Bronze fan-out generator — the reference's factory loop creating
    * one passthrough staging table per (schema, table) pair
    * (bronze_structure.ipynb:47-102). */
  def bronzeFanOut(reg: Registry, schemas: Map[String, Seq[String]]): Unit =
    for ((schema, tables) <- schemas.toSeq.sortBy(_._1); t <- tables.sorted) {
      val src = s"src_$schema.$t"
      reg.register(TableDef(
        name = s"stg_$schema.stg_$t",
        comment = s"1:1 staging passthrough of $src",
        deps = Seq(src),
        build = (_, read) => read(src)))
    }
}
