package graft.engine

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.{Tables, TestSpark}
import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("materializes in dependency order with memoized reads") {
    import spark.implicits._
    val reg = new Registry
    var builds = 0
    reg.register(TableDef("silver", "", Seq("bronze"), (_, read) => {
      builds += 1; read("bronze").withColumn("x2", col("v") * 2)
    }))
    reg.register(TableDef("gold", "", Seq("silver"), (_, read) => {
      builds += 1; read("silver").agg(sum("x2").as("total"))
    }))
    reg.register(TableDef("bronze", "", Seq("src"), (_, read) => { builds += 1; read("src") }))
    val out = reg.materializeAll(spark, {
      case "src" => Seq(1, 2, 3).toDF("v")
      case other => fail(s"unexpected external read: $other")
    })
    assert(builds == 3)
    assert(out("gold").head.getLong(0) == 12L)
  }

  test("materializeToDir persists every dataset as parquet in dependency order") {
    import spark.implicits._
    val reg = new Registry
    reg.register(TableDef("stg.base", "", Seq("src"), (_, r) => r("src")))
    reg.register(TableDef("silver.doubled", "", Seq("stg.base"),
      (_, r) => r("stg.base").withColumn("x2", col("v") * 2)))
    val out = java.nio.file.Files.createTempDirectory("reg_out").toString
    assert(reg.writeMs.isEmpty)
    val paths = reg.materializeToDir(spark, _ => Seq(1, 2, 3).toDF("v"), out)
    assert(paths.keySet == Set("stg.base", "silver.doubled"))
    assert(reg.writeMs.keySet == paths.keySet && reg.writeMs.values.forall(_ >= 0))
    val persisted = spark.read.parquet(paths("silver.doubled"))
    assert(persisted.agg(sum("x2")).head.getLong(0) == 12L)
    assert(paths("silver.doubled").endsWith("silver/doubled"))
  }

  test("NOAA bundle is a 4-table DAG: us_metrics builds after its two deps") {
    val reg = new Registry
    NoaaPipelines.register(reg)
    val order = reg.topoOrder(external = Set("src.customer", "src.nation", "src.events"))
    assert(order.size == 4)
    assert(order.indexOf("noaa.us_metrics") > order.indexOf("noaa.stations"))
    assert(order.indexOf("noaa.us_metrics") > order.indexOf("noaa.timeseries"))
    val out = reg.materializeAll(spark,
      name => graft.Tables.load(spark, TestSpark.sfDir, name.stripPrefix("src.")))
    assert(out("noaa.stations").count() ==
      graft.Tables.load(spark, TestSpark.sfDir, "customer").count())
    assert(out("noaa.inventory").count() > 0)
    // every element of the 10-branch decode is populated
    assert(out("noaa.timeseries").select("element").distinct().count() == 10)
    // the US filter keeps only US-prefixed stations with a state
    import spark.implicits._
    val us = out("noaa.us_metrics")
    assert(us.count() > 0)
    assert(us.select("station_id").as[String].collect().forall(_.startsWith("US")))
  }

  test("topoOrder rejects cycles") {
    val reg = new Registry
    reg.register(TableDef("a", "", Seq("b"), (_, r) => r("b")))
    reg.register(TableDef("b", "", Seq("a"), (_, r) => r("a")))
    assertThrows[IllegalArgumentException](reg.topoOrder())
  }

  test("reference bronze catalog registers all 68 staging tables, acyclic") {
    val reg = new Registry
    ReferenceCatalog.registerBronze(reg)
    assert(reg.tableNames.size == 68)
    assert(ReferenceCatalog.bronzeSchemas("sales").size == 19)
    assert(ReferenceCatalog.bronzeSchemas("production").size == 25)
    val external = for ((s, ts) <- ReferenceCatalog.bronzeSchemas.toSeq; t <- ts)
      yield s"src_$s.$t"
    assert(reg.topoOrder(external = external.toSet).size == 68)
  }

  test("bronze fan-out registers one passthrough per source table (bronze_structure shape)") {
    val reg = new Registry
    Registry.bronzeFanOut(reg, Map(
      "sales" -> Seq("customer", "store", "salesorderheader"),
      "person" -> Seq("address", "person")))
    assert(reg.tableNames.size == 5)
    assert(reg.tableNames.contains("stg_sales.stg_customer"))
    val out = reg.materializeAll(spark, name => {
      import spark.implicits._
      Seq(name).toDF("src_name")
    })
    assert(out("stg_person.stg_address").head.getString(0) == "src_person.address")
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def refreshThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-refresh")).toSet

  /** A resolve over the sf0.001 tables that counts its calls per name. */
  private def countingResolve(calls: ConcurrentHashMap[String, AtomicInteger]): String => DataFrame =
    name => {
      calls.computeIfAbsent(name, _ => new AtomicInteger).incrementAndGet()
      Tables.load(spark, TestSpark.sfDir, name.stripPrefix("src."))
    }

  test("every external source resolves exactly once per refresh") {
    val reg = new Registry
    SilverPipelines.register(reg)
    NoaaPipelines.register(reg)
    val sources = SilverPipelines.bronzeInputs.map("src." + _.stripPrefix("stg.")).toSet
    // NOAA reads src.customer, src.nation and src.events, which staging reads too
    val all = new ConcurrentHashMap[String, AtomicInteger]
    reg.materializeAll(spark, countingResolve(all))
    assert(all.asScala.view.mapValues(_.get).toMap == sources.map(_ -> 1).toMap)

    val small = new Registry
    small.register(TableDef("stg.nation", "", Seq("src.nation"), (_, r) => r("src.nation")))
    small.register(TableDef("noaa.stations", "", Seq("src.customer", "src.nation"),
      (_, r) => graft.ops.Noaa.stations(r("src.customer"), r("src.nation"))))
    val toDir = new ConcurrentHashMap[String, AtomicInteger]
    small.materializeToDir(spark, countingResolve(toDir), tmpDir("reg_once"))
    assert(toDir.asScala.view.mapValues(_.get).toMap == Map("src.nation" -> 1, "src.customer" -> 1))
  }

  test("every job of a refresh carries the caller's job group, refresh after refresh") {
    val reg = new Registry
    reg.register(TableDef("stg.nation", "", Seq("src.nation"), (_, r) => r("src.nation")))
    reg.register(TableDef("stg.region", "", Seq("src.region"), (_, r) => r("src.region")))
    reg.register(TableDef("silver.nations", "", Seq("stg.nation", "stg.region"),
      (_, r) => r("stg.nation").join(r("stg.region"), col("n_regionkey") === col("r_regionkey"))))
    val sc = spark.sparkContext
    val groups = new ConcurrentHashMap[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      for (group <- Seq("registry-spec-a", "registry-spec-b")) {
        groups.clear()
        sc.setJobGroup(group, "refresh")
        try reg.materializeToDir(spark,
          n => Tables.load(spark, TestSpark.sfDir, n.stripPrefix("src.")), tmpDir("reg_group"))
        finally sc.clearJobGroup()
        org.apache.spark.ListenerBusDrain(sc)
        // source schema reads and three writes, all on refresh threads
        assert(groups.size >= 5)
        assert(groups.values.asScala.toSet == Set(group))
      }
    } finally sc.removeSparkListener(listener)
  }

  test("a failed write is rethrown as is, after every other write finished") {
    import spark.implicits._
    val boom = udf((v: Int) => { if (v > 0) throw new IllegalStateException("boom"); v })
    val slow = udf((v: Int) => { Thread.sleep(1500); v })
    val reg = new Registry
    reg.register(TableDef("bad.write", "", Seq("src"), (_, r) => r("src").select(boom($"v").as("v"))))
    reg.register(TableDef("slow.write", "", Seq("src"), (_, r) => r("src").select(slow($"v").as("v"))))
    val out = tmpDir("reg_fail")
    val e = intercept[SparkException](
      reg.materializeToDir(spark, _ => Seq(1).toDF("v").coalesce(1), out))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")))
    assert(new File(out, "slow/write/_SUCCESS").exists)
    assert(reg.writeMs.keySet == Set("slow.write"))
    assert(refreshThreads.isEmpty)
  }

  test("a failed build or load is rethrown as is, with no refresh thread left") {
    import spark.implicits._
    val bad = new IllegalStateException("bad build")
    val reg = new Registry
    reg.register(TableDef("stg.ok", "", Seq("src"), (_, r) => r("src")))
    reg.register(TableDef("silver.bad", "", Seq("stg.ok"), (_, _) => throw bad))
    assert(intercept[IllegalStateException](
      reg.materializeToDir(spark, _ => Seq(1).toDF("v"), tmpDir("reg_build"))) eq bad)
    val missing = new java.io.FileNotFoundException("src")
    assert(intercept[java.io.FileNotFoundException](
      reg.materializeToDir(spark, _ => throw missing, tmpDir("reg_load"))) eq missing)
    assert(reg.writeMs.isEmpty)
    assert(refreshThreads.isEmpty)
  }
}
