package graft.engine

import graft.{Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end medallion run: source parquet → bronze passthroughs →
  * silver dims/facts and the NOAA bundle → parquet materialization, all
  * through the declarative registry: plans built in topological order,
  * the 17 writes run concurrently. */
class MedallionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bronze→silver pipeline materializes all datasets in dependency order") {
    val reg = new Registry
    SilverPipelines.register(reg)
    NoaaPipelines.register(reg)
    val out = java.nio.file.Files.createTempDirectory("medallion").toString
    def resolve(name: String) = Tables.load(spark, TestSpark.sfDir, name.stripPrefix("src."))
    val paths = reg.materializeToDir(spark, resolve, out)
    assert(paths.size == SilverPipelines.bronzeInputs.size + 6 + 4)

    // every concurrently written dataset equals its lazily built DataFrame
    reg.materializeAll(spark, resolve).foreach { case (name, df) =>
      val written = spark.read.parquet(paths(name))
      assert(written.exceptAll(df).count() == 0, name)
      assert(df.exceptAll(written).count() == 0, name)
    }

    val factWeather = spark.read.parquet(paths("silver.fact_weather"))
    assert(factWeather.count() > 0)
    assert(factWeather.columns.toSet == Set(
      "segment", "obs_date", "view_avg", "click_avg", "purchase_avg", "signup_avg"))

    // silver output equals the direct query over the same inputs
    val direct = graft.ops.Relational.qWeatherPivot(spark, TestSpark.sfDir)
    assert(factWeather.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(factWeather).count() == 0)

    val dimSupplier = spark.read.parquet(paths("silver.dim_supplier"))
    assert(dimSupplier.count() ==
      Tables.load(spark, TestSpark.sfDir, "supplier").count())

    // the six silver datasets of the reference are all registered:
    // dim_supplier(≅product), dim_customer, dim_geo, dim_store,
    // fact_sales, fact_weather
    val dimGeo = spark.read.parquet(paths("silver.dim_geo"))
    assert(dimGeo.count() ==
      Tables.load(spark, TestSpark.sfDir, "customer").count())
    assert(dimGeo.columns.toSet == Set(
      "geo_id", "address", "postal_code", "nation_name", "region_name"))
    val dimStore = spark.read.parquet(paths("silver.dim_store"))
    assert(dimStore.count() > 0)
    assert(dimStore.columns.contains("last_refresh"))
  }
}
