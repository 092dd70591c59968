package graft.engine

import org.apache.spark.sql.DataFrame
import graft.ops.{Dims, Relational}

/** The reference's silver layer as a declarative Registry pipeline: one
  * TableDef per silver dataset (SURVEY.md §0.1 sites #4–#9), each
  * depending on bronze staging tables, mirroring the bundle structure
  * (silver_layer_person / _production / aw_silver_layer_sales /
  * silver_layer_common). `dp.read` edges become registry deps. A
  * refresh (`Registry.materializeToDir`) loads each source once, all
  * concurrently, plans every dataset, then runs the parquet writes on a
  * pool sized to the cores, longest write first.
  */
object SilverPipelines {

  /** Bronze names the silver layer consumes (testdata analogs). */
  val bronzeInputs: Seq[String] = Seq(
    "stg.customer", "stg.nation", "stg.region", "stg.supplier",
    "stg.orders", "stg.lineitem", "stg.events")

  def register(reg: Registry): Unit = {
    // bronze: 1:1 staging passthroughs over the external source tables
    bronzeInputs.foreach { name =>
      val src = "src." + name.stripPrefix("stg.")
      reg.register(TableDef(name, s"staging passthrough of $src", Seq(src),
        (_, read) => read(src)))
    }
    reg.register(TableDef(
      "silver.dim_supplier", "dim_product-shape lookup chain",
      Seq("stg.supplier", "stg.nation", "stg.region"),
      (_, read) => Dims.dimSupplier(
        read("stg.supplier"), read("stg.nation"), read("stg.region"))))
    reg.register(TableDef(
      "silver.dim_customer", "dim_customer-shape decode + normalize",
      Seq("stg.customer", "stg.nation"),
      (_, read) => Dims.dimCustomer(read("stg.customer"), read("stg.nation"))))
    reg.register(TableDef(
      "silver.fact_sales", "fact_sales-shape wide projection",
      Seq("stg.lineitem", "stg.orders", "stg.customer"),
      (_, read) => Dims.factOrders(
        read("stg.lineitem"), read("stg.orders"), read("stg.customer"))))
    reg.register(TableDef(
      "silver.dim_geo", "dim_geo-shape surrogate key + 2-dim lookup chain",
      Seq("stg.customer", "stg.nation", "stg.region"),
      (_, read) => Dims.dimGeo(
        read("stg.customer"), read("stg.nation"), read("stg.region"))))
    reg.register(TableDef(
      "silver.dim_store", "dim_store-shape interval join + greatest refresh",
      Seq("stg.events"),
      (_, read) => Dims.dimStore(read("stg.events"))))
    reg.register(TableDef(
      "silver.fact_weather", "fact_weather-shape agg + pivot",
      Seq("stg.events", "stg.customer"),
      (_, read) => Relational.factWeather(read("stg.events"), read("stg.customer"))))
  }
}
