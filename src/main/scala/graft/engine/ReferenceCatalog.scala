package graft.engine

/** The reference's bronze-layer catalog: 68 AdventureWorks OLTP staging
  * tables across 5 schemas, declared by the generated fan-out loop
  * (bronze_structure.ipynb:47-102 — dict at :47-79). The names are the
  * WHAT (the operator surface the engine must be able to declare); the
  * registry supplies the HOW (passthrough materialization: each source
  * loads once, all concurrently, and the writes run on a pool sized to
  * the cores, longest write first).
  */
object ReferenceCatalog {

  val bronzeSchemas: Map[String, Seq[String]] = Map(
    "sales" -> Seq(
      "countryregioncurrency", "creditcard", "currency", "currencyrate",
      "customer", "personcreditcard", "salesorderdetail", "salesorderheader",
      "salesorderheadersalesreason", "salesperson", "salespersonquotahistory",
      "salesreason", "salestaxrate", "salesterritory", "salesterritoryhistory",
      "shoppingcartitem", "specialoffer", "specialofferproduct", "store"),
    "humanresources" -> Seq(
      "department", "employee", "employeedepartmenthistory",
      "employeepayhistory", "jobcandidate", "shift"),
    "purchasing" -> Seq(
      "productvendor", "purchaseorderdetail", "purchaseorderheader",
      "shipmethod", "vendor"),
    "person" -> Seq(
      "address", "addresstype", "businessentity", "businessentityaddress",
      "businessentitycontact", "contacttype", "countryregion", "emailaddress",
      "password", "person", "personphone", "phonenumbertype", "stateprovince"),
    "production" -> Seq(
      "billofmaterials", "culture", "document", "illustration", "location",
      "product", "productcategory", "productcosthistory", "productdescription",
      "productdocument", "productinventory", "productlistpricehistory",
      "productmodel", "productmodelillustration",
      "productmodelproductdescriptionculture", "productphoto",
      "productproductphoto", "productreview", "productsubcategory",
      "scrapreason", "transactionhistory", "transactionhistoryarchive",
      "unitmeasure", "workorder", "workorderrouting"))

  /** Registers the full 68-table bronze fan-out. */
  def registerBronze(reg: Registry): Unit =
    Registry.bronzeFanOut(reg, bronzeSchemas)
}
