package graft.etl

import org.apache.spark.sql.types._

/** Explicit schemas + typed config for the shopping-log ETL pipeline.
  *
  * The reference (jobs/etl_job.py:78-105, dependencies/spark.py:105-112)
  * infers every schema at runtime; we declare them so a missing column
  * fails at analysis time (SURVEY.md §1.4).
  */
object Schemas {

  /** Input log events (reference golden fixture schema, FIXTURES.md §1). */
  val logEvent: StructType = StructType(Seq(
    StructField("custid", StringType),
    StructField("custom", StringType), // JSON object; per-site keys
    StructField("info", StructType(Seq(StructField("siteseq", StringType)))),
    StructField("logtype", StringType), // login | purchase | cart | view
    StructField("maid", StringType),
    StructField("timestamp", StringType), // ISO-8601 UTC, with/without millis
    StructField("userid", StringType)
  ))

  /** Category dimension (MySQL EP_INFO_VIEW; jobs/etl_job.py:392,416-418). */
  val category: StructType = StructType(
    Seq("SHOPPING_ID", "ITEM_CODE", "INTG_ID", "ITEM_NAME",
      "CAT1", "CAT2", "CAT3", "CAT4",
      "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4")
      .map(StructField(_, StringType)))

  /** Final 16-column output (jobs/etl_job.py:416-423). Column order is
    * part of the contract: it is the reference's output layout, and
    * CSV sinks are positional. */
  val outputColumns: Seq[String] = Seq(
    "USER_ID", "SHOPPING_ID", "TRANSACTION_DATE", "TRANSACTION_TIME",
    "LOG_TYPE", "INTG_ID", "ITEM_CODE", "ITEM_NAME",
    "CAT1", "CAT2", "CAT3", "CAT4",
    "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4")
}

/** One select branch of a site family: which logtypes it matches and the
  * two JSON keys extracted from `custom` as (productCode, productName).
  * `codeFromUrlLastSegment` reproduces the reference's type2 view branch
  * (jobs/etl_job.py:212-236): productCode = last '/'-segment of og:url.
  */
final case class Branch(
    logtypes: Seq[String],
    codeKey: String,
    nameKey: String,
    codeFromUrlLastSegment: Boolean = false
)

/** A site family = the per-site-id JSON-key dialect (jobs/etl_job.py:164-257).
  * The key table IS the domain knowledge — kept explicit (SURVEY.md §7.1).
  */
final case class SiteFamily(name: String, branches: Seq[Branch])

object SiteFamilies {
  /** "default" family; reference site 154992 (jobs/etl_job.py:164-182). */
  val default: SiteFamily = SiteFamily("default", Seq(
    Branch(Seq("login", "purchase", "cart"), "productCode", "productName"),
    Branch(Seq("view"), "rb:itemId", "rb:itemName")))

  /** "type1" family; reference site -48 (jobs/etl_job.py:185-209). */
  val type1: SiteFamily = SiteFamily("type1", Seq(
    Branch(Seq("login", "purchase"), "goodsCode", "goodsName"),
    Branch(Seq("cart"), "goodsCode", "name"),
    Branch(Seq("view"), "tas:productCode", "og:title")))

  /** "type2" family; reference site 155138 (jobs/etl_job.py:212-236). */
  val type2: SiteFamily = SiteFamily("type2", Seq(
    Branch(Seq("login", "purchase", "cart"), "productCode", "productName"),
    Branch(Seq("view"), "og:url", "og:title", codeFromUrlLastSegment = true)))

  /** "type3" family; reference site 4550 (jobs/etl_job.py:239-257). */
  val type3: SiteFamily = SiteFamily("type3", Seq(
    Branch(Seq("login", "purchase", "cart"), "productCode", "productName"),
    Branch(Seq("view"), "tas:productCode", "Title")))
}

/** Per-run transform config: which site ids belong to which family
  * (configs/etl_config.json:2-7 → jobs/etl_job.py:56-59,146-151). Ids are
  * kept as strings: the reference compares int config values against the
  * string `info.siteseq` relying on implicit coercion (SURVEY.md §1.3);
  * we normalize at the boundary instead. */
final case class TransformTypes(
    default: Seq[String],
    type1: Seq[String],
    type2: Seq[String],
    type3: Seq[String]
) {
  def familyIds: Seq[(SiteFamily, Seq[String])] = Seq(
    SiteFamilies.default -> default,
    SiteFamilies.type1 -> type1,
    SiteFamilies.type2 -> type2,
    SiteFamilies.type3 -> type3)
}

/** JDBC endpoint config (configs/etl_config.json:10-23). */
final case class JdbcConfig(
    url: String,
    driver: String,
    user: String,
    password: String,
    table: String
)

/** Whole-job config, same JSON shape as configs/etl_config.json:1-34. */
final case class EtlConfig(
    types: TransformTypes,
    loadPath: String,
    savePath: String,
    loadDb: Option[JdbcConfig],
    saveDb: Option[JdbcConfig],
    dbInsert: Boolean,
    fileWrite: Boolean,
    /** Target zone for the UTC shift. The reference passes the 'KST'
      * 3-letter id (jobs/etl_job.py:293); modern JDKs want the region
      * id, so we default to Asia/Seoul. */
    timezone: String = "Asia/Seoul"
)
