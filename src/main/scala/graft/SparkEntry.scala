package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from the per-module catalogs; every entry with
  * an oracle is hash-checked against DuckDB at sf0.01 by the driver's
  * Verify run.
  */
object SparkEntry {

  def catalog: Seq[Q] =
    ops.Relational.all ++ ops.EventOps.all ++ ops.TpchQueries.all ++
      ops.CoverageQueries.all ++ text.TextQueries.all ++ ops.catalog.DedupCatalog.all ++
      ops.catalog.SimCatalog.all ++ ops.catalog.MmCatalog.all ++ ops.catalog.CorpusCatalog.all ++
      ops.catalog.EventsCatalog.all ++ ops.catalog.StatsCatalog.all ++ ops.catalog.GraphCatalog.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The composed C1..C13 pipeline shape (select branches ∪ → timezone →
    * id fallback → broadcast enrichment ∪ null-padded logins → dedup). */
  def entry(spark: SparkSession): DataFrame =
    ops.EventOps.cPipeline.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
