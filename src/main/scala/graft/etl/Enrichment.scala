package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C12 (jobs/etl_job.py:380-423): category enrichment.
  *
  * Semantics preserved from the reference:
  *   - all log columns upper-cased;
  *   - inner-join semantics on (SITESEQ, PRODUCTCODE) =
  *     (SHOPPING_ID, ITEM_CODE): non-login rows without a category match
  *     are dropped — intentional in the reference (SURVEY.md §2.3);
  *   - login rows are also emitted once null-padded with the 11
  *     category columns. A login row that also matched the join appears
  *     twice and survives the final dedup because its category columns
  *     differ — reference behavior, reproduced;
  *   - output columns in the reference's JOINED-side order (its
  *     positional union swaps INTG_ID/ITEM_CODE on the login side,
  *     jobs/etl_job.py:400-401 vs 417 — invisible there because both are
  *     null strings; documented deviation, SURVEY.md §2.4 U4);
  *   - USER_ID truncated to 100 chars (MySQL column-width guard).
  *
  * The reference computes the inner join and unions a re-read of the
  * login rows; here both come from ONE broadcast left join (see
  * [[withLoginPads]]), so the upstream chain and its scan run once.
  *
  * Scale: the category side is one dimension table (a MySQL view in the
  * reference) — small by construction, so we `broadcast` it explicitly:
  * the join then shuffles nothing and the 100 TB fact side streams
  * through map tasks. If the dim ever outgrows broadcast range, Catalyst
  * falls back to shuffled hash join on the two key columns.
  */
object Enrichment {

  /** The category columns of the output, in contract order. */
  private[etl] val categoryColumns: Seq[String] = Schemas.outputColumns.drop(5)

  def joinWithCategories(logs: DataFrame, categories: DataFrame): DataFrame = {
    val up = logs.toDF(logs.columns.toIndexedSeq.map(_.toUpperCase): _*)
    withLoginPads(up, categories, site = "SITESEQ", code = "PRODUCTCODE", logtype = "LOGTYPE")
      .select(
        substring(col("USERID"), 1, 100).as("USER_ID") +:
        col("SITESEQ").as("SHOPPING_ID") +:
        col("TRANSACTION_DATE") +: col("TRANSACTION_TIME") +:
        col("LOGTYPE").as("LOG_TYPE") +:
        categoryColumns.map(col): _*)
  }

  /** C12's row set from one broadcast left join: every row of `df`
    * joined to its category matches (the inner join), plus, for each
    * login row, one extra copy whose join key is nulled so it matches
    * nothing and comes out null-padded. Unmatched non-pad copies are
    * dropped. A login row thus yields exactly one padded row however
    * many category rows it matches. Returns `df`'s columns plus the
    * category columns (and two helper columns callers project away).
    * Also serves the streaming chain: a stream-static left outer join
    * with the stream on the left is supported. */
  private[etl] def withLoginPads(df: DataFrame, categories: DataFrame,
                                 site: String, code: String, logtype: String): DataFrame = {
    val copies = df
      .withColumn("c12_pad", explode(
        when(col(logtype) === "login", array(lit(false), lit(true))).otherwise(array(lit(false)))))
      .withColumn("c12_code", when(!col("c12_pad"), col(code)))
    copies
      .join(broadcast(categories),
        copies(site) === categories("SHOPPING_ID") && copies("c12_code") === categories("ITEM_CODE"),
        "left_outer")
      .filter(col("c12_pad") || categories("ITEM_CODE").isNotNull)
  }
}
