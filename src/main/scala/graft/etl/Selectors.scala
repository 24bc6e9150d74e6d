package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C1-C4: per-site-family select stages (jobs/etl_job.py:164-257).
  *
  * The reference writes 9 near-identical branches by hand and unions
  * them; here the branches are data (`SiteFamily`) and all of them are
  * applied in one pass. Output columns: maid, siteseq, userid,
  * timestamp, logtype, productCode, productName.
  *
  * Scale note: one filter + generate + project over ONE scan — narrow,
  * no shuffle, no union. `custom` is parsed once by a single
  * `json_tuple` over every dialect key. Each row then builds one
  * (productCode, productName) pick per branch — null where the branch
  * does not match — and explodes them, dropping the nulls, so a row
  * yields one output row per matching branch (as the union did, also
  * when a site id is listed in two families). Every expression here
  * has generated code: no interpreted (higher-order) function runs per
  * row. The OR of the branch predicates still pushes
  * `logtype`/`siteseq` into the parquet scan.
  */
object Selectors {

  /** C1∪C2∪C3∪C4 for all configured families (jobs/etl_job.py:146-151). */
  def selectAll(df: DataFrame, types: TransformTypes): DataFrame = {
    val branches = for {
      (family, ids) <- types.familyIds if ids.nonEmpty
      b <- family.branches
    } yield (col("logtype").isin(b.logtypes: _*) && col("info.siteseq").isin(ids: _*), b)
    require(branches.nonEmpty, "no site families configured")

    val keys = branches.flatMap { case (_, b) => Seq(b.codeKey, b.nameKey) }.distinct
    val keyNames = keys.indices.map(i => s"key$i")
    val keyCol = keys.zip(keyNames.map(col)).toMap
    val picks = branches.map { case (matches, b) =>
      val code =
        if (b.codeFromUrlLastSegment)
          // type2 view rows: productCode = last '/'-segment of og:url
          // (jobs/etl_job.py:227,234-235)
          element_at(split(keyCol(b.codeKey), "/"), -1)
        else keyCol(b.codeKey)
      when(matches, struct(code.as("productCode"), keyCol(b.nameKey).as("productName")))
    }

    df.filter(branches.map(_._1).reduce(_ || _))
      .select(col("maid"), col("info.siteseq").as("siteseq"), col("userid"),
        col("timestamp"), col("logtype"), col("info"),
        json_tuple(col("custom"), keys: _*).as(keyNames))
      .withColumn("pick", explode(array(picks: _*)))
      .filter(col("pick").isNotNull)
      .select(col("maid"), col("siteseq"), col("userid"), col("timestamp"), col("logtype"),
        col("pick.productCode"), col("pick.productName"))
  }
}
