package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference's own formulations of the stages that used to fan the
  * scan out, kept as a test-only oracle for the single-pass chain:
  * the per-branch union of C1-C4 (jobs/etl_job.py:146-257), the
  * two-branch union of C11 (jobs/etl_job.py:353-366) and the inner join
  * ∪ login re-read of C12 (jobs/etl_job.py:380-423). Each union branch
  * re-reads its input, so these plans scan the source many times. */
object UnionOracle {

  private def branch(df: DataFrame, ids: Seq[String], b: Branch): DataFrame = {
    val base = df
      .filter(col("logtype").isin(b.logtypes: _*) && col("info.siteseq").isin(ids: _*))
      .select(
        col("maid"),
        col("info.siteseq").as("siteseq"),
        col("userid"),
        col("timestamp"),
        col("logtype"),
        json_tuple(col("custom"), b.codeKey, b.nameKey).as(Seq("productCode", "productName")))
    if (b.codeFromUrlLastSegment)
      base.select(
        col("maid"), col("siteseq"), col("userid"), col("timestamp"), col("logtype"),
        element_at(split(col("productCode"), "/"), -1).as("productCode"),
        col("productName"))
    else base
  }

  def selectAll(df: DataFrame, types: TransformTypes): DataFrame =
    types.familyIds.filter(_._2.nonEmpty)
      .flatMap { case (family, ids) => family.branches.map(branch(df, ids, _)) }
      .reduce(_ union _)

  def preJoin(logs: DataFrame, types: TransformTypes): DataFrame =
    selectAll(logs, types)
      .transform(Transforms.adjustTimestampFormat)
      .transform(Transforms.adjustTimezone(_))
      .transform(Transforms.splitTimestamp)
      .transform(Transforms.removeComma)
      .transform(Transforms.removeQuote)
      .transform(Transforms.explodeList)

  def selectValidId(df: DataFrame): DataFrame = {
    val tail = Seq("siteseq", "transaction_date", "transaction_time",
      "logtype", "productCode", "productName").map(col)
    val nullBranch = df.filter(col("userid").isNull)
      .select(col("maid").as("userid") +: tail: _*)
    val okBranch = df.filter(col("userid").isNotNull)
      .select(col("userid") +: tail: _*)
    nullBranch.union(okBranch)
  }

  def joinWithCategories(logs: DataFrame, categories: DataFrame): DataFrame = {
    val up = logs.toDF(logs.columns.map(_.toUpperCase): _*)
    val joined = up
      .join(broadcast(categories),
        up("SITESEQ") === categories("SHOPPING_ID") &&
          up("PRODUCTCODE") === categories("ITEM_CODE"))
      .select(
        up("USERID").as("USER_ID"),
        up("SITESEQ").as("SHOPPING_ID"),
        up("TRANSACTION_DATE"), up("TRANSACTION_TIME"),
        up("LOGTYPE").as("LOG_TYPE"),
        col("INTG_ID"), col("ITEM_CODE"), col("ITEM_NAME"),
        col("CAT1"), col("CAT2"), col("CAT3"), col("CAT4"),
        col("INTG_CAT1"), col("INTG_CAT2"), col("INTG_CAT3"), col("INTG_CAT4"))
    val nullStr = lit(null).cast(StringType)
    val loginRows = up
      .filter(col("LOGTYPE") === "login")
      .select(
        col("USERID").as("USER_ID"),
        col("SITESEQ").as("SHOPPING_ID"),
        col("TRANSACTION_DATE"), col("TRANSACTION_TIME"),
        col("LOGTYPE").as("LOG_TYPE"),
        nullStr.as("INTG_ID"), nullStr.as("ITEM_CODE"), nullStr.as("ITEM_NAME"),
        nullStr.as("CAT1"), nullStr.as("CAT2"), nullStr.as("CAT3"), nullStr.as("CAT4"),
        nullStr.as("INTG_CAT1"), nullStr.as("INTG_CAT2"),
        nullStr.as("INTG_CAT3"), nullStr.as("INTG_CAT4"))
    joined.union(loginRows)
      .withColumn("USER_ID", substring(col("USER_ID"), 1, 100))
  }

  def transformData(logs: DataFrame, categories: DataFrame, types: TransformTypes): DataFrame =
    preJoin(logs, types)
      .transform(selectValidId)
      .transform(joinWithCategories(_, categories))
      .transform(Transforms.dropAllDuplicates)
}
