package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** C5-C11 + C13: the scalar transform stages of the pipeline.
  * Each is a pure `DataFrame => DataFrame`, composed with the native
  * `Dataset.transform` (the reference monkey-patched this combinator,
  * jobs/etl_job.py:131-135).
  *
  * All stages are narrow (no shuffle) except `dropAllDuplicates`, which
  * hash-partitions on all columns — at 100 TB that is THE shuffle of the
  * pipeline; see Pipeline.scala for the partitioning discussion.
  */
object Transforms {

  /** C5 (jobs/etl_job.py:273-281): pad second-precision ISO timestamps
    * to milli precision so one parse format handles both. */
  def adjustTimestampFormat(df: DataFrame): DataFrame =
    df.withColumn("timestamp",
      regexp_replace(col("timestamp"), "(\\d+-\\d+-\\d+T\\d+:\\d+:\\d+)Z", "$1.000Z"))

  /** C6 (jobs/etl_job.py:284-293): parse ISO string, convert UTC → KST.
    * `unix_timestamp` truncates to seconds — millis are deliberately
    * discarded, reproduced here (SURVEY.md §7.4 quirk 1). The reference
    * passes the deprecated 'KST' 3-letter id; we take the region id from
    * config (default Asia/Seoul — same wall-clock, no DST since 1988). */
  def adjustTimezone(df: DataFrame, zone: String = "Asia/Seoul"): DataFrame =
    df.withColumn("timestamp",
      from_utc_timestamp(
        unix_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").cast("timestamp"),
        zone))

  /** C7 (jobs/etl_job.py:296-307): split the *string rendering* of the
    * timestamp into transaction_date / transaction_time. The reference
    * splits the default `cast(ts as string)` rendering on ' ' — kept
    * verbatim (not `date_format`) to preserve its exact output, incl.
    * the fractional-seconds suffix when the ts has sub-second parts. */
  def splitTimestamp(df: DataFrame): DataFrame = {
    val s = split(col("timestamp").cast(StringType), " ")
    df.select(
      col("maid"), col("siteseq"), col("userid"), col("logtype"),
      s.getItem(0).as("transaction_date"),
      s.getItem(1).as("transaction_time"),
      col("productCode"), col("productName"))
  }

  /** C8 (jobs/etl_job.py:310-320): scrub commas from product fields.
    * The reference pattern `[^\"](\,+)|(\,+)[^\"]` also consumes the
    * adjacent non-quote character — reproduced byte-for-byte
    * (SURVEY.md §7.4 quirk 1). */
  private val commaPattern = "[^\\\"](\\,+)|(\\,+)[^\\\"]"
  def removeComma(df: DataFrame): DataFrame =
    df.withColumn("productCode", regexp_replace(col("productCode"), commaPattern, ""))
      .withColumn("productName", regexp_replace(col("productName"), commaPattern, ""))

  /** C9 (jobs/etl_job.py:323-333): strip `[`, `]`, `"` then split on ','
    * — turns the JSON-array-ish string `["a","b"]` into array<string>. */
  private val quotePattern = "(^\\[)|(\\]$)|(\\\")"
  def removeQuote(df: DataFrame): DataFrame =
    df.withColumn("productCode", split(regexp_replace(col("productCode"), quotePattern, ""), ","))
      .withColumn("productName", split(regexp_replace(col("productName"), quotePattern, ""), ","))

  /** C10 (jobs/etl_job.py:336-350): zip code/name arrays, explode to one
    * product per row. `explode_outer` keeps rows whose array is
    * null/empty (login rows have no product payload). */
  def explodeList(df: DataFrame): DataFrame =
    df.withColumn("tmp", explode_outer(arrays_zip(col("productCode"), col("productName"))))
      .select(
        col("maid"), col("siteseq"), col("userid"),
        col("transaction_date"), col("transaction_time"), col("logtype"),
        col("tmp.productCode").as("productCode"),
        col("tmp.productName").as("productName"))

  /** C11 (jobs/etl_job.py:353-366): fall back to the device id `maid` as
    * `userid` when userid is null. The reference's two-branch union
    * (null branch renames maid→userid) is one `coalesce`: each row takes
    * exactly one branch, so the row multiset is the same. */
  def selectValidId(df: DataFrame): DataFrame =
    df.select(coalesce(col("userid"), col("maid")).as("userid"),
      col("siteseq"), col("transaction_date"), col("transaction_time"),
      col("logtype"), col("productCode"), col("productName"))

  /** C13 (jobs/etl_job.py:369-377): full-row dedup. One hash exchange on
    * all 16 columns; map-side partial aggregation halves the shuffle. */
  def dropAllDuplicates(df: DataFrame): DataFrame =
    df.dropDuplicates()
}
