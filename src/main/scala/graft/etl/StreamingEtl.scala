package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The 13-stage pipeline as a Structured Streaming job: the reference
  * re-runs the batch monthly over `yyyymm=` partitions
  * (configs/etl_config.json:28); this is the continuous form of the
  * same transform — `readStream` on the log path, stream-static
  * broadcast join against the category dimension, and the final dedup
  * as `dropDuplicatesWithinWatermark` so state stays bounded by the
  * watermark horizon instead of growing forever.
  *
  * Differences from the batch chain, by necessity:
  *   - the parsed event timestamp survives to the end (the watermark
  *     column must exist where the stateful dedup runs) and is dropped
  *     from the final projection;
  *   - dedup keys on the 16 output columns (same as batch) but within
  *     the watermark window — a duplicate arriving later than the
  *     watermark delay is NOT collapsed. That is the documented
  *     streaming tradeoff; exact global dedup remains the batch job.
  */
object StreamingEtl {

  def transform(logs: DataFrame, categories: DataFrame, types: TransformTypes,
                zone: String = "Asia/Seoul",
                watermark: String = "1 hour"): DataFrame = {
    // C1-C6: stateless — reused from the batch pipeline verbatim
    val parsed = Selectors.selectAll(logs, types)
      .transform(Transforms.adjustTimestampFormat)
      .transform(Transforms.adjustTimezone(_, zone))
      .withWatermark("timestamp", watermark)

    // C7 keep-ts variant (the batch one drops the timestamp column)
    val s = split(col("timestamp").cast(StringType), " ")
    val shaped = parsed.select(
      col("timestamp").as("event_ts"),
      col("maid"), col("siteseq"), col("userid"), col("logtype"),
      s.getItem(0).as("transaction_date"),
      s.getItem(1).as("transaction_time"),
      col("productCode"), col("productName"))

    // C8+C9
    val scrub = shaped
      .transform(Transforms.removeComma)
      .transform(Transforms.removeQuote)

    // C10 keep-ts
    val exploded = scrub
      .withColumn("tmp", explode_outer(arrays_zip(col("productCode"), col("productName"))))
      .select(col("event_ts"), col("maid"), col("siteseq"), col("userid"),
        col("transaction_date"), col("transaction_time"), col("logtype"),
        col("tmp.productCode").as("productCode"),
        col("tmp.productName").as("productName"))

    // C11 keep-ts
    val withId = exploded.withColumn("userid",
      coalesce(col("userid"), col("maid"))).drop("maid")

    // C12 keep-ts: the batch chain's single stream-static broadcast left
    // join (matches plus one null-padded copy per login row)
    val enriched = Enrichment.withLoginPads(withId, categories,
        site = "siteseq", code = "productCode", logtype = "logtype")
      .select(
        col("event_ts") +:
        substring(col("userid"), 1, 100).as("USER_ID") +:
        col("siteseq").as("SHOPPING_ID") +:
        col("transaction_date").as("TRANSACTION_DATE") +:
        col("transaction_time").as("TRANSACTION_TIME") +:
        col("logtype").as("LOG_TYPE") +:
        Enrichment.categoryColumns.map(col): _*)

    // C13: watermark-bounded dedup on the output contract columns
    enriched
      .dropDuplicatesWithinWatermark(Schemas.outputColumns)
      .drop("event_ts")
  }
}
