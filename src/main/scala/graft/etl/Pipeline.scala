package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset}

/** The 16-column output record (jobs/etl_job.py:416-423) — typed API
  * boundary per SURVEY.md §1.4; all fields nullable strings by the
  * reference's contract (login rows carry null category columns). */
final case class EtlResult(
    USER_ID: String, SHOPPING_ID: String,
    TRANSACTION_DATE: String, TRANSACTION_TIME: String,
    LOG_TYPE: String, INTG_ID: String, ITEM_CODE: String, ITEM_NAME: String,
    CAT1: String, CAT2: String, CAT3: String, CAT4: String,
    INTG_CAT1: String, INTG_CAT2: String, INTG_CAT3: String, INTG_CAT4: String)

/** The 13-stage transform chain (jobs/etl_job.py:138-161), composed with
  * native `Dataset.transform`.
  *
  * Scale notes (local[32] tests, 1000-executor design point):
  *   - The chain reads its input ONCE: the physical plan is one linear
  *     pass over one parquet scan, then the broadcast join, then the
  *     dedup exchange. No stage unions two subplans of the input
  *     (Catalyst does not dedupe a repeated subplan, so each union
  *     branch would re-scan the source): C1-C4 tag and explode the
  *     matching branches, C11 is a `coalesce`, C12 is one left join.
  *   - Stages C1-C11 are narrow: filter/generate/project — they fuse
  *     into one whole-stage-codegen span over the scan, no shuffle.
  *   - C12 broadcasts the category dim — no shuffle.
  *   - C13 (dropDuplicates) is the single shuffle: hash exchange on all
  *     16 columns. Map-side partial dedup runs first, so the exchange
  *     carries only distinct rows per task — at 100 TB the shuffle volume
  *     is bounded by true distinct cardinality, not input size.
  */
object Pipeline {

  /** C1..C10 — the reference's `test_transform` surface
    * (jobs/etl_job.py:470-489), which defines the golden files. */
  def preJoin(logs: DataFrame, types: TransformTypes,
              zone: String = "Asia/Seoul"): DataFrame =
    Selectors.selectAll(logs, types)
      .transform(Transforms.adjustTimestampFormat)
      .transform(Transforms.adjustTimezone(_, zone))
      .transform(Transforms.splitTimestamp)
      .transform(Transforms.removeComma)
      .transform(Transforms.removeQuote)
      .transform(Transforms.explodeList)

  /** The full chain C1..C13 (jobs/etl_job.py:138-161). */
  def transformData(logs: DataFrame, categories: DataFrame,
                    types: TransformTypes,
                    zone: String = "Asia/Seoul"): DataFrame =
    preJoin(logs, types, zone)
      .transform(Transforms.selectValidId)
      .transform(Enrichment.joinWithCategories(_, categories))
      .transform(Transforms.dropAllDuplicates)

  /** Typed variant: same plan, case-class rows at the API boundary. */
  def transformDataTyped(logs: DataFrame, categories: DataFrame,
                         types: TransformTypes,
                         zone: String = "Asia/Seoul"): Dataset[EtlResult] = {
    val df = transformData(logs, categories, types, zone)
    import df.sparkSession.implicits._
    df.as[EtlResult]
  }
}
