package graft.streaming

import graft.dedup.{Banding, Dedup}
import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus ingest: the pretraining-data preparation flow
  * (quality gate → dedup → per-language accounting) as a continuous
  * Structured Streaming job over documents arriving with an ingest
  * timestamp. The batch form is `x_corpus_pipeline`; this is the same
  * logic with state bounded by the watermark:
  *
  *   - the quality gate and fingerprinting are stateless, narrow, and
  *     identical to the batch operators (same native text_stats pass);
  *   - dedup keys on the whitespace/case-robust fingerprint via
  *     `dropDuplicatesWithinWatermark` — a duplicate arriving later
  *     than the watermark delay is NOT collapsed (documented streaming
  *     tradeoff; exact global dedup remains the batch job);
  *   - accounting is a watermarked tumbling-window aggregation, so
  *     late docs beyond the delay are dropped and state is bounded.
  */
object CorpusStream {

  /** docs: streaming frame with (ingest_ts timestamp, doc_id, lang,
    * text). Returns per-(window, lang) doc and token counts of the
    * kept, deduplicated stream. */
  def ingest(docs: DataFrame, minQuality: Int = 60,
             windowDur: String = "1 hour",
             watermark: String = "1 hour"): DataFrame = {
    val t = col("text")
    val scored = docs
      .withWatermark("ingest_ts", watermark)
      .select(col("ingest_ts"), col("doc_id"), col("lang"), t,
        TextAnalysis.textStats(t).as("st"))
      .select(col("ingest_ts"), col("doc_id"), col("lang"), t,
        col("st.n_tokens").as("n_tokens"),
        TextAnalysis.qualityScoreFrom(col("st"), t).as("quality"))
    scored
      .filter(col("quality") >= minQuality)
      .withColumn("fp", TextAnalysis.fingerprint(t))
      .dropDuplicatesWithinWatermark("fp")
      .groupBy(window(col("ingest_ts"), windowDur), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("total_tokens"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("lang"), col("n_docs"), col("total_tokens"))
  }

  /** Streaming NEAR-dup ingest dedup: each arriving micro-batch keeps
    * only docs that are not Jaccard near-duplicates of the existing
    * corpus, appending survivors to `outPath` — the continuous twin of
    * `Dedup.dedupAgainstCorpusNearDupMd5`.
    *
    * Shape: `foreachBatch` applying the BATCH operator against a
    * prebuilt (cached/persisted) [[Dedup.nearDupIndex]]. The
    * per-row keep decision needs a NOT-EXISTS over the row's band
    * fan-out — an aggregation back to the row — which Structured
    * Streaming cannot express stream-side without unsupported
    * stream-stream anti-join state; `foreachBatch` is the supported
    * pattern for exactly this (the micro-batch IS a batch), and keeps
    * stream and batch semantics IDENTICAL by construction — the spec
    * pins stream==batch output equality. Exactly-once comes from the
    * checkpoint + idempotent parquet append; the corpus index is
    * static across micro-batches (refresh it on corpus growth by
    * restarting the query — same contract as the bloom ingest path's
    * rebuild-on-growth). */
  /** Driver-held running count-min sketch for the streaming frequency
    * monitor: micro-batches fold their token streams into per-batch
    * sketches (distributed, map-side merged) and `merge` unions them
    * here. CMS union with identical (eps, confidence, seed) is exact —
    * the running sketch equals the one a single pass over all batches
    * would build — so estimates keep the never-underestimate contract
    * the heavy-hitters prefilter relies on.
    *
    * Failure semantics, stated honestly: foreachBatch is at-least-once
    * for side effects, and a re-run batch merges TWICE — counts can
    * only inflate, so `estimate >= true` survives retries but tight
    * accounting does not. That is the right contract for a MONITOR
    * (alerting on hot tokens / emerging spam); durable exact
    * accounting is the batch per-shard sketch lifecycle (ApproxSpec),
    * where each shard's sketch is written idempotently. */
  final class RunningCms(val eps: Double = 1e-4,
                         val confidence: Double = 0.99,
                         val seed: Int = 42) extends Serializable {
    import org.apache.spark.util.sketch.CountMinSketch
    private val sketch: CountMinSketch = CountMinSketch.create(eps, confidence, seed)
    def merge(batchSketch: CountMinSketch): Unit = synchronized {
      sketch.mergeInPlace(batchSketch)
    }
    def estimate(tokenHash: Long): Long = synchronized {
      sketch.estimateCount(java.lang.Long.valueOf(tokenHash))
    }
    def estimateToken(token: String): Long =
      estimate(Dedup.md5Hash60Value(token))
    def totalCount: Long = synchronized(sketch.totalCount())
  }

  /** Continuous token-frequency monitor: every arriving micro-batch
    * folds its whitespace tokens (hashed md5-60, the same probe keys
    * as `Corpus.heavyHitterTokens`) into `monitor`. The stream never
    * shuffles — each batch's sketch build is one narrow aggregate —
    * and the monitor answers point estimates at any time while the
    * query runs. */
  def monitorTokenFrequencies(docs: DataFrame, monitor: RunningCms,
                              checkpoint: String,
                              textCol: String = "text"): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val hashed = batch
          .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
          .select(Dedup.md5Hash60(col("tok")).as("_h"))
        monitor.merge(hashed.stat.countMinSketch("_h",
          monitor.eps, monitor.confidence, monitor.seed))
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Streaming chunk-store ingest — content-defined-chunking dedup
    * across micro-batches (the dedup-storage shape, applied to corpus
    * ingest): each batch's docs are cut into CDC chunks
    * (`Corpus.cdcChunks` — boundaries survive edits, so a re-crawled
    * page with one inserted paragraph re-uses every other chunk), new
    * chunk fingerprints are appended to a persisted parquet index, and
    * the per-doc manifest (chunk_idx → fp, is_new) lands in `outPath`.
    * `is_new` = the fp was absent from the index BEFORE this batch;
    * batch-internal repeats are all marked new but the index stays
    * distinct. Storage saved = the manifest rows with is_new = false.
    *
    * Scale shape: the index is a distinct-fp parquet table (at rest:
    * bucket it by fp so the anti-join prunes); per batch the exchange
    * carries 16-byte fps only, and the chunk table is materialized
    * once per batch (it feeds the index append AND the manifest). */
  def ingestCdcChunkStore(docs: DataFrame, indexPath: String, outPath: String,
                          checkpoint: String, avgChunk: Int = 16): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val chunks = GraftPins.cut(graft.corpus.Corpus.cdcChunks(batch, avgChunk))
        val known =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(indexPath)))
            spark.read.parquet(indexPath)
          else chunks.select(col("chunk_fp")).limit(0)
        // the manifest MUST be written before the index append — both
        // lazily re-scan indexPath at action time, and a pre-appended
        // scan is what "absent from the index BEFORE this batch" means
        chunks.join(known.select(col("chunk_fp"), lit(1).as("_seen")),
            Seq("chunk_fp"), "left")
          .withColumn("is_new", col("_seen").isNull).drop("_seen")
          .write.mode("append").parquet(outPath)
        chunks.select(col("chunk_fp")).distinct()
          .join(known, Seq("chunk_fp"), "left_anti")
          .write.mode("append").parquet(indexPath)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  def ingestNearDupDedup(docs: DataFrame, index: Banding.Index,
                         outPath: String, checkpoint: String,
                         threshold: Double = 0.7, k: Int = 16,
                         rowsPerBand: Int = 2, shingleW: Int = 3): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Dedup.dedupAgainstCorpusNearDupIndexed(batch, index,
            threshold = threshold, k = k, rowsPerBand = rowsPerBand, shingleW = shingleW)
          .write.mode("append").parquet(outPath)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
