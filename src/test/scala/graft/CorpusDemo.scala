package graft

import graft.corpus.Corpus
import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data runbooks (CATALOG.md), executable end to end:
  * one main that takes a raw document table through quality gating,
  * exact + near-dup + sub-document dedup, fluency stratification,
  * leakage-free splitting, temperature mixing, and sequence packing,
  * printing one stats line per stage and writing the training
  * manifests. Every stage is an oracle-checked catalog operator — this
  * main demonstrates that their id/column contracts COMPOSE (the thing
  * unit queries can't show).
  *
  * A dev main in test scope, beside CorpusDemoSpec.
  *
  * Usage: sbt "Test/runMain graft.CorpusDemo [sfDir] [outDir]"
  */
object CorpusDemo {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-corpus-demo").toString)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir)
    spark.stop()
  }

  /** Runs the chain; returns the per-stage doc counts (name → rows) so
    * the smoke spec can assert monotonicity without re-running. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    val stats = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def stage(name: String, df: DataFrame): DataFrame = {
      val n = df.count()
      stats += name -> n
      println(f"[corpus-demo] $name%-28s $n%9d docs")
      df
    }

    val docs = stage("raw", Tables.documents(spark, sfDir))

    // 0. Declarative constraint suite (x_dq_checks): the validation a
    //    100 TB ingest runs BEFORE letting a batch into the corpus.
    //    The demo prints the report; a production runbook would abort
    //    on any failed row.
    graft.ops.DataQuality.runChecks(Seq(
      graft.ops.DataQuality.Completeness(docs, "documents", "text"),
      graft.ops.DataQuality.Completeness(docs, "documents", "doc_id"),
      graft.ops.DataQuality.Uniqueness(docs, "documents", Seq("doc_id"))))
      .collect().foreach { r =>
        println(f"[corpus-demo] dq_${r.getString(0)}%-40s " +
          f"violations=${r.getLong(2)} passed=${r.getBoolean(3)}")
      }

    // 0b. Provenance governance (x_cross_source): which sources share
    //     content — the double-counting a mixing decision must know
    //     about before weighting sources independently.
    val sharing = Dedup.crossSourceSharing(docs)
      .agg(count(lit(1)), coalesce(sum(col("n_doc_pairs")), lit(0L))).head()
    println(f"[corpus-demo] cross_source_sharing         " +
      f"${sharing.getLong(0)}%5d source pairs share anchors (${sharing.getLong(1)} doc pairs)")

    // 1. Heuristic quality gate (x_corpus_pipeline's gate).
    val gated = stage("quality_gate",
      docs.filter(TextAnalysis.qualityScore(col("text")) >= 60))

    // 2. Exact dedup on the collision-safe 120-bit fingerprint
    //    (x_dedup_exact128): ~free, shrinks everything downstream.
    val exact = Dedup.exactByFingerprint128(gated)
    val uniq = stage("exact_dedup",
      gated.join(exact.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi"))

    // 3. Near-dup chain (x_dedup_minhash → x_dedup_clusters →
    //    x_cluster_reps → x_dedup_apply).
    val pairs = Dedup.minhashNearDups(uniq, threshold = 0.5, maxBucketSize = Some(4096))
    val clusters = Dedup.dedupClusters(pairs)
    val reps = Dedup.clusterRepresentatives(uniq, clusters)
    val corpus = stage("neardup_dedup", Dedup.applyDedup(uniq, reps))

    // 4. Sub-document signal (x_dup_spans_apply): report the tokens a
    //    span-removal pass would reclaim (the rewrite contract is the
    //    cleaned-stream md5; the demo keeps original text downstream).
    val spans = Dedup.removeDupSpans(corpus)
    val Seq(totToks, keptToks) = spans
      .agg(sum(col("n_toks")), sum(col("n_kept"))).head().toSeq.map(_.asInstanceOf[Long])
    println(f"[corpus-demo] dup_span_tokens_reclaimable ${totToks - keptToks}%9d of $totToks")

    // 5. Fluency stratification (x_ppl_buckets): keep CCNet's head +
    //    middle tiers, drop the tail.
    val buckets = Corpus.pplBuckets(corpus, nBuckets = 3)
    val kept = stage("fluency_head_middle",
      corpus.join(buckets.filter(col("ppl_bucket") <= 2).select(col("doc_id")),
        Seq("doc_id"), "left_semi"))

    // 6. Leakage-free split (x_split_leakage_free): whole near-dup
    //    clusters land on one side of the train/eval boundary.
    val split = Corpus.assignSplitByCluster(kept, clusters,
      splits = Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02))
    val train = stage("train_split", split.filter(col("split") === "train"))

    // 7. Temperature mixing (x_mix_temperature): upweight low-resource
    //    languages without duplicating rows.
    val mixed = stage("temperature_mix",
      Corpus.mixCorpusTemperatureHalf(train.drop("split"), "lang"))

    // 8. Sequence packing (x_seq_pack): fixed-token training windows
    //    via the distributed prefix sum; write the manifest.
    val packed = Corpus.packSequences(mixed, seqLen = 256)
    packed.write.mode("overwrite").parquet(s"$outDir/seq_manifest")
    val nSeqs = spark.read.parquet(s"$outDir/seq_manifest")
      .select(col("seq_id")).distinct().count()
    stats += "packed_sequences" -> nSeqs
    println(f"[corpus-demo] packed_sequences             $nSeqs%9d seqs → $outDir/seq_manifest")

    // 9. Tokenizer induction (x_bpe_merges): learn the first BPE merges
    //    from the final training mix — the vocabulary the training run
    //    will tokenize with should be learned AFTER curation, not on
    //    the raw crawl.
    val merges = Corpus.learnBpeMerges(mixed, nMerges = 3)
      .orderBy(col("step")).collect()
    merges.foreach { r =>
      println(f"[corpus-demo] bpe_merge_${r.getInt(0)}%-17s '${r.getString(1)}' + '${r.getString(2)}' -> '${r.getString(3)}' (${r.getLong(4)} pairs)")
    }
    stats += "bpe_merges_learned" -> merges.length.toLong

    // eval sides land as JSONL shards for downstream harnesses
    graft.etl.Sinks.jsonlPartitioned(
      split.filter(col("split") =!= "train"), s"$outDir/eval", Seq("split"))
    stats.toSeq
  }
}
