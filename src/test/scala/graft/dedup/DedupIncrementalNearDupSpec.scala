package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental near-dup dedup (dedupAgainstCorpusNearDupMd5): the
  * MinHash/LSH twin of the exact dedupAgainstCorpus family. */
class DedupIncrementalNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "through fields of green grass under a bright blue summer sky today"
  private val nearDup = base.replace("today", "tonight") // 1 token differs
  private val unrelated = "completely different content about database engines and " +
    "query optimization with columnar storage formats and vectorized execution plans"
  private val unrelated2 = "a short story about mountains rivers forests and the many " +
    "animals that wander between them during the long cold winter months"

  test("drops exact and reworded copies of the corpus, keeps new content") {
    val existing = Seq((100L, base), (101L, unrelated)).toDF("doc_id", "text")
    val incoming = Seq(
      (0L, base),      // exact copy of corpus 100 -> dropped
      (1L, nearDup),   // reworded copy of corpus 100 -> dropped
      (2L, unrelated2) // genuinely new -> kept
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstCorpusNearDupMd5(incoming, existing, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  test("incoming docs near-dup of each other but not of the corpus all survive") {
    val existing = Seq((100L, unrelated)).toDF("doc_id", "text")
    val incoming = Seq((0L, base), (1L, nearDup)).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstCorpusNearDupMd5(incoming, existing, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L)) // against-corpus contract: batch-internal twins pass
  }

  test("persisted index probe is row-identical to the in-flight form") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val inflight = Dedup.dedupAgainstCorpusNearDupMd5(
      incoming, existing, threshold = 0.5, maxBucketSize = Some(64))
      .select("doc_id").as[Long].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("nd-index").toString
    Dedup.nearDupIndex(existing, maxBucketSize = Some(64)).save(dir)
    val probed = Dedup.dedupAgainstCorpusNearDupIndexed(
      incoming, Banding.Index.load(spark, dir), threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(probed == inflight,
      s"persisted-index probe diverges: only-inflight=${inflight -- probed} only-probed=${probed -- inflight}")
  }

  test("agrees with the symmetric pair operator on the same split (uncapped)") {
    // dropped(incoming) must equal the incoming ids that appear in any
    // cross-side minhashNearDupsMd5 pair over the union — the pair
    // operator is the established oracle-checked construction.
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val existing = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val kept = Dedup.dedupAgainstCorpusNearDupMd5(incoming, existing, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val pairs = Dedup.minhashNearDupsMd5(docs, threshold = 0.5)
      .select("id1", "id2").collect()
    val crossMatched = pairs.flatMap { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      Seq(a, b).filter(x => x % 5 == 0 && (if (x == a) b else a) % 5 != 0)
    }.toSet
    val allIncoming = incoming.select("doc_id").as[Long].collect().toSet
    assert(kept == allIncoming -- crossMatched)
  }

  test("bucket cap drops degenerate corpus buckets instead of fanning out") {
    // 500 identical corpus docs put the whole corpus in one bucket per
    // band; the cap excises those buckets (documented escape hatch), so
    // the identical incoming doc finds no candidates and survives.
    val existing = (100L until 600L).map(i => (i, base)).toDF("doc_id", "text")
    val incoming = Seq((0L, base)).toDF("doc_id", "text")
    val uncapped = Dedup.dedupAgainstCorpusNearDupMd5(incoming, existing, threshold = 0.5)
    assert(uncapped.count() == 0L) // exact: the copy is caught
    val capped = Dedup.dedupAgainstCorpusNearDupMd5(incoming, existing, threshold = 0.5,
      maxBucketSize = Some(64))
    assert(capped.count() == 1L) // capped: bucket excised, row passes to later stages
  }
}
