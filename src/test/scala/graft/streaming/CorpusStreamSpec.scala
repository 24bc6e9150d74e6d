package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.sql.Timestamp

class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private val schema = StructType(Seq(
    StructField("ingest_ts", TimestampType), StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("text", StringType)))

  private val good = "the quick brown fox jumps over the lazy dog and runs away today"
  private val junk = "x" // fails the min-token quality gate

  test("streaming ingest quality-gates, dedups across batches, counts per window") {
    val dir = java.nio.file.Files.createTempDirectory("corpus-stream").toString
    Seq(
      (ts(10, 5), 1L, "en", good),
      (ts(10, 10), 2L, "en", junk),              // filtered by quality
      (ts(10, 15), 3L, "de", good + " extra de") // distinct fingerprint
    ).toDF("ingest_ts", "doc_id", "lang", "text").write.parquet(s"$dir/b1")

    val stream = spark.readStream.schema(schema).parquet(s"$dir/*")
    val q = CorpusStream.ingest(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("corpus_out").start()
    try {
      q.processAllAvailable()
      // batch 2: a same-fingerprint duplicate (case/whitespace noise)
      // within the watermark, plus a far-future doc to close the window
      Seq(
        (ts(10, 20), 4L, "en", good.toUpperCase.replace(" ", "   ")),
        (ts(14, 0), 99L, "en", good + " closes the watermark window")
      ).toDF("ingest_ts", "doc_id", "lang", "text")
        .write.mode("append").parquet(s"$dir/b2")
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, lang, n_docs, total_tokens FROM corpus_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      // en: doc 1 kept; doc 2 quality-filtered; doc 4 deduped (same
      // fingerprint as doc 1 modulo case/whitespace)
      assert(rows.contains(("2024-01-01 10:00:00", "en", 1L, 13L)), rows.toString)
      assert(rows.contains(("2024-01-01 10:00:00", "de", 1L, 15L)), rows.toString)
    } finally q.stop()
  }

  test("streaming frequency monitor: merged per-batch sketches never underestimate, match single-pass") {
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions.{col, explode, split}
    val dir = java.nio.file.Files.createTempDirectory("cms-stream").toString
    val b1 = Seq.tabulate(40)(i => (i.toLong, "hot common tail" + i))
    val b2 = Seq.tabulate(40)(i => (100L + i, "hot spike spike tail" + i))
    b1.toDF("doc_id", "text").write.parquet(s"$dir/in/b1")

    val monitor = new CorpusStream.RunningCms(eps = 1e-3)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .parquet(s"$dir/in/*")
    val q = CorpusStream.monitorTokenFrequencies(stream, monitor, s"$dir/ckpt")
    try {
      q.processAllAvailable()
      val hotAfterB1 = monitor.estimateToken("hot")
      assert(hotAfterB1 >= 40L, s"hot after b1: $hotAfterB1")
      b2.toDF("doc_id", "text").write.mode("append").parquet(s"$dir/in/b2")
      q.processAllAvailable()
      // exact counts over both batches
      val all = (b1 ++ b2).toDF("doc_id", "text")
      val truth = all.select(explode(split(col("text"), "\\s+")).as("tok"))
        .groupBy("tok").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(monitor.estimateToken("hot") >= truth("hot"))   // 80
      assert(monitor.estimateToken("spike") >= truth("spike")) // 80
      assert(monitor.estimateToken("common") >= truth("common")) // 40
      // merged running sketch == one sketch built over the union (same
      // eps/conf/seed => merge is exact)
      val single = all
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .select(Dedup.md5Hash60(col("tok")).as("_h"))
        .stat.countMinSketch("_h", monitor.eps, monitor.confidence, monitor.seed)
      Seq("hot", "spike", "common", "tail3").foreach { t =>
        assert(monitor.estimateToken(t) ==
          single.estimateCount(java.lang.Long.valueOf(Dedup.md5Hash60Value(t))),
          s"merged vs single-pass drift for '$t'")
      }
      assert(monitor.totalCount == single.totalCount)
    } finally q.stop()
  }

  test("streaming near-dup ingest == batch operator, across micro-batches") {
    import graft.dedup.Dedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "through fields of green grass under a bright blue summer sky today"
    val fresh = "a short story about mountains rivers forests and the many " +
      "animals that wander between them during the long cold winter months"
    val corpus = Seq((100L, base), (101L, "unrelated corpus text about engines " +
      "and query optimization with columnar storage and vectorized execution"))
      .toDF("doc_id", "text")
    val index = Dedup.nearDupIndex(corpus).cache()

    val dir = java.nio.file.Files.createTempDirectory("neardup-stream").toString
    val b1 = Seq((1L, base.replace("today", "tonight")), (2L, fresh)) // near-dup + new
    val b2 = Seq((3L, base), (4L, fresh + " second batch variant entirely new"))
    b1.toDF("doc_id", "text").write.parquet(s"$dir/in/b1")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema).parquet(s"$dir/in/*")
    val q = CorpusStream.ingestNearDupDedup(stream, index,
      s"$dir/out", s"$dir/ckpt", threshold = 0.5)
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text").write.mode("append").parquet(s"$dir/in/b2")
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSet
    val batch = Dedup.dedupAgainstCorpusNearDupMd5(
      (b1 ++ b2).toDF("doc_id", "text"), corpus, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    index.unpersist()
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Set(2L, 4L)) // near-dups of the corpus dropped, new kept
  }

  test("cdc chunk-store ingest: re-crawled doc with an insertion re-uses post-boundary chunks") {
    // fixture built under the operator's own boundary rule (md5 % 16 == 0)
    val words = (1 to 300).map(i => s"c$i")
    val (bnd, plain) = words.partition(w => graft.dedup.Dedup.md5Hash60Value(w) % 16 == 0)
    assert(bnd.size >= 3 && plain.size >= 12)
    val body = Seq(plain(0), plain(1), bnd(0), plain(2), plain(3), bnd(1),
      plain(4), plain(5), bnd(2), plain(6), plain(7))
    val recrawl = plain(8) +: body // one token inserted up front

    val dir = java.nio.file.Files.createTempDirectory("cdc-stream").toString
    Seq((1L, body.mkString(" "))).toDF("doc_id", "text")
      .write.parquet(s"$dir/in/b1")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema).parquet(s"$dir/in/*")
    val q = CorpusStream.ingestCdcChunkStore(stream,
      s"$dir/idx", s"$dir/out", s"$dir/ckpt")
    try {
      q.processAllAvailable()
      Seq((2L, recrawl.mkString(" "))).toDF("doc_id", "text")
        .write.mode("append").parquet(s"$dir/in/b2")
      q.processAllAvailable()
    } finally q.stop()

    val manifest = spark.read.parquet(s"$dir/out")
      .select("doc_id", "chunk_idx", "is_new")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    // batch 1: everything new (4 chunks: 3 closed + tail)
    assert(manifest.filter(_._1._1 == 1L).values.forall(identity))
    // batch 2: the first chunk absorbed the insertion (new); the three
    // post-boundary chunks re-align and are ALREADY in the store
    val d2 = manifest.filter(_._1._1 == 2L)
    assert(d2((2L, 0L)), "mutated head chunk must be new")
    assert(!d2((2L, 1L)) && !d2((2L, 2L)) && !d2((2L, 3L)),
      s"re-aligned chunks must dedup against the store: $d2")
    // the index holds exactly the distinct fingerprints, no re-appends
    val idx = spark.read.parquet(s"$dir/idx").collect().map(_.getString(0))
    assert(idx.length == idx.distinct.length, "index must stay distinct")
    assert(idx.length == 5, s"4 chunks from doc 1 + 1 new head from doc 2: ${idx.length}")
  }
}
