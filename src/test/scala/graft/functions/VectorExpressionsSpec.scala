package graft.functions

import graft.SparkSpec
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("DotProduct matches the interpreted fold bit-for-bit") {
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(25)((
      Array.fill(16)(rnd.nextDouble() * 2000 - 1000),
      Array.fill(16)(rnd.nextDouble() * 2000 - 1000)))
    val df = cases.toDF("a", "b")
    val rows = df.select(
      VectorFunctions.dotProduct(col("a"), col("b")).as("fast"),
      Similarity.dotFold(col("a"), col("b")).as("fold")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("DotProduct: null array yields null, values correct") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0))),
      (None, Some(Array(3.0, 4.0)))
    ).toDF("a", "b")
    val out = df.select(VectorFunctions.dotProduct(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(out(0) == 11.0)
    assert(out(1) == null)
  }

  test("CmsEstimateBcast never underestimates and is exact for distinct-heavy keys") {
    import org.apache.spark.util.sketch.CountMinSketch
    val rnd = new scala.util.Random(7)
    val keys = Seq.fill(5000)(rnd.nextInt(300).toLong) // skewed duplicates
    val truth = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cms = CountMinSketch.create(1e-3, 0.99, 42)
    keys.foreach(k => cms.add(java.lang.Long.valueOf(k)))
    val bc = spark.sparkContext.broadcast(cms)
    val est = truth.keys.toSeq.toDF("k")
      .repartition(3) // exercise codegen across tasks
      .select(col("k"),
        VectorFunctions.cmsEstimateBcast(bc, col("k")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"CMS underestimated key $k: ${est(k)} < $n")
    }
    // with eps=1e-3 over 5000 adds, collisions add < eps*N = 5 — the
    // estimate is within slack, not garbage
    assert(truth.forall { case (k, n) => est(k) <= n + 5 })
  }

  test("RollingHashes matches the column-function form exactly") {
    import graft.text.TextAnalysis
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "short one", "a b c d e f g h i j k l m n o p q").map(Tuple1(_))
    val df = texts.toDF("text")
    val rows = df.select(
      TextAnalysis.rollingFingerprints(col("text")).as("fast"),
      TextAnalysis.rollingFingerprintsHof(col("text")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("RollingNgrams matches the column-function shingle form exactly") {
    import graft.dedup.Dedup
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "short one", "a", "a b c a b c a b c d",
      "x y x y x y").map(Tuple1(_))
    val df = texts.toDF("text")
    val rows = df.select(
      Dedup.shingles(col("text")).as("fast"),
      Dedup.shinglesHof(col("text")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("TextStats matches the per-counter column functions field-for-field") {
    import graft.text.TextAnalysis
    val texts = Seq(
      "The quick brown fox, it jumps over the lazy dog!",
      "  leading and trailing  ", "", "one",
      "tabs\there\tand\nnewlines", "!!! ??? ...",
      "averyveryveryverylongtokenthatgoesonandonandonpastthirty chars",
      "the the the a a of", "数字 and 中文 mixed in").map(Tuple1(_))
    val df = texts.toDF("text")
    val t = col("text")
    val rows = df.select(
      TextAnalysis.textStats(t).as("st"),
      TextAnalysis.tokenCount(t).as("c1"),
      TextAnalysis.maxTokenLen(t).as("c2"),
      TextAnalysis.punctCount(t).as("c3"),
      TextAnalysis.stopwordCount(t).as("c4"),
      TextAnalysis.wordCharCount(t).as("c5"),
      TextAnalysis.alphaTokenCount(t).as("c6"),
      TextAnalysis.qualityScoreFrom(col("st"), t).as("q1"),
      TextAnalysis.qualityScore(t).as("q2")).collect()
    rows.foreach { r =>
      val st = r.getStruct(0)
      assert(st.getInt(0) == r.getInt(1), s"n_tokens: $r")
      assert(st.getInt(1) == r.getInt(2), s"max_token_len: $r")
      assert(st.getInt(2) == r.getInt(3), s"n_punct: $r")
      assert(st.getInt(3) == r.getInt(4), s"n_stopwords: $r")
      assert(st.getInt(4) == r.getInt(5), s"n_word_chars: $r")
      assert(st.getInt(5) == r.getInt(6), s"n_alpha_tokens: $r")
      assert(r.getInt(7) == r.getInt(8), s"quality: $r")
    }
  }

  test("md5 expressions match their column-function equivalents") {
    import graft.dedup.Dedup
    import graft.text.TextAnalysis
    val V = org.apache.spark.sql.graftext.VectorExpressions
    val texts = Seq(
      "The Quick  Brown\tFox jumps\nover the lazy dog",
      "short one", "a", "MiXeD CaSe   WITH   Runs").map(Tuple1(_))
    val df = texts.toDF("text")
    val toks = TextAnalysis.tokens(col("text"))
    val rows = df.select(
      V.normalizeWs(col("text")).as("nw_fast"),
      regexp_replace(lower(col("text")), "\\s+", " ").as("nw_hof"),
      V.md5Hashes60(toks).as("h60_fast"),
      transform(toks, t => Dedup.md5Hash60(t)).as("h60_hof"),
      V.simhashFrom(V.md5Hashes60(toks), 60).as("sh_fast"),
      Dedup.simhashFrom(V.md5Hashes60(toks), 60).as("sh_hof"),
      V.md5Min(Dedup.shingles(col("text"))).as("mm_fast"),
      array_min(transform(Dedup.shingles(col("text")),
        g => md5(g.cast("binary")))).as("mm_hof"),
      V.md5MinHash(Dedup.shingles(col("text")), 8).as("mh_fast"),
      transform(sequence(lit(0), lit(7)), j => array_min(transform(
        Dedup.shingles(col("text")),
        g => conv(substring(md5(g.cast("binary")), 1, 14), 16, 10).cast("long")
          + j * conv(substring(md5(g.cast("binary")), 17, 14), 16, 10).cast("long"))))
        .as("mh_hof")).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getSeq[Long](2) == r.getSeq[Long](3))
      assert(r.getLong(4) == r.getLong(5))
      assert(r.getString(6) == r.getString(7))
      assert(r.getSeq[Long](8) == r.getSeq[Long](9))
    }
  }

  test("LshBandBuckets matches the literal CASE-chain buckets on random vectors") {
    import org.apache.spark.sql.graftext.{LshBandBuckets, VectorExpressions => V}
    val rnd = new scala.util.Random(7)
    val dim = 16
    val nBands = 6
    val bits = 9
    val stride = Similarity.MaxBitsPerBand
    val cases = Seq.fill(200)(Array.fill(dim)(rnd.nextDouble() * 20 - 10)).map(Tuple1(_))
    val df = cases.toDF("v")
    val flat = LshBandBuckets.flatPlanes(dim, nBands * stride)
    val rows = df.select(
      V.lshBandBuckets(col("v"), flat, dim, nBands, bits, stride).as("fast"),
      array(Similarity.lshBandBuckets(col("v"), dim, nBands, bits,
        planeStride = stride): _*).as("lit")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // the family is non-degenerate on this data
    assert(rows.flatMap(_.getSeq[Long](0)).distinct.length > 10)
  }

  test("RollingHashes skips null elements like concat_ws does") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql(
      "SELECT rolling_hashes(array('a', CAST(NULL AS STRING), 'b'), 3)[0] AS h, " +
        "xxhash64('a b') AS expect").collect().head
    assert(r.getLong(0) == r.getLong(1))
  }

  test("SortedIntersectCount matches size(array_intersect) on random sorted distinct arrays") {
    val rnd = new scala.util.Random(13)
    val cases = Seq.fill(50)((
      rnd.shuffle((0L until 200L).toList).take(rnd.nextInt(40)).sorted.toArray,
      rnd.shuffle((0L until 200L).toList).take(rnd.nextInt(40)).sorted.toArray))
    val rows = cases.toDF("a", "b").select(
      VectorFunctions.sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    // empty and null propagation
    val edge = Seq(
      (Some(Array(1L, 2L)), Some(Array.empty[Long])),
      (None, Some(Array(1L)))).toDF("a", "b")
      .select(VectorFunctions.sortedIntersectCount(col("a"), col("b")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(edge(0) == 0L)
    assert(edge(1) == null)
  }

  test("poisson_bootstrap_draws from SQL equals the interpreted md5 chain, halves included") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql("""
      SELECT poisson_bootstrap_draws(42L, 4) AS ks,
             CAST(conv(substr(md5('42_0'), 1, 13), 16, 10) AS BIGINT) AS u0,
             CAST(conv(substr(md5('42_0'), 17, 13), 16, 10) AS BIGINT) AS u1,
             CAST(conv(substr(md5('42_1'), 1, 13), 16, 10) AS BIGINT) AS u2,
             CAST(conv(substr(md5('42_1'), 17, 13), 16, 10) AS BIGINT) AS u3
    """).collect().head
    val thresholds = graft.ops.Relational.PoissonCdf52
    def k(u: Long): Long =
      thresholds.indexWhere(u < _) match { case -1 => 8L; case i => i.toLong }
    val expect = Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)).map(k)
    assert(r.getSeq[Long](0) == expect, s"${r.getSeq[Long](0)} vs $expect")
    // the draw family has mean ~1: over many keys the counts average out
    val mean = spark.sql("""
      SELECT AVG(CAST(d AS DOUBLE)) FROM (
        SELECT explode(poisson_bootstrap_draws(id, 16)) AS d FROM range(0, 500))
    """).collect().head.getDouble(0)
    assert(math.abs(mean - 1.0) < 0.05, s"Poisson(1) mean drifted: $mean")
  }

  test("every native function is callable from SQL after registration") {
    graft.functions.VectorFunctions.register(spark)
    val r = spark.sql("""
      SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
             size(rolling_hashes(array('a','b','c'), 2)) AS rh,
             rolling_ngrams(array('a','b','c'), 2) AS rn,
             size(md5_minhash(array('a','b'), 4)) AS mh,
             md5_min(array('b','a')) AS mm,
             md5_hashes60(array('a'))[0] AS h60,
             CAST(conv(substr(md5('a'), 1, 15), 16, 10) AS BIGINT) AS h60_expect,
             simhash_from(array(1L, 3L), 4) AS sh,
             normalize_ws('  A  b ') AS nw,
             text_stats('the cat!') AS st
    """).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
    assert(r.getSeq[String](2) == Seq("a b", "b c"))
    assert(r.getInt(3) == 4)
    assert(r.getString(4) == "0cc175b9c0f1b6a831c399e269772661") // md5('a') < md5('b')
    assert(r.getLong(5) == r.getLong(6))
    assert(r.getLong(7) == 1L) // bit 0 shared by both, bit 1 split 1-1
    assert(r.getString(8) == " a b ")
    val st = r.getStruct(9)
    assert((st.getInt(0), st.getInt(1), st.getInt(2), st.getInt(3),
      st.getInt(4), st.getInt(5)) == ((2, 4, 1, 1, 7, 2)))
    // the merge-scan intersect kernel registers too
    assert(spark.sql("SELECT sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L))")
      .collect().head.getLong(0) == 2L)
    // the generator registers too: one call expands the i<j pairs
    val pairs = spark.sql("SELECT id_pairs(array(1L, 2L, 3L))").collect()
      .map(p => (p.getLong(0), p.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the banded-bucket kernel registers with literal size args and
    // matches the library wrapper exactly
    val lbb = spark.sql(
      "SELECT lsh_band_buckets(array(0.5d, -0.25d, 0.125d), 3, 2, 4, 20) AS b")
      .collect().head.getSeq[Long](0)
    val wrapped = Seq(Tuple1(Array(0.5, -0.25, 0.125))).toDF("v").select(
      org.apache.spark.sql.graftext.VectorExpressions.lshBandBuckets(col("v"),
        org.apache.spark.sql.graftext.LshBandBuckets.flatPlanes(3, 2 * 20),
        3, 2, 4, 20)).collect().head.getSeq[Long](0)
    assert(lbb.length == 2 && lbb == wrapped, s"sql=$lbb wrapper=$wrapped")
  }

  test("GraftExtensions injects the full function surface into a SparkSessionExtensions") {
    // builder-time path can't be exercised against the shared session
    // (getOrCreate returns it), so verify the injection hook directly
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new org.apache.spark.sql.graftext.GraftExtensions()(e)
    // applying again must not throw (idempotent registration contract)
    new org.apache.spark.sql.graftext.GraftExtensions()(e)
  }

  test("DotProduct survives whole-stage codegen (plan executes with many rows)") {
    val n = 10000
    val df = spark.range(n).select(
      col("id"),
      array((0 until 8).map(i => (col("id") + i).cast("double")): _*).as("v"))
    val total = df.select(sum(VectorFunctions.dotProduct(col("v"), col("v"))).as("s"))
      .collect().head.getDouble(0)
    assert(total > 0)
  }
}
