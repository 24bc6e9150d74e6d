package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private val benchDoc = "the quick brown fox jumps over the lazy dog tonight"
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over a fence today instead"), // shares shingles
    (2L, "completely unrelated words about storage engines and formats"),
    (3L, benchDoc) // fully contained in the benchmark
  ).toDF("doc_id", "text")
  private def benchmark = Seq((100L, benchDoc)).toDF("doc_id", "text")

  test("contamination flags overlapping docs with the right ratio, skips clean docs") {
    val out = Corpus.contamination(corpus, benchmark).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(!out.contains(2L), "clean doc must not appear")
    assert(out(3L)._1 == out(3L)._2, "identical doc shares every shingle")
    assert(out(3L)._3 == 1.0)
    assert(out(1L)._1 >= 1 && out(1L)._3 < 1.0, s"partial overlap expected: $out")
  }

  test("stratifiedSample is deterministic and respects threshold bounds") {
    val docs = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def run() = Corpus.stratifiedSample(docs, "lang",
      Map("en" -> (1L << 59)), defaultThreshold = 1L << 58)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = run()
    assert(run() == a, "same input must sample the same rows")
    // 50% target for en, 25% for de — loose bounds on 200 draws each
    val en = a.count(_ % 2 == 0)
    val de = a.count(_ % 2 == 1)
    assert(en > 60 && en < 140, s"en sample far from 50%: $en/200")
    assert(de > 20 && de < 80, s"de sample far from 25%: $de/200")
    // degenerate thresholds: 0 keeps nothing, 2^60 keeps everything
    assert(Corpus.stratifiedSample(docs, "lang", Map.empty, 0L).count() == 0)
    assert(Corpus.stratifiedSample(docs, "lang", Map.empty, 1L << 60).count() == 400)
  }

  test("operator salts decorrelate composed sampling decisions") {
    // unsalted, sample(50%) ∘ split(80/10/10) would put EVERY survivor
    // in train (survivors are exactly the ids with small draws); with
    // distinct per-operator salts the draws are independent
    val docs = (0L until 2000L).map(Tuple1(_)).toDF("doc_id")
      .withColumn("lang", lit("en"))
    val sampled = Corpus.stratifiedSample(docs, "lang", Map.empty, 1L << 59)
    val splits = Corpus.assignSplit(sampled, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.getOrElse("val", 0L) > 0 && splits.getOrElse("test", 0L) > 0,
      s"salted composition must populate every split: $splits")
    // and capPerSource's kept subset is not simply the sampled prefix
    val capped = Corpus.capPerSource(
      docs.withColumn("source", lit("s")), maxPerSource = 1000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sampledIds = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(capped != sampledIds, "cap and sample draws must differ")
  }

  test("mixCorpus downsamples over-represented strata toward the target share") {
    // 900 en / 100 de, target mix 50/50 → en rate 0.5·1000/900 ≈ 0.56,
    // de rate 0.5·1000/100 = 5 → capped at 1 (keep all)
    val docs = ((0L until 900L).map(i => (i, "en")) ++
      (900L until 1000L).map(i => (i, "de"))).toDF("doc_id", "lang")
    val kept = Corpus.mixCorpus(docs, "lang", Map("en" -> 0.5, "de" -> 0.5), 0.0)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("de") == 100L, "under-represented stratum keeps everything")
    assert(kept("en") > 400 && kept("en") < 600,
      s"en should land near 900·0.56 ≈ 500: ${kept("en")}")
    // unmapped strata fall back to defaultShare 0 → dropped entirely
    val withFr = docs.union(Seq((2000L, "fr")).toDF("doc_id", "lang"))
    val kept2 = Corpus.mixCorpus(withFr, "lang", Map("en" -> 0.5, "de" -> 0.5), 0.0)
    assert(kept2.filter(col("lang") === "fr").count() == 0)
  }

  test("packShards fills each shard to the token budget in id order") {
    val docs = (1L to 10L).map(i => (i, "en", "a " * 39 + "a")) // 40 tokens each
      .toDF("doc_id", "lang", "text")
    val out = Corpus.packShards(docs, budgetTokens = 100L, strataCol = "lang")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // cumulative-before: 0,40,80,120,... → shard 0,0,0,1,1,2,2,2,3,3
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L,
      6L -> 2L, 7L -> 2L, 8L -> 2L, 9L -> 3L, 10L -> 3L), out.toString)
  }

  test("packSequences tiles every doc exactly and fills every window but the last") {
    // 7 docs of 30 tokens, seqLen 64: windows hold 64 tokens each,
    // docs split across window boundaries with no padding waste
    val docs = (1L to 7L).map(i => (i, ("w " * 29 + "w")))
      .toDF("doc_id", "text")
    val out = Corpus.packSequences(docs, seqLen = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // per doc: spans start at 0, are contiguous, and sum to 30
    out.groupBy(_._1).foreach { case (id, spans) =>
      val s = spans.sortBy(_._3)
      assert(s.head._3 == 0 && s.map(_._4).sum == 30, s"$id: ${s.mkString(",")}")
      s.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3, s"$id not contiguous")
        case _ =>
      }
    }
    // per window: exactly 64 tokens except the final partial (210 = 3*64 + 18)
    val perSeq = out.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(perSeq == Map(0L -> 64, 1L -> 64, 2L -> 64, 3L -> 18), perSeq.toString)
    // doc 3 (tokens 60..89) straddles windows 0 and 1
    assert(out.filter(_._1 == 3L).map(_._2).sorted.toSeq == Seq(0L, 1L))
  }

  test("materializeSequences reconstructs the corpus token stream exactly") {
    // distinct single-char tokens make reassembly errors visible
    val docs = Seq((1L, "a b c"), (2L, "d e f g h"), (3L, "i j"), (4L, "k l m n"))
      .toDF("doc_id", "text") // 14 tokens, seqLen 6 → seqs of 6/6/2
    val out = Corpus.materializeSequences(docs, seqLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(out.map(_._4).mkString(" ") == "a b c d e f g h i j k l m n")
    assert(out.map(_._3).toSeq == Seq(6L, 6L, 2L)) // window fills
    assert(out.map(_._2).toSeq == Seq(2L, 3L, 1L)) // docs contributing per window
  }

  test("packSequences is partitioning-invariant (distributed prefix sum is exact)") {
    val docs = (1L to 50L).map(i => (i, "t " * (i.toInt % 13 + 1))).toDF("doc_id", "text")
    val a = Corpus.packSequences(docs, seqLen = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val b = Corpus.packSequences(docs.repartition(7), seqLen = 32, numPartitions = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(a == b)
  }

  test("assignSplit partitions every row deterministically near the requested fractions") {
    val docs = (0L until 2000L).map(i => Tuple1(i)).toDF("doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def run() = Corpus.assignSplit(docs, splits)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = run()
    assert(run() == a, "assignment must be deterministic")
    assert(a.values.sum == 2000L, "every row gets exactly one split")
    assert(a("train") > 1500 && a("train") < 1700, s"train far from 80%: $a")
    assert(a("val") > 130 && a("val") < 270, s"val far from 10%: $a")
    // stability: adding rows never migrates an existing id's split
    val before = Corpus.assignSplit(docs, splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val after = Corpus.assignSplit(
      (0L until 4000L).map(Tuple1(_)).toDF("doc_id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(before.forall { case (id, s) => after(id) == s })
    intercept[IllegalArgumentException] {
      Corpus.assignSplit(docs, Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("mixCorpusTemperatureHalf keeps the smallest stratum whole, downsamples the rest by sqrt") {
    // 1600 en / 400 de / 100 fr → rates 0.25 / 0.5 / 1.0
    val docs = ((0L until 1600L).map(i => (i, "en")) ++
      (1600L until 2000L).map(i => (i, "de")) ++
      (2000L until 2100L).map(i => (i, "fr"))).toDF("doc_id", "lang")
    val kept = Corpus.mixCorpusTemperatureHalf(docs, "lang")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("fr") == 100L, s"smallest stratum must keep everything: $kept")
    assert(kept("en") > 320 && kept("en") < 480, s"en far from sqrt rate 0.25: $kept")
    assert(kept("de") > 150 && kept("de") < 250, s"de far from sqrt rate 0.5: $kept")
    // determinism
    val again = Corpus.mixCorpusTemperatureHalf(docs, "lang")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == kept)
  }

  test("assignSplitByCluster never lets a cluster straddle splits; singletons match assignSplit") {
    val docs = (0L until 300L).map(Tuple1(_)).toDF("doc_id")
    // three clusters, each spanning ids whose independent draws would disagree
    val clusters = Seq((0L, 0L), (0L, 7L), (0L, 250L),
      (13L, 13L), (13L, 99L), (42L, 42L), (42L, 43L), (42L, 44L))
      .toDF("cluster_id", "doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = Corpus.assignSplitByCluster(docs, clusters, splits)
    assert(assigned.columns.toSeq == Seq("doc_id", "split"))
    val bySplit = assigned.join(clusters, "doc_id")
      .groupBy("cluster_id").agg(countDistinct(col("split")).as("ns"))
      .collect().map(_.getLong(1))
    assert(bySplit.forall(_ == 1L), "every cluster must land in exactly one split")
    // singletons (not in any cluster) match the plain per-doc assignment
    val plain = Corpus.assignSplit(docs, splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clustered = assigned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val members = clusters.collect().map(_.getLong(1)).toSet
    assert((0L until 300L).filterNot(members).forall(id => clustered(id) == plain(id)),
      "dedup-awareness must not move singleton assignments")
    // cluster members follow their representative's draw
    assert(clustered(7L) == plain(0L) && clustered(250L) == plain(0L)
      && clustered(99L) == plain(13L) && clustered(44L) == plain(42L))
  }

  test("assignSplitByCluster: extra labeling columns never leak into the output") {
    val docs = (0L until 100L).map(Tuple1(_)).toDF("doc_id")
    val bare = Seq((0L, 0L), (0L, 7L)).toDF("cluster_id", "doc_id")
    // a caller's clustering often carries extras (sizes, scores) — the
    // contract is they are projected away, not returned or collided on
    val noisy = bare.withColumn("cluster_size", lit(2L))
      .withColumn("score", lit(0.9))
    val splits = Seq("train" -> 0.9, "test" -> 0.1)
    val got = Corpus.assignSplitByCluster(docs, noisy, splits)
    assert(got.columns.toSeq == Seq("doc_id", "split"))
    assert(rowSet(got) == rowSet(Corpus.assignSplitByCluster(docs, bare, splits)))
  }

  test("shuffleOrder rejects inputs that already carry shard/pos/_draw") {
    val docs = (0L until 10L).map(Tuple1(_)).toDF("doc_id")
    for (c <- Seq("shard", "pos", "_draw")) {
      val e = intercept[IllegalArgumentException] {
        Corpus.shuffleOrder(docs.withColumn(c, lit(1)), nShards = 2)
      }
      assert(e.getMessage.contains(c))
    }
  }

  test("ngramNovelty: doc-frequency-1 fraction, exact on a hand-computed fixture") {
    // d1: grams {abcd, bcde}; d2: {abcd, bcdx}; d3: {zzzz}
    // df: abcd=2 (shared), bcde=1, bcdx=1, zzzz=1
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d x"), (3L, "z z z z"))
      .toDF("doc_id", "text")
    val got = Corpus.ngramNovelty(docs, w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 1L, 1.0)))
    // repeated gram INSIDE one doc counts once (distinct per doc): a doc
    // whose only gram also appears verbatim twice stays a single gram
    val rep = Seq((9L, "a b c d a b c d a b c d a b c d")).toDF("doc_id", "text")
      .unionByName(docs)
    val g9 = Corpus.ngramNovelty(rep, w = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g9(9L) < 16L, "doc-distinct grams, not per-occurrence")
  }

  test("sampleFixedK returns exactly k rows, deterministically, stable under corpus growth") {
    val docs = (0L until 1000L).map(Tuple1(_)).toDF("doc_id")
    val a = Corpus.sampleFixedK(docs, 50).collect().map(_.getLong(0)).toSeq
    assert(a.length == 50 && a.distinct.length == 50)
    assert(Corpus.sampleFixedK(docs, 50).collect().map(_.getLong(0)).toSeq == a)
    // the k-sample of a superset keeps drawing from the same order:
    // the first 50 of the 2000-doc top-60 that existed before must
    // still rank identically (ids never migrate ORDER, new ids only
    // insert into it)
    val big = Corpus.sampleFixedK(
      (0L until 2000L).map(Tuple1(_)).toDF("doc_id"), 50)
      .collect().map(_.getLong(0)).toSet
    assert(a.count(big.contains) >= 20, "roughly half the old winners survive doubling")
  }

  test("shuffleOrder: every doc gets one (shard, pos) address; order is a stable permutation") {
    val docs = (0L until 500L).map(Tuple1(_)).toDF("doc_id")
    val out = Corpus.shuffleOrder(docs, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.length == 500)
    assert(out.map(_._2).distinct.sorted.toSeq.forall(s => s >= 0 && s < 4))
    // pos is dense 0..n_s-1 within each shard
    out.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0 until rows.length), s"shard $s pos not dense")
    }
    // deterministic across runs and partitionings
    val again = Corpus.shuffleOrder(docs.repartition(7), nShards = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // growth stability: existing docs keep their shard (pos may shift)
    val grown = Corpus.shuffleOrder(
      (0L until 1000L).map(Tuple1(_)).toDF("doc_id"), nShards = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.forall { case (id, s, _) => grown(id) == s })
  }

  test("heavyHitterTokens equals the plain exact groupBy for any sketch params") {
    val docs = ((1L to 60L).map(i => (i, "alpha beta gamma")) ++
      (61L to 70L).map(i => (i, "beta rare" + i))).toDF("doc_id", "text")
    def exact(min: Long) = docs
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .groupBy("tok").count().filter(col("count") >= min)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (eps <- Seq(1e-2, 1e-4)) {
      val got = Corpus.heavyHitterTokens(docs, minCount = 60L, eps = eps)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact(60L), s"eps=$eps: $got")
    }
    // beta appears 70x, alpha/gamma 60x, rareN once each
    val hh = Corpus.heavyHitterTokens(docs, minCount = 61L)
      .collect().map(_.getString(0)).toSet
    assert(hh == Set("beta"))
  }

  test("topFractionByScore keeps floor(n*frac) per stratum, ties by id") {
    // en: 5 docs scores 50,40,30,20,10 → keep floor(5/2)=2 (50,40)
    // de: 2 docs equal scores → keep 1, the LOWER id (deterministic tie)
    val df = (Seq((1L, "en", 50), (2L, "en", 40), (3L, "en", 30),
      (4L, "en", 20), (5L, "en", 10), (10L, "de", 7), (11L, "de", 7)))
      .toDF("doc_id", "lang", "score")
    val kept = Corpus.topFractionByScore(df, "lang", "score", num = 1, den = 2)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 10L), kept.toString)
    // num=0 keeps nothing; num=den keeps everything
    assert(Corpus.topFractionByScore(df, "lang", "score", 0, 2).count() == 0)
    assert(Corpus.topFractionByScore(df, "lang", "score", 2, 2).count() == 7)
  }

  test("tfidfTopTerms ranks a doc's distinctive term above corpus-wide terms") {
    val docs = Seq(
      (1L, "shared shared shared zebra"),
      (2L, "shared shared shared"),
      (3L, "shared shared shared")
    ).toDF("doc_id", "text")
    val top = Corpus.tfidfTopTerms(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: zebra (tf 1, df 1) and shared (tf 3, df 3) tie at score 3.0
    // → ascending token tie-break picks "shared" everywhere
    assert(top(1L) == "shared" && top(2L) == "shared" && top(3L) == "shared")
    val docs2 = Seq(
      (1L, "shared zebra zebra"),
      (2L, "shared shared shared"),
      (3L, "shared")
    ).toDF("doc_id", "text")
    val top2 = Corpus.tfidfTopTerms(docs2, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top2(1L) == "zebra", s"rare term must outrank the corpus-wide one: $top2")
  }

  test("bm25TopDocs ranks rare-term matches above common-term matches, length-normalized") {
    val docs = Seq(
      (1L, "zebra apple apple apple apple apple apple apple"), // rare term, long doc
      (2L, "zebra apple"),                                     // rare term, short doc
      (3L, "apple apple apple"),                               // common term only
      (4L, "banana banana banana")                             // no query term
    ).toDF("doc_id", "text")
    val out = Corpus.bm25TopDocs(docs, Seq("zebra", "apple"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val byId = out.map(x => x._1 -> x).toMap
    assert(!byId.contains(4L), "doc with no query term must not score")
    // zebra (df 2) outweighs apple (df 3); the short zebra doc's tf part
    // is larger than the long one's (length normalization)
    assert(byId(2L)._2 > byId(3L)._2, s"rare-term doc must beat common-term doc: $out")
    assert(byId(2L)._2 > byId(1L)._2, s"short doc must beat long doc on same terms: $out")
    // ranks are 1..n dense by (score desc, id)
    assert(out.map(_._3).sorted.toSeq == (1 to out.length).toSeq)
    // k truncates
    assert(Corpus.bm25TopDocs(docs, Seq("zebra", "apple"), k = 2).count() == 2)
  }

  test("bigramLmScore: corpus-frequent transitions score higher; hand-computed Laplace means") {
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b"),
      (3L, "z") // single token — no bigram, excluded
    ).toDF("doc_id", "text")
    val out = Corpus.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(3L), "a doc without bigrams must not appear")
    // corpus: c2(ab)=3, c2(ba)=1; prefixes a×3, b×1; V=2
    // P(ab)=(3+1)/(3+2)=0.8, P(ba)=(1+1)/(1+2)=0.666667
    assert(out(2L) == ((1L, 0.8)), s"doc2: ${out.get(2L)}")
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - 0.755556) < 1e-9,
      s"doc1 mean(0.8, 0.666667, 0.8): ${out.get(1L)}")
    // a doc of corpus-unique transitions scores below the fluent one
    val docs2 = Seq(
      (1L, "x y x y x y"),
      (2L, "p q r s")
    ).toDF("doc_id", "text")
    val o2 = Corpus.bigramLmScore(docs2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(o2(1L) > o2(2L), s"fluent doc must outscore unique-bigram doc: $o2")
  }

  test("knBigramScore: hand-computed interpolated Kneser-Ney means; continuation mass flows to promiscuous words") {
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b"),
      (3L, "c a"),
      (4L, "z") // single token — no bigram, excluded
    ).toDF("doc_id", "text")
    val out = Corpus.knBigramScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(4L), "a doc without bigrams must not appear")
    // c2: ab=3, ba=1, ca=1; c1: a=3, b=1, c=1; types {ab,ba,ca}, T=3
    // N1+(a·)=N1+(b·)=N1+(c·)=1; N1+(·b)=1, N1+(·a)=2
    // P(ab) = (2.25 + 0.75·1·(1/3)) / 3 = 0.833333
    // P(ba) = P(ca) = (0.25 + 0.75·1·(2/3)) / 1 = 0.75
    assert(out(2L) == ((1L, 0.833333)), s"doc2: ${out.get(2L)}")
    assert(out(3L) == ((1L, 0.75)), s"doc3: ${out.get(3L)}")
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - 0.805555) < 1e-9,
      s"doc1 mean(0.833333, 0.75, 0.833333): ${out.get(1L)}")
    // discounting keeps every smoothed probability strictly inside (0, 1)
    assert(out.values.forall(v => v._2 > 0.0 && v._2 < 1.0))
    // ranking sanity (same contract as the Laplace scorer): fluent
    // repeated transitions outscore corpus-unique ones
    val o2 = Corpus.knBigramScore(Seq(
      (1L, "x y x y x y"), (2L, "p q r s")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(o2(1L) > o2(2L), s"fluent doc must outscore unique-bigram doc: $o2")
  }

  test("bm25TopDocsIndexed: probe over the persisted index is bit-identical to the scan path") {
    val docs = Seq(
      (1L, "spark merge spark engine"),
      (2L, "vector search with spark"),
      (3L, "merge sort and other lists"),
      (4L, "nothing relevant here at all"),
      (5L, "spark spark spark merge vector")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("inv-idx-spec").toString
    Corpus.saveInvertedIndex(docs, dir)
    val terms = Seq("spark", "merge", "vector")
    val scan = Corpus.bm25TopDocs(docs, terms, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val probe = Corpus.bm25TopDocsIndexed(spark, dir, terms, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(scan == probe, s"scan=$scan probe=$probe")
    assert(scan.nonEmpty && !scan.map(_._1).contains(4L))
    // a term absent from the corpus contributes nothing on either path
    val scan2 = Corpus.bm25TopDocs(docs, Seq("spark", "zzz"), k = 10).collect().toSeq
    val probe2 = Corpus.bm25TopDocsIndexed(spark, dir, Seq("spark", "zzz"), k = 10)
      .collect().toSeq
    assert(scan2 == probe2)
  }

  test("booleanSearchIndexed: conjunctive AND over the index; tf-ranked, any missing term disqualifies") {
    val docs = Seq(
      (1L, "spark merge spark engine"),          // no 'vector' → out
      (2L, "vector search with spark merge"),    // all three, tf 3
      (3L, "merge sort and other lists"),
      (4L, "nothing relevant here at all"),
      (5L, "spark spark spark merge vector")).toDF("doc_id", "text") // all three, tf 5
    val dir = java.nio.file.Files.createTempDirectory("bool-idx-spec").toString
    Corpus.saveInvertedIndex(docs, dir)
    val out = Corpus.booleanSearchIndexed(spark, dir, Seq("spark", "merge", "vector"), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // ordered by total_tf desc then id; dl = whitespace token count
    assert(out == Seq((5L, 5, 5L), (2L, 5, 3L)), out.toString)
    // a term absent from the corpus empties the conjunction
    assert(Corpus.booleanSearchIndexed(spark, dir, Seq("spark", "zzz"), k = 10).count() == 0)
  }

  test("sourceReport: cross-source exact copies count in every carrying source") {
    val docs = Seq(
      (1L, "x y", "A"), (2L, "x y", "A"),      // in-source dup pair
      (3L, "x y", "B"), (4L, "unique", "B"))   // cross-source copy + a singleton
      .toDF("doc_id", "text", "source")
    val out = Corpus.sourceReport(docs)
    // cols sorted: avg_tokens|dup_share|n_docs|n_dup_docs|source|total_tokens
    assert(rowSet(out) == Set("2.0|1.0|2|2|A|4", "1.5|0.5|2|1|B|3"),
      rowSet(out).toString)
  }

  test("tokenWaterfill: max-min-fair integer waterline; slack disclosed, not re-spread") {
    def docsOf(src: String, nTok: Int) =
      (src, (1 to nTok).map(i => s"t$i").mkString(" "))
    // tokens per source: A=10, B=100, C=100; budget 55 → cap 22,
    // allocations 10+22+22 = 54 (1 token of integer-division slack)
    val docs = Seq(docsOf("A", 10), docsOf("B", 100), docsOf("C", 100))
      .toDF("source", "text")
    val out = Corpus.tokenWaterfill(docs, budget = 55L)
    // cols sorted: alloc|capped|source|tokens
    assert(rowSet(out) == Set("10|false|A|10", "22|true|B|100", "22|true|C|100"),
      rowSet(out).toString)
    // budget >= corpus: everything allocated, nothing capped
    val all = Corpus.tokenWaterfill(docs, budget = 10000L)
    assert(rowSet(all) == Set("10|false|A|10", "100|false|B|100", "100|false|C|100"),
      rowSet(all).toString)
  }

  test("capPerSource keeps at most N per source, deterministically") {
    val docs = (0L until 100L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    def run() = Corpus.capPerSource(docs, 10, sourceCol = "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val a = run()
    assert(a.groupBy(_._2).forall(_._2.length == 10), "every source capped at exactly 10 of 25")
    assert(run().toSet == a.toSet, "kept subset is deterministic")
    // a cap above the source size keeps everything
    assert(Corpus.capPerSource(docs, 100).count() == 100)
  }

  test("capPerSource two-phase path equals the single-window form on a head domain") {
    import org.apache.spark.sql.expressions.Window
    // one zipfian head source (5000 rows) where the pre-filter rate
    // (2·cap+64)/n ≈ 0.014 is active, plus small sources it must not touch
    val docs = ((0L until 5000L).map(i => (i, "head")) ++
      (5000L until 5040L).map(i => (i, s"tail${i % 4}"))).toDF("doc_id", "source")
    val twoPhase = Corpus.capPerSource(docs, maxPerSource = 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the reference semantics: a bare per-source rank over the same draw
    val w = Window.partitionBy(col("source"))
      .orderBy(Corpus.saltedDraw(col("doc_id"), Corpus.CapSalt), col("doc_id"))
    val naive = docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 5).drop("_rn")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(twoPhase == naive, "pre-filtered rank must be row-identical to the window form")
    assert(twoPhase.count(_._2 == "head") == 5)
  }

  test("capPerSource fallback path: a starved pre-filter still yields the exact top-cap") {
    import org.apache.spark.sql.expressions.Window
    // preSlack = 0 starves the pre-filter to ~64 expected survivors per
    // over-cap source, far below cap = 500 → the phase-2 exactness check
    // FIRES for `big` and routes it around the pre-filter. `small`
    // (50 rows < 64 expected) keeps everything and must not fall back.
    // Regression for the r5 bug where fallback rows were unioned on TOP
    // of their own pre-filter survivors and got ranked twice.
    val docs = ((0L until 2000L).map(i => (i, "big")) ++
      (2000L until 2050L).map(i => (i, "small"))).toDF("doc_id", "source")
    val got = Corpus.capPerSourceImpl(docs, 500, "source", "doc_id",
        Corpus.CapSalt, preSlack = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == got.toSet.size, "fallback must not duplicate rows")
    val w = Window.partitionBy(col("source"))
      .orderBy(Corpus.saltedDraw(col("doc_id"), Corpus.CapSalt), col("doc_id"))
    val naive = docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 500).drop("_rn")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.toSet == naive, "starved pre-filter must still match the window form")
    assert(got.count(_._2 == "big") == 500 && got.count(_._2 == "small") == 50)
  }

  test("dropBoilerplateLines strips shared lines, keeps order, drops emptied docs") {
    val docs = Seq(
      (1L, "cookie banner\nunique first line\nall rights reserved\nanother unique line"),
      (2L, "cookie banner\nall rights reserved\nsecond doc body\nshared pair line"),
      (3L, "cookie banner\nall rights reserved\nshared pair line") // nothing unique — vanishes
    ).toDF("doc_id", "text")
    val out = Corpus.dropBoilerplateLines(docs, maxDocFreq = 1).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out.keySet == Set(1L, 2L), s"emptied doc must vanish: ${out.keySet}")
    assert(out(1L) == (("unique first line\nanother unique line", 2)),
      s"order must survive reassembly: ${out(1L)}")
    assert(out(2L) == (("second doc body", 1)))
    // maxDocFreq=2 keeps lines shared by exactly 2 docs but still drops
    // the 3-doc banner
    val loose = Corpus.dropBoilerplateLines(docs, maxDocFreq = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(3L) == "shared pair line", s"2-doc line survives at maxDocFreq=2: $loose")
    assert(!loose.values.exists(_.contains("cookie banner")), "3-doc banner still dropped")
  }

  test("chunkTokens windows with overlap, last chunk reaches the final token, short docs pass through") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than a chunk
      (3L, "a b c d")                                 // exactly one chunk
    ).toDF("doc_id", "text")
    val out = Corpus.chunkTokens(docs, chunkSize = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getInt(3)))).toMap
    // doc 1: starts 0,3,6 → [t1..t4] [t4..t7] [t7..t10]
    assert(out((1L, 0)) == (("t1 t2 t3 t4", 4)))
    assert(out((1L, 1)) == (("t4 t5 t6 t7", 4)))
    assert(out((1L, 2)) == (("t7 t8 t9 t10", 4)))
    assert(out((2L, 0)) == (("a b c", 3)))
    assert(out((3L, 0)) == (("a b c d", 4)))
    assert(out.size == 5)
    // a partial final chunk still reaches the last token
    val nine = Seq((9L, (1 to 9).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val tail9 = Corpus.chunkTokens(nine, chunkSize = 4, stride = 3).collect()
      .map(r => r.getInt(1) -> r.getString(2)).toMap
    assert(tail9(2) == "t7 t8 t9")
  }

  test("dsirScore ranks target-like docs above off-target docs") {
    import spark.implicits._
    val raw = Seq(
      (0L, "apple apple apple apple"),  // pure target vocabulary
      (1L, "apple apple zebra zebra"),  // mixed
      (2L, "zebra zebra zebra zebra")   // pure off-target vocabulary
    ).toDF("doc_id", "text")
    val target = Seq((100L, "apple apple apple apple apple apple")).toDF("doc_id", "text")
    val out = Corpus.dsirScore(raw, target, nBuckets = 64).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out.values.forall(_._1 == 4L), s"token counts: $out")
    assert(out(0L)._2 > out(1L)._2 && out(1L)._2 > out(2L)._2,
      s"likelihood-ratio order must follow target overlap: $out")
  }

  test("vocabCoverage: frequency-ranked, lexicographic ties, coverage climbs to 1") {
    import spark.implicits._
    val docs = Seq((1L, "aa aa aa bb bb cc"), (2L, "aa bb cc dd")).toDF("doc_id", "text")
    val out = Corpus.vocabCoverage(docs, vocabSize = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._2).toSeq == Seq("aa", "bb", "cc", "dd"), s"rank order: ${out.toSeq}")
    assert(out.map(_._3).toSeq == Seq(4L, 3L, 2L, 1L))
    // cumulative coverage: 4/10, 7/10, 9/10, 10/10
    assert(out.map(_._4).toSeq == Seq(0.4, 0.7, 0.9, 1.0))
    // a smaller vocab truncates the same ranking
    val top2 = Corpus.vocabCoverage(docs, vocabSize = 2).collect()
    assert(top2.map(_.getString(1)).toSeq == Seq("aa", "bb"))
  }

  test("pmiCollocations: planted exclusive pair outranks a frequent independent one; support floor holds") {
    import spark.implicits._
    // doc1: u v alternating → (u,v)×5 and (v,u)×4 (the latter falls
    // under minCount); doc2: a run → (a,a)×5. T_tok=16, T_pairs=14.
    val docs = Seq((1L, "u v u v u v u v u v"), (2L, "a a a a a a"))
      .toDF("doc_id", "text")
    val out = Corpus.pmiCollocations(docs, minCount = 5L, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getInt(6)))
    assert(out.length == 2, out.mkString("; "))
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val hu = graft.dedup.Dedup.md5Hash60Value("u")
    val hv = graft.dedup.Dedup.md5Hash60Value("v")
    val ha = graft.dedup.Dedup.md5Hash60Value("a")
    // (u,v): c=5, cu=cv=5 → ln(5·16·16 / (14·5·5))
    assert(out(0) == ((hu, hv, 5L, 5L, 5L,
      r6(math.log(5.0 * 16 * 16 / (14.0 * 5 * 5))), 1)), out(0).toString)
    // (a,a): c=5, ca=6 → ln(5·16·16 / (14·6·6)) — frequent but less tied
    assert(out(1) == ((ha, ha, 5L, 6L, 6L,
      r6(math.log(5.0 * 16 * 16 / (14.0 * 6 * 6))), 2)), out(1).toString)
    assert(out(0)._6 > out(1)._6 && out(1)._6 > 0)
  }

  test("textRankKeywords: hub outranks spokes, spoke ranks tie, values match the integer-PageRank mirror") {
    import spark.implicits._
    // star graph: h adjacent to each of a..e, spokes never adjacent to
    // each other → hub must rank 1, the five spokes tie exactly.
    val docs = Seq((1L, "h a h b h c h d h e")).toDF("doc_id", "text")
    val out = Corpus.textRankKeywords(docs, minCount = 1L, k = 20, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val hh = graft.dedup.Dedup.md5Hash60Value("h")
    val spokes = Seq("a", "b", "c", "d", "e").map(graft.dedup.Dedup.md5Hash60Value)
    // local mirror of PageRankOp's 1e-12 fixed-point recursion
    val nodes = (hh +: spokes).toSet
    val edges = spokes.flatMap(x => Seq((hh, x), (x, hh)))
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.size.toLong
    val U = 1000000000000L
    var rank = nodes.map(_ -> U / n).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => rank(s) / deg(s) }.sum
      }
      val dm = nodes.toSeq.filterNot(deg.contains).map(rank).sum
      rank = nodes.map(nd => nd ->
        ((U - U * 85L / 100L) / n +
          (contrib.getOrElse(nd, 0L) + dm / n) * 85L / 100L)).toMap
    }
    val expected = rank.toSeq.sortBy { case (nd, r) => (-r, nd) }
      .zipWithIndex.map { case ((nd, r), i) => (nd, r, i + 1) }
    assert(out.toSeq == expected, s"got ${out.toSeq}, want $expected")
    assert(out(0)._1 == hh, "hub must rank first")
    assert(out.drop(1).map(_._2).distinct.size == 1, "spoke ranks must tie exactly")
    assert(out(0)._2 > out(1)._2)
  }

  test("textRankKeywords: minCount gates rare tokens out of the graph") {
    import spark.implicits._
    // u,v alternate 5 times each; z appears once → z must not be a node
    val docs = Seq((1L, "u v u v u v u v u v z")).toDF("doc_id", "text")
    val out = Corpus.textRankKeywords(docs, minCount = 5L, k = 20, iters = 3)
      .collect().map(_.getLong(0)).toSet
    val hz = graft.dedup.Dedup.md5Hash60Value("z")
    assert(!out.contains(hz), "rare token must be gated out")
    assert(out == Set("u", "v").map(graft.dedup.Dedup.md5Hash60Value))
  }

  test("vocabGrowth: checkpoint counts follow first occurrences in (doc_id, pos) order") {
    import spark.implicits._
    // stream: a b a | c a → T=5; nPoints=5 puts a checkpoint at every
    // position; first occurrences a→1, b→2, c→4
    val docs = Seq((1L, "a b a"), (2L, "c a")).toDF("doc_id", "text")
    val out = Corpus.vocabGrowth(docs, nPoints = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 1L, 1L, 1.0), (2L, 2L, 2L, 1.0), (3L, 3L, 2L, 0.666667),
      (4L, 4L, 3L, 0.75), (5L, 5L, 3L, 0.6)), out.toSeq.toString)
  }

  test("cdcChunks: boundaries are content-defined — chunks re-align after an insertion") {
    import spark.implicits._
    // find real boundary tokens under the operator's own hash rule
    val words = (1 to 200).map(i => s"t$i")
    val (boundary, plain) = words.partition(wd => graft.dedup.Dedup.md5Hash60Value(wd) % 16 == 0)
    assert(boundary.size >= 2 && plain.size >= 8, "fixture needs both kinds")
    val body = Seq(plain(0), plain(1), boundary(0), plain(2), plain(3),
      boundary(1), plain(4), plain(5)) // chunks: [p0 p1 B0] [p2 p3 B1] [p4 p5]
    val shifted = plain(6) +: body     // one token prepended
    val docs = Seq((1L, body.mkString(" ")), (2L, shifted.mkString(" "))).toDF("doc_id", "text")
    val out = Corpus.cdcChunks(docs, avgChunk = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out((1L, 0L))._1 == 3L && out((1L, 1L))._1 == 3L && out((1L, 2L))._1 == 2L)
    // doc 2's first chunk absorbs the insertion; later chunks re-align
    assert(out((2L, 0L))._1 == 4L)
    assert(out((2L, 1L)) == out((1L, 1L)), "post-boundary chunks must be identical")
    assert(out((2L, 2L)) == out((1L, 2L)), "tail chunk must be identical")
  }

  test("cdcDedupStats: non-canonical copies count as duplicated tokens, per source") {
    import spark.implicits._
    val text = (1 to 12).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (1L, text, "srcA"),                                  // canonical copy
      (2L, text, "srcB"),                                  // exact dup -> all tokens dup
      (3L, (1 to 8).map(i => s"u$i").mkString(" "), "srcB") // unique
    ).toDF("doc_id", "text", "source")
    val out = Corpus.cdcDedupStats(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("srcA") == ((12L, 0L, 0.0)), s"canonical source: ${out.get("srcA")}")
    // srcB: doc 2's 12 tokens all duplicated, doc 3's 8 unique
    assert(out("srcB") == ((20L, 12L, 0.6)), s"dup source: ${out.get("srcB")}")
  }

  test("mixEpochs: sqrt shares, epoch cap, low-resource strata upweighted") {
    import spark.implicits._
    val big = (1L to 90L).map(i => (i, (1 to 10).map(j => s"b${i}_$j").mkString(" "), "big"))
    val small = (100L to 109L).map(i => (i, (1 to 10).map(j => s"s${i}_$j").mkString(" "), "small"))
    val docs = (big ++ small).toDF("doc_id", "text", "source")
    val out = Corpus.mixEpochs(docs, budgetTokens = 2000L, maxEpochs = 4.0).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out("big")._1 == 900L && out("small")._1 == 100L)
    // sqrt temperature: shares 30/(30+10)=0.75 and 10/40=0.25
    assert(math.abs(out("big")._2 - 0.75) < 1e-6 && math.abs(out("small")._2 - 0.25) < 1e-6)
    // big: 0.75*2000/900 = 1.67 epochs; small: 0.25*2000/100 = 5 -> capped at 4
    assert(math.abs(out("big")._3 - 1.666667) < 1e-5, s"big epochs: ${out("big")}")
    assert(out("small")._3 == 4.0, s"cap must bind: ${out("small")}")
    // the temperature property: the small stratum repeats MORE
    assert(out("small")._3 > out("big")._3)
  }

  test("pplBuckets: exact NTILE sizes, monotone in score, all docs covered") {
    import spark.implicits._
    // 7 docs of >= 2 tokens with distinct repetition structure
    val docs = (1L to 7L).map { i =>
      val tok = s"w$i"
      (i, Seq.fill(4)(tok).mkString(" ") + " " + (1 to i.toInt).map(j => s"u${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Corpus.pplBuckets(docs, nBuckets = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length == 7)
    // NTILE(3) over 7 rows: bucket sizes 3, 2, 2
    val sizes = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes == Map(1L -> 3, 2L -> 2, 3L -> 2), s"sizes: $sizes")
    // buckets are monotone in (score, id) order
    val sorted = out.sortBy(t => (t._2, t._1)).map(_._3)
    assert(sorted.sameElements(sorted.sorted), s"bucket order: ${sorted.toSeq}")
  }

  test("prioritySample: deterministic, weight-biased, exact-k, rank-contiguous") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, if (i == 7L) 1000000L else 10L))
      .toDF("doc_id", "n_chars")
    val out = Corpus.prioritySample(docs, k = 20).collect()
    assert(out.length == 20)
    assert(out.map(_.getInt(3)).toSeq == (1 to 20), "ranks contiguous")
    // the 100000x-weight doc has priority >= 100000x any unit draw's
    // minimum — it must be in (in fact at the top isn't guaranteed, but
    // membership effectively is: its priority >= 1e6 while a weight-10
    // doc needs a draw < 1e-5 to compete)
    assert(out.exists(_.getLong(0) == 7L), "heavy doc must survive")
    // deterministic: a rerun is byte-identical
    val again = Corpus.prioritySample(docs, k = 20).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("hybridRrf: a doc that both rankers retrieve outranks single-ranker docs") {
    import spark.implicits._
    def v(x: Float, y: Float): Array[Float] = Array(x, y, 0.01f, 0.01f)
    // doc 1 dominates BM25 (only doc with the query terms) AND is the
    // nearest vector to the query embedding (vec 0); doc 2 is dense-only
    // close, doc 3 sparse-free and far.
    val docs = Seq(
      (1L, "spark spark merge vector noise"),
      (2L, "plain words without query terms"),
      (3L, "other filler text entirely")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (0L, v(1f, 0f)), (1L, v(0.99f, 0.01f)), (2L, v(0.9f, 0.1f)), (3L, v(0f, 1f))
    ).toDF("vec_id", "embedding")
    val out = Corpus.hybridRrf(docs, emb, Seq("spark", "merge", "vector"),
      queryVecId = 0L, k = 3, kCand = 2).collect()
    assert(out.head.getLong(0) == 1L, s"doc in both rankers must fuse first: ${out.toSeq}")
    // doc 3 is retrieved by neither ranker — the fused candidate pool is {1, 2}
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L), s"candidate union: ${out.toSeq}")
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2), "fused ranks contiguous")
    // fused score of the double-retrieved doc = both contributions
    assert(out.head.getDouble(1) > out(1).getDouble(1))
  }

  test("featureHash: bucket = md5Hash60 mod k, counts per (doc, bucket); collisions merge") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta alpha"), (2L, "  beta  "), (3L, "")).toDF("doc_id", "text")
    val out = Corpus.featureHash(docs, k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bAlpha = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("alpha").substring(0, 15), 16) % 8
    val bBeta = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("beta").substring(0, 15), 16) % 8
    val expected =
      if (bAlpha == bBeta) Set((1L, bAlpha, 3L), (2L, bBeta, 1L))
      else Set((1L, bAlpha, 2L), (1L, bBeta, 1L), (2L, bBeta, 1L))
    // doc 3 is empty: whitespace tokenization yields nothing
    assert(out.toSet == expected, out.mkString(","))
  }

  test("zipfSlope: constant counts fit slope 0 / intercept ln(n) exactly; minCount truncates") {
    import spark.implicits._
    // three tokens x8 each (>= minCount 5) + one hapax (dropped)
    val text = (Seq.fill(8)("aa") ++ Seq.fill(8)("bb") ++ Seq.fill(8)("cc") :+ "zz").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = Corpus.zipfSlope(docs).collect()(0)
    assert(r.getLong(0) == 3L, r.toString)
    // constant y: numerator cancels in exact decimals -> slope exactly 0,
    // intercept exactly the rounded ln(8)
    assert(r.getDouble(1) == 0.0, r.toString)
    assert(r.getDouble(2) == 2.079442, r.toString)
  }
}
