package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic synthetic embeddings: vec 1 ≈ vec 0 (tiny nudge),
    * the rest pseudo-random. */
  private def emb = {
    def v(seed: Int): Array[Float] =
      Array.tabulate(8)(i => (((seed * 31 + i * 17) % 13) - 6).toFloat / 6f)
    val rows = Seq(
      (0L, v(1)),
      (1L, v(1).zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }),
      (2L, v(7)), (3L, v(11)), (4L, v(23)), (5L, v(5)))
    rows.toDF("vec_id", "embedding")
  }

  test("brute-force knn: nearest neighbor is the planted near-identical vector") {
    val out = Similarity.knnBruteForce(emb, queryId = 0L, k = 3).collect()
    assert(out.length == 3)
    assert(out.head.getLong(0) == 1L)       // planted neighbor first
    assert(out.head.getDouble(1) > 0.999)   // nearly identical
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2, 3)) // ranks contiguous
  }

  test("lsh ann: identical-direction vector lands in the query bucket and ranks first") {
    val out = Similarity.annLsh(emb, queryId = 0L, dim = 8, k = 3, nBits = 4).collect()
    assert(out.nonEmpty)
    assert(out.head.getLong(0) == 1L)
  }

  test("knnJoin: per-query results equal the single-query brute force, any fanout") {
    val queries = emb.filter(col("vec_id").isin(0L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    for (fanout <- Seq(1, 4, 32)) {
      val out = Similarity.knnJoin(emb, queries, k = 3, fanout = fanout).collect()
        .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(out.size == 6, s"2 queries x k=3 at fanout=$fanout")
      for (qid <- Seq(0L, 3L)) {
        val single = Similarity.knnBruteForce(emb, queryId = qid, k = 3).collect()
          .map(r => (qid, r.getInt(2)) -> ((r.getLong(0), r.getDouble(1)))).toMap
        assert(single.forall { case (k2, v) => out(k2) == v },
          s"qid=$qid fanout=$fanout: batch join must equal single-query knn")
      }
    }
  }

  test("knnJoinLsh: planted near-identical vector shares the query bucket and ranks first") {
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val out = Similarity.knnJoinLsh(emb, queries, dim = 8, k = 3, nBits = 4).collect()
    assert(out.nonEmpty)
    assert(out.head.getLong(1) == 1L, "identical-direction vector must rank first")
    assert(out.forall(_.getLong(0) == 0L))
  }

  test("knnJoinLshMultiBand: finds the planted pair; candidates cover every single-band match") {
    val queries = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val mb = Similarity.knnJoinLshMultiBand(emb, queries, dim = 8, k = 3,
      nBands = 6, bitsPerBand = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the near-identical planted pair must surface in both directions
    assert(mb.contains((0L, 1L)) && mb.contains((1L, 0L)), mb.toString)
    // no (qid, id) appears twice per rank set (ANY-band dedup)
    val all = Similarity.knnJoinLshMultiBand(emb, queries, dim = 8, k = 10,
      nBands = 6, bitsPerBand = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(all.distinct.length == all.length, "candidate dedup must collapse multi-band matches")
    // ranks are contiguous from 1 per query
    val byQ = Similarity.knnJoinLshMultiBand(emb, queries, dim = 8, k = 10,
      nBands = 6, bitsPerBand = 4).collect()
      .groupBy(_.getLong(0)).values
    byQ.foreach { rows => assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length)) }
  }

  test("adaptiveNBands: grows with n, anchored to the measured operating points") {
    // n=2k/target 64 -> 5 bits -> 11 bands (8-band default measured
    // 0.845 there); n=20k -> 9 bits -> ~46 bands; clamp [8, 64]
    assert(Similarity.adaptiveNBands(100L) == 8)
    assert(Similarity.adaptiveNBands(2000L) == 11)
    val nb20k = Similarity.adaptiveNBands(20000L)
    assert(nb20k > 11 && nb20k <= 64, s"20k bands = $nb20k")
    assert(Similarity.adaptiveNBands(100_000_000L) == 64, "clamped at the cost cap")
    intercept[IllegalArgumentException](Similarity.adaptiveNBands(10L, missTarget = 0.0))
  }

  test("annPq: ADC retrieval ranks an exact duplicate of the query first, deterministically") {
    // 12 vectors in two far-apart clusters; vec 11 is an exact copy of
    // vec 0 (the query) and the only other member of its cluster, so it
    // alone shares all PQ codes with the query — its ADC distance is
    // the minimum possible (the query's own quantization error)
    val ones = Array.fill(8)(1f)
    val rows = Seq((0L, ones), (11L, ones)) ++
      (1 to 10).map(i => (i.toLong,
        Array.tabulate(8)(j => -1f + 0.01f * ((i * 7 + j) % 5))))
    val e = rows.toDF("vec_id", "embedding")
    def run() = Similarity.annPq(e, queryId = 0L, dim = 8, k = 5,
      m = 2, nCents = 3, iters = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val out = run()
    assert(out.length == 5, s"k rows expected: $out")
    assert(out.map(_._3) == Seq(1, 2, 3, 4, 5), s"dense ranks: $out")
    assert(out.head._1 == 11L, s"exact duplicate must rank first: $out")
    assert(out.head._2 == out.filter(_._1 == 11L).head._2 &&
      out.head._2 <= out.last._2, s"distances ascend: $out")
    assert(run() == out, "PQ retrieval is deterministic")
  }

  test("annPqPersisted: probe over the saved index equals the in-flight annPq bit-for-bit") {
    val ones = Array.fill(8)(1f)
    val rows = Seq((0L, ones), (11L, ones)) ++
      (1 to 10).map(i => (i.toLong,
        Array.tabulate(8)(j => -1f + 0.01f * ((i * 7 + j) % 5))))
    val e = rows.toDF("vec_id", "embedding")
    val inFlight = Similarity.annPq(e, queryId = 0L, dim = 8, k = 5,
      m = 2, nCents = 3, iters = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("pq-index-spec").toString
    Similarity.savePqIndex(e, dim = 8, dir, m = 2, nCents = 3, iters = 2)
    val qv = ones.map(_.toDouble).toSeq
    val persisted = Similarity.annPqPersisted(spark, dir, qv, k = 5,
      excludeId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(persisted == inFlight && persisted.nonEmpty,
      s"persisted=$persisted inFlight=$inFlight")
  }

  test("knnJoinIvf: single-query batch equals the one-shot annIvfKmeans probe") {
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Similarity.knnJoinIvf(emb, queries, dim = 8, k = 3,
      nLists = 2, iters = 2).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val single = Similarity.annIvfKmeans(emb, queryId = 0L, dim = 8, k = 3,
      nLists = 2, iters = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(batch == single && batch.nonEmpty,
      s"batch=$batch single=$single")
  }

  test("knnJoinIvf multi-probe: nprobe=2 recovers the cross-boundary neighbor nprobe=1 misses") {
    // Two orthogonal clusters (A along e0, B along e1) and a planted
    // boundary pair: query q = (0.8, 0.6, …) lands in A's Voronoi cell
    // while its TRUE nearest neighbor p = (0.6, 0.8, …), cos(q,p) = 0.96,
    // lands in B's — the textbook case single-probe IVF misses.
    def member(dir: Int, i: Int): Array[Float] = {
      val a = new Array[Float](8)
      a(dir) = 1f
      (2 until 8).foreach(j => a(j) = (((i * 31 + j * 17) % 7) - 3).toFloat / 40f)
      a
    }
    val corpus = (
      (0 until 20).map(i => (i.toLong, member(0, i))) ++
      (20 until 40).map(i => (i.toLong, member(1, i))) :+
      (40L, Array(0.6f, 0.8f, 0f, 0f, 0f, 0f, 0f, 0f)) :+
      (41L, Array(0.8f, 0.6f, 0f, 0f, 0f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 41L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val truth = Similarity.knnJoin(corpus, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.contains((41L, 40L)), "the planted pair must be a true top-5 neighbor")
    def hits(nprobe: Int): Set[(Long, Long)] =
      Similarity.knnJoinIvf(corpus, queries, dim = 8, k = 5,
        nLists = 2, iters = 3, nprobe = nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .filter(truth.contains)
    val single = hits(1)
    val multi = hits(2)
    assert(multi.size >= single.size,
      s"multi-probe must not lose recall: ${multi.size} vs ${single.size} of ${truth.size}")
    assert(multi.contains((41L, 40L)) && !single.contains((41L, 40L)),
      s"nprobe=2 must recover the cross-boundary neighbor nprobe=1 misses " +
        s"(single=$single multi=$multi)")
  }

  test("LshBandBuckets native kernel equals the literal CASE-chain form (incl. null/short vectors)") {
    import org.apache.spark.sql.graftext.{LshBandBuckets, VectorExpressions => V}
    val stride = Similarity.MaxBitsPerBand
    val rows = Seq(
      (0L, Array.tabulate(8)(i => i.toDouble / 3 - 1)),
      (1L, Array.tabulate(8)(i => math.sin(i * 2.7))),
      (2L, Array[Double](0.5, -0.25)), // shorter than dim
      (3L, null.asInstanceOf[Array[Double]])
    ).toDF("vec_id", "v")
    val flat = LshBandBuckets.flatPlanes(8, 8 * stride)
    val native = rows.select(col("vec_id"),
      V.lshBandBuckets(col("v"), flat, 8, 8, 5, stride).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val literal = rows.select(col("vec_id"),
      array(Similarity.lshBandBuckets(col("v"), 8, 8, 5, planeStride = stride): _*).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native == literal, s"native=$native literal=$literal")
    assert(native(3L).forall(_ == 0L), "null vector must coalesce to all-zero buckets")
    assert(native.values.flatten.exists(_ != 0L), "buckets must not be degenerate")
  }

  test("knnJoinIvfPersisted: probe over the saved index equals the in-flight knnJoinIvf") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    Similarity.saveIndexIvf(emb, dim = 8, dir, nLists = 2, iters = 2)
    val queries = emb.filter(col("vec_id").isin(0L, 3L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val persisted = Similarity.knnJoinIvfPersisted(spark, dir, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val inFlight = Similarity.knnJoinIvf(emb, queries, dim = 8, k = 3,
      nLists = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(persisted.nonEmpty && persisted == inFlight,
      s"persisted=$persisted inFlight=$inFlight")
  }

  test("ivf: probe against a materialized centroid table equals the one-shot form") {
    val withList = emb.withColumn("label", pmod(col("vec_id"), lit(2)))
    val dir = java.nio.file.Files.createTempDirectory("ivf-cent").toString
    Similarity.ivfCentroids(withList, dim = 8).write.mode("overwrite").parquet(dir)
    val centroids = spark.read.parquet(dir)
    val viaIndex = Similarity.annIvfWithCentroids(withList, centroids, queryId = 0L, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val oneShot = Similarity.annIvf(withList, queryId = 0L, dim = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(viaIndex == oneShot && viaIndex.nonEmpty)
  }

  test("appendToIndexIvf: probes over an appended index equal the same-centroid full build") {
    val dirA = java.nio.file.Files.createTempDirectory("ivf-full").toString
    val dirB = java.nio.file.Files.createTempDirectory("ivf-append").toString
    // centroids trained on the OLD corpus only, shared by both indexes -
    // the append contract is "assign new rows with the LOADED centroids",
    // so equivalence must hold under identical centroids by construction
    val old = emb.filter(col("vec_id") < 4)
    val fresh = emb.filter(col("vec_id") >= 4)
    val cents = Similarity.kmeans(old, nLists = 2, dim = 8, iters = 2)
    Similarity.saveIndexIvfWithCentroids(emb, cents, dirA)      // all rows at once
    Similarity.saveIndexIvfWithCentroids(old, cents, dirB)      // old...
    Similarity.appendToIndexIvf(spark, dirB, fresh)             // ...plus appended new
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def probe(dir: String) =
      Similarity.knnJoinIvfPersisted(spark, dir, queries, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val full = probe(dirA)
    val appended = probe(dirB)
    assert(appended == full && full.nonEmpty, s"full=$full appended=$appended")
    // the appended rows really landed in list partition directories
    val lists = new java.io.File(s"$dirB/lists").listFiles()
      .filter(_.getName.startsWith("list=")).map(_.getName).sorted
    assert(lists.nonEmpty, "append must preserve the list=<j> partition layout")
  }

  test("kmeans: deterministic, centroids are cluster means, assignment partitions the input") {
    val cents = Similarity.kmeans(emb, nLists = 2, dim = 8, iters = 2)
    val again = Similarity.kmeans(emb, nLists = 2, dim = 8, iters = 2)
    assert(cents == again, "fixed seeds + fixed rounds must reproduce exactly")
    assert(cents.nonEmpty && cents.size <= 2)
    // every vector gets exactly one surviving list
    val assigned = emb.withColumn("list",
      Similarity.kmeansAssign(col("embedding").cast("array<double>"), cents))
      .select("vec_id", "list").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned.size == 6)
    assert(assigned.values.toSet.subsetOf(cents.map(_._1).toSet))
    // every centroid's list has members
    for ((j, _) <- cents)
      assert(assigned.values.exists(_ == j), s"list $j has a centroid but no members")
    // the planted near-identical pair (0, 1) must land in the same list
    assert(assigned(0L) == assigned(1L), s"near-dups must co-cluster: $assigned")
  }

  test("annIvfKmeans: planted neighbor found through the k-means probe") {
    val out = Similarity.annIvfKmeans(emb, queryId = 0L, dim = 8, k = 3,
      nLists = 2, iters = 2).collect()
    assert(out.nonEmpty)
    assert(out.head.getLong(0) == 1L, "planted near-identical vector ranks first")
    assert(out.head.getDouble(1) > 0.999)
  }

  test("cosine near-dup pairs (banded-LSH default): finds the planted pair above threshold") {
    val out = Similarity.cosineNearDups(emb, threshold = 0.99, dim = 8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)))
  }

  test("banded-LSH default returns a subset of brute-force pairs, keeping the near-identical one") {
    val brute = Similarity.cosineNearDups(emb, threshold = 0.9, bruteForce = true)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineNearDups(emb, threshold = 0.9, dim = 8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    // a near-identical pair (angle ≈ 0) survives every band with
    // probability ≈ 1 — the recall property the default relies on
    assert(lsh.contains((0L, 1L)))
  }

  test("knnQuantizedRescore: shortlist covers the true top-k here; rescored scores are exact") {
    val brute = Similarity.knnBruteForce(emb, queryId = 0L, k = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val quant = Similarity.knnQuantizedRescore(emb, queryId = 0L, k = 3, shortlist = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // shortlist 5 of population 5 → stage 1 cannot lose anyone: result
    // must equal brute force exactly, including the rescored values
    assert(quant.map(t => t._1 -> t._2).toMap == brute,
      s"rescore must be full-precision: ${quant.toSeq} vs $brute")
    assert(quant.find(_._3 == 1).map(_._1).contains(1L),
      "planted near-identical vector is rank 1")
  }

  test("quantizeInt8: codes in [-127,127], max-abs element hits ±127, round-trip error ≤ half a step") {
    import org.apache.spark.sql.functions._
    val withZero = emb.union(Seq((99L, Array.fill(8)(0f))).toDF("vec_id", "embedding"))
    val rows = withZero.select(col("vec_id"), col("embedding"),
      Similarity.quantizeInt8(col("embedding")).as("qz")).collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](1).map(_.toDouble)
      val qz = r.getStruct(2)
      val scale = qz.getDouble(0)
      val q = qz.getSeq[Byte](1)
      if (orig.forall(_ == 0.0)) {
        assert(scale == 0.0 && q.forall(_ == 0), "zero vector → scale 0, zero codes")
      } else {
        assert(q.forall(b => b >= -127 && b <= 127), s"codes out of range: $q")
        assert(q.map(_.toInt.abs).max == 127, "the max-abs element must map to ±127")
        val step = 1.0 / scale
        orig.zip(q).foreach { case (x, b) =>
          assert(math.abs(x - b / scale) <= step / 2 + 1e-12,
            s"round-trip error beyond half a step: x=$x q=$b scale=$scale")
        }
      }
    }
  }

  test("knnClassify: plurality label of the k nearest, smaller label on vote ties") {
    import spark.implicits._
    // two planted clusters on the axes of a 4-dim space
    def v(x: Float, y: Float): Array[Float] = Array(x, y, 0.01f, 0.01f)
    val labeled = Seq(
      (0L, v(1f, 0.02f), 0),    // query A: sits inside the label-0 cluster
      (1L, v(1f, 0f), 0), (2L, v(0.9f, 0.1f), 0), (3L, v(0.95f, 0.05f), 0),
      (4L, v(0f, 1f), 1), (5L, v(0.1f, 0.9f), 1), (6L, v(0.05f, 0.95f), 1),
      (10L, v(0.02f, 1f), 1)    // query B: sits inside the label-1 cluster
    ).toDF("vec_id", "embedding", "label")
    val queries = labeled.filter(col("vec_id").isin(0L, 10L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val out = Similarity.knnClassify(labeled, queries, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out(0L) == ((0, 3L)), s"query in cluster 0: ${out.get(0L)}")
    assert(out(10L) == ((1, 3L)), s"query in cluster 1: ${out.get(10L)}")
    // k=2 from a point between the clusters: one vote each → label 0 wins the tie
    val mid = Seq((100L, v(0.7f, 0.7f))).toDF("qid", "qv")
    val tie = Similarity.knnClassify(labeled.filter(col("vec_id").isin(1L, 4L)),
      mid, k = 2).collect()
    assert(tie.length == 1 && tie.head.getInt(1) == 0 && tie.head.getLong(2) == 1L,
      s"tie must break to the smaller label: ${tie.toSeq}")
  }

  test("hardNegatives: band keeps informative negatives, excludes near-dups and far vectors") {
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // brute-force replay of the contract: rank the banded candidates
    val all = Similarity.knnJoin(emb, queries, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val want = all.filter { case (_, c) => c >= 0.2 && c < 0.9 }
      .toSeq.sortBy { case (id, c) => (-c, id) }.map(_._1)
    val got = Similarity.hardNegatives(emb, queries, k = 5, loCos = 0.2, hiCos = 0.9)
      .orderBy(col("rn")).collect()
    assert(got.map(_.getLong(1)).toSeq == want)
    // the planted near-identical twin (cos > 0.999) is NEVER a negative
    assert(!got.map(_.getLong(1)).contains(1L))
    // every returned score is inside the band
    assert(got.forall(r => r.getDouble(2) >= 0.2 && r.getDouble(2) < 0.9))
    assert(got.map(_.getInt(3)).toSeq == (1 to got.length))
  }

  test("mmrTopK: a redundant near-duplicate is demoted below a diverse result") {
    import spark.implicits._
    // id1 and id2 are IDENTICAL vectors (sim = 1); id3 is relevant but
    // diverse. Pure knn order is (1, 2, 3); MMR at lambda = 0.5 must
    // pick the diverse id3 before the clone: 0.5*0.994 - 0.5*1.0 <
    // 0.5*0.6 - 0.5*0.52
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f)),
      (2L, Array(0.99f, 0.1f)),
      (3L, Array(0.6f, -0.8f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.mmrTopK(emb, queryId = 0L, k = 3, kCand = 3, lambda = 0.5)
      .collect().map(x => (x.getInt(0), x.getLong(1)))
    assert(r.toSeq == Seq((1, 1L), (2, 3L), (3, 2L)), r.mkString(","))
  }

  test("embedOutliers: a planted off-distribution vector ranks first (least like its centroid)") {
    import spark.implicits._
    val a = (1 to 5).map(i => (i.toLong, Array(1.0f, 0.01f * i)))      // cluster around (1, 0)
    val b = (6 to 10).map(i => (i.toLong, Array(0.01f * i, 1.0f)))     // cluster around (0, 1)
    val outlier = Seq((99L, Array(0.5f, -0.9f)))                       // belongs to neither
    val emb = (a ++ b ++ outlier).toDF("vec_id", "embedding")
    val r = Similarity.embedOutliers(emb, dim = 2, k = 3, nLists = 2)
      .collect().map(x => (x.getInt(3), x.getLong(0)))
    assert(r.head == ((1, 99L)), r.mkString(","))
  }

  test("embedDrift: orthogonal label centroids both sit at cos 45° to the global centroid") {
    import spark.implicits._
    // label 0 = two (1,0); label 1 = two (0,1) → the VECTOR-WEIGHTED
    // global centroid is (0.5, 0.5); cos(each label, global) =
    // 0.5 / (1 · √0.5) = 0.7071068. An unbalanced third vector on
    // label 1 shifts the global mean and breaks the symmetry — the
    // drift scores must move apart, proving the centroid weights by
    // vector count, not by label.
    val rows = Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1))
    val out = Similarity.embedDrift(rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set((0L, 2L, 0.707107), (1L, 2L, 0.707107)), out.toString)
    // global centroid with a 3rd label-1 vector: (0.4, 0.6) → label 0
    // scores 0.4/√0.52 = 0.5547, label 1 scores 0.6/√0.52 = 0.83205
    val skewed = rows :+ ((5L, Array(0.0f, 1.0f), 1))
    val out2 = Similarity.embedDrift(skewed.toDF("vec_id", "embedding", "label"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out2 == Set((0L, 2L, 0.5547), (1L, 3L, 0.83205)), out2.toString)
  }
}
