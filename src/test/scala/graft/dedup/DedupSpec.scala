package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "through fields of green grass under a bright blue summer sky today"
  private val nearDup = base.replace("today", "tonight") // 1 token differs
  private val unrelated = "completely different content about database engines and " +
    "query optimization with columnar storage formats and vectorized execution plans"

  private def docs = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated), (3L, base) // 3 = exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs).filter(col("n_copies") > 1)
    assert(rowSeq(out.select("keep_id", "n_copies")) == Seq(Seq(0L, 2L)))
  }

  test("fingerprint dedup is whitespace/case robust") {
    val d = Seq((0L, "Hello  World"), (1L, "hello world"), (2L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactByFingerprint128(d).filter(col("n_copies") > 1)
    assert(rowSeq(out.select("keep_id", "n_copies")) == Seq(Seq(0L, 2L)))
  }

  test("minhash LSH finds the planted near-dup pair and skips unrelated") {
    val pairs = Dedup.minhashNearDupsMd5(docs, threshold = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // near-dup found
    assert(pairs.contains((0L, 3L))) // exact dup found
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated excluded
  }

  test("bucket cap bounds a degenerate all-identical corpus (no O(n²) blowup)") {
    // 10k identical docs: every band bucket holds all 10k ids, so the
    // uncapped candidate stage would expand ~50M pairs per band. The
    // cap drops those buckets outright; the two distinct near-dups
    // (sharing buckets of size 2) still pair up.
    val clones = (0L until 10000L).map(i => (i, base))
    val distinctPair = Seq((20001L, unrelated), (20002L, unrelated + " extras"))
    val df = (clones ++ distinctPair).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupsMd5(df, threshold = 0.5, maxBucketSize = Some(64))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 < 10000L), "capped clone buckets must expand no pairs")
    assert(pairs.contains((20001L, 20002L)), s"small buckets must survive the cap: $pairs")
  }

  test("simhash: near-dups differ in few bits, unrelated in many") {
    val sig = docs.select(col("doc_id"), Dedup.simhashMd5(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(0L), sig(3L)) == 0) // identical text → identical signature
    assert(ham(sig(0L), sig(1L)) < 12, s"near-dup hamming ${ham(sig(0L), sig(1L))}")
    assert(ham(sig(0L), sig(2L)) > 12, s"unrelated hamming ${ham(sig(0L), sig(2L))}")
  }

  test("IdPairs generator matches the HOF pair expansion (incl. duplicate ids)") {
    val rnd = new scala.util.Random(11)
    val lists = (1 to 30).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(8) + 1)(rnd.nextInt(6).toLong))
    }
    val df = lists.toDF("key", "ids")
    def pairs(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(df).collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val fast = pairs(Banding.pairsFromIdLists)
    val hof = pairs(Banding.pairsFromIdListsHof)
    assert(fast == hof)
  }

  test("dedupAgainstCorpus drops incoming docs already in the corpus (modulo whitespace/case)") {
    val existing = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base.toUpperCase.replace(" ", "  ")), // dup of existing 1 after normalization
      (11L, nearDup),                             // near-dup but different fingerprint -> kept
      (12L, "brand new content never seen before in any corpus at all")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstCorpus(incoming, existing)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L), kept.toString)

    // same answer with the runtime bloom-filter optimizer on (the
    // cluster default — a planted filter must only prune, never drop).
    // ALL three confs restore in the finally: the session is shared
    // across suites, and a leaked applicationSideScanSizeThreshold=0
    // injects runtime bloom filters into every later join on tiny
    // fixtures, where Spark's own literal-probe codegen trips a Janino
    // '(Long)<literal> is not an rvalue' fallback — harmless but it
    // floods the log and would mask a real codegen regression.
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val olds = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "true")
    spark.conf.set(keys(1), "10GB")
    spark.conf.set(keys(2), "0")
    try {
      val kept2 = Dedup.dedupAgainstCorpus(incoming, existing)
        .collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(11L, 12L), s"bloom-filtered plan diverged: $kept2")
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("corpusNearDupIndexMerge: probing the fragmented merged index == probing a full rebuild") {
    val partA = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    val partB = Seq((3L, base + " extra trailing words appended here"),
      (4L, "a separate batch document with entirely novel token content")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, nearDup),                                       // near-dup of A's 1
      (11L, base + " extra trailing words appended here!"), // near-dup of B's 3
      (12L, "nothing like anything indexed before in either fragment batch")
    ).toDF("doc_id", "text")
    val merged = Dedup.nearDupIndex(partA).merge(Dedup.nearDupIndex(partB))
    val viaMerged = Dedup.dedupAgainstCorpusNearDupIndexed(incoming, merged, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    val viaFull = Dedup.dedupAgainstCorpusNearDupMd5(incoming, partA.unionByName(partB),
      threshold = 0.5).collect().map(_.getLong(0)).toSet
    assert(viaMerged == viaFull, s"merged=$viaMerged full=$viaFull")
    assert(viaMerged == Set(12L), viaMerged.toString)
    // the merged band table really is fragmented (shared keys keep 2 rows)
    assert(merged.bands.count() >=
      Dedup.nearDupIndex(partA.unionByName(partB)).bands.count())
  }

  test("compactNearDupIndex(merge(A, B), cap) == corpusNearDupIndex(A ∪ B, cap), bucket order aside") {
    val partA = Seq((1L, base), (2L, unrelated), (5L, base)).toDF("doc_id", "text")
    // base's buckets span fragments with EXACTLY 3 members (1, 5, 3);
    // doc 4 must share no bands with base or the bucket grows past the cap
    val partB = Seq((3L, base),
      (4L, "wholly distinct vocabulary about orchestras rehearsing symphonies nightly")
    ).toDF("doc_id", "text")
    def canon(idx: Banding.Index) =
      idx.bands.select(col("band"), col("s"), array_sort(col("ids")).as("ids"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getSeq[Long](2))).toSet
    val compacted = Dedup.nearDupIndex(partA).merge(Dedup.nearDupIndex(partB))
      .compact(Some(3))
    val rebuilt = Dedup.nearDupIndex(partA.unionByName(partB), maxBucketSize = Some(3))
    assert(canon(compacted) == canon(rebuilt))
    // the cap applies to COMBINED buckets after compaction: base's
    // bucket has 3 members across fragments (1, 5, 3) and survives at
    // cap 3; at cap 2 it must be dropped even though each fragment's
    // share is <= 2
    val compact2 = Dedup.nearDupIndex(partA).merge(Dedup.nearDupIndex(partB))
      .compact(Some(2))
    val rebuilt2 = Dedup.nearDupIndex(partA.unionByName(partB), maxBucketSize = Some(2))
    assert(canon(compact2) == canon(rebuilt2))
    assert(canon(compact2) != canon(compacted), "cap 2 must drop the 3-member bucket")
  }

  test("appendNearDupIndex: append + load probes like the full index; write volume is the delta") {
    val dir = java.nio.file.Files.createTempDirectory("ndidx-append").toString
    val partA = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    val partB = Seq((3L, "a separate batch document with entirely novel token content"))
      .toDF("doc_id", "text")
    val incoming = Seq((10L, nearDup),
      (11L, "a separate batch document with entirely novel token contents"),
      (12L, "unmatched probe text with no counterpart anywhere at all ok")).toDF("doc_id", "text")
    try {
      Dedup.nearDupIndex(partA).save(dir)
      val filesAfterBuild = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.toString.endsWith(".parquet")).count()
      Dedup.nearDupIndex(partB).append(dir)
      val loaded = Banding.Index.load(spark, dir)
      val kept = Dedup.dedupAgainstCorpusNearDupIndexed(incoming, loaded, threshold = 0.5)
        .collect().map(_.getLong(0)).toSet
      val full = Dedup.dedupAgainstCorpusNearDupMd5(incoming, partA.unionByName(partB),
        threshold = 0.5).collect().map(_.getLong(0)).toSet
      assert(kept == full, s"appended=$kept full=$full")
      assert(kept == Set(12L), kept.toString)
      // append added files, never rewrote the build's (delta-cost IO)
      val filesAfterAppend = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.toString.endsWith(".parquet")).count()
      assert(filesAfterAppend > filesAfterBuild)
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("dedupAgainstCorpusBloom is row-identical to the plain anti-join") {
    val existing = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base.toUpperCase.replace(" ", "  ")), // dup after normalization
      (11L, nearDup),
      (12L, "brand new content never seen before in any corpus at all")
    ).toDF("doc_id", "text")
    val plain = Dedup.dedupAgainstCorpus(incoming, existing)
      .collect().map(_.getLong(0)).toSet
    val bloom = Dedup.dedupAgainstCorpusBloom(incoming, existing)
      .collect().map(_.getLong(0)).toSet
    assert(bloom == plain && plain == Set(11L, 12L), s"bloom=$bloom plain=$plain")
    // empty corpus: the bloom is degenerate and everything is new
    assert(Dedup.dedupAgainstCorpusBloom(incoming, existing.limit(0)).count() == 3)
    // a tiny over-tight bloom (worst-case fpp) must still be exact —
    // false positives route through the anti-join, never drop rows
    val tight = Dedup.dedupAgainstCorpusBloom(incoming, existing, fpp = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(tight == plain, s"high-fpp bloom diverged: $tight")
    // past the sketch budget the build must fail loudly, pointing at
    // the (real) sharded operator — not silently build an
    // executor-crushing filter
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstCorpusBloom(incoming, existing,
        expectedItems = 1L << 40, maxBloomBytes = 1L << 20)
    }
    assert(e.getMessage.contains("dedupAgainstCorpusBloomSharded"), e.getMessage)
  }

  test("dedupAgainstCorpusBloomSharded is row-identical to the plain anti-join") {
    val existing = (0L until 60L).map(i => (i, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val incoming = ((100L until 130L).map(i => (i, s"fresh document $i")) ++
      (0L until 20L).map(i => (i + 500L, s"corpus document number $i")) // dups
      ).toDF("doc_id", "text")
    val plain = Dedup.dedupAgainstCorpus(incoming, existing)
      .collect().map(_.getLong(0)).toSet
    for (nShards <- Seq(1, 2, 5)) {
      val sharded = Dedup.dedupAgainstCorpusBloomSharded(incoming, existing, nShards)
        .collect().map(_.getLong(0)).toSet
      assert(sharded == plain, s"nShards=$nShards: $sharded vs $plain")
    }
    // each shard's sketch honors the byte budget the unsharded build
    // rejects: same items, same budget, but split 8 ways it fits
    val perShard = 40L
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstCorpusBloom(incoming, existing,
        expectedItems = perShard * 8, fpp = 0.01, maxBloomBytes = 64L)
    }
    val ok = Dedup.dedupAgainstCorpusBloomSharded(incoming, existing, nShards = 8,
      expectedItemsPerShard = perShard, fpp = 0.01, maxBloomBytes = 64L)
      .collect().map(_.getLong(0)).toSet
    assert(ok == plain, s"under-budget sharded run diverged: $ok")
  }

  test("dedupAgainstCorpusBloom sketch build job count is pinned") {
    import org.apache.spark.graft.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val existing = (0L until 200L).map(i => (i, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val incoming = Seq((900L, "a new document")).toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      // with expectedItems the sketch builds in EXACTLY one narrow job
      // (Dedup's custom per-partition treeReduce); no sizing count, no
      // distinct
      Dedup.dedupAgainstCorpusBloom(incoming, existing, expectedItems = 200L)
      ListenerDrain.drain(spark.sparkContext)
      assert(jobs.get() == 1,
        s"expectedItems path must build the sketch in one job, ran ${jobs.get()}")
      jobs.set(0)
      // the default path adds only the sizing count over the raw rows —
      // 2 jobs as AQE runs it (shuffle stage + result) + the 1 build job
      Dedup.dedupAgainstCorpusBloom(incoming, existing)
      ListenerDrain.drain(spark.sparkContext)
      assert(jobs.get() == 3,
        s"default path = sizing count (2 AQE jobs) + sketch build, ran ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("containmentPairs flags a short doc swallowed by a long one that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long),
      (3L, "totally different words everywhere here now")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(cont.exists { case (a, b, c) => a == 1L && b == 2L && c >= 0.8 },
      s"short-in-long must exceed containment 0.8: ${cont.toSeq}")
    // the same pair fails a Jaccard 0.8 test — the union is dominated
    // by the long doc
    val jac = Dedup.ngramJaccardPairs(docs, threshold = 0.8).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "Jaccard at the same threshold must miss it (that asymmetry is the point)")
    assert(!cont.exists { case (a, b, _) => a == 3L || b == 3L })
  }

  test("dedupClusters: chains merge into one component labeled by the min id") {
    // components: {1,2,3,8,9} (via the 1-9 bridge) and {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (1L, 9L))
      .toDF("id1", "id2")
    val out = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L), out.toString)
  }

  test("dedupClusters converges on a long chain (diameter > 1 round)") {
    val n = 30L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id1", "id2")
    val out = Dedup.dedupClusters(chain).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L), s"all chain members must label 1: $out")
  }

  test("dedupClusters round count is logarithmic: 64-chain within 8 rounds, not 3") {
    // pointer jumping: diameter-D chain needs ~log2(D) rounds (+1 to
    // observe convergence). A linear-propagation regression would need
    // ~64 rounds and trip the maxIter guard.
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val out = Dedup.dedupClusters(chain, maxIter = 8).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L))
    intercept[IllegalStateException] {
      Dedup.dedupClusters(chain, maxIter = 3)
    }
  }

  test("dedupClusters with reliable checkpoints matches localCheckpoint results") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (1L, 9L))
      .toDF("id1", "id2")
    val local = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    val reliable = Dedup.dedupClusters(pairs, reliableCheckpoints = true).collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(reliable == local, s"reliable=$reliable local=$local")
    assert(new java.io.File(dir).listFiles().nonEmpty,
      "reliable run must have written checkpoint files")
  }

  test("clusterRepresentatives keeps the longest member, ties to smallest id, singletons keep themselves") {
    val d = Seq(
      (1L, "short text"),          // cluster {1,2,3}: 2 is longest
      (2L, "much longer text kept"),
      (3L, "short text"),
      (4L, "alone"),               // singleton
      (5L, "tie"), (6L, "tie")     // cluster {5,6}: equal length → keep 5
    ).toDF("doc_id", "text")
    val clusters = Dedup.dedupClusters(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2"))
    val out = Dedup.clusterRepresentatives(d, clusters).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2L, "much longer text kept".getBytes("UTF-8").length.toLong, 3L)))
    assert(out(4L) == ((4L, 5L, 1L)))
    assert(out(5L) == ((5L, 3L, 2L)))
    assert(out.size == 3)
  }

  test("applyDedup keeps exactly the representatives") {
    val d = Seq(
      (1L, "short text"), (2L, "much longer text kept"), (3L, "short text"),
      (4L, "alone"), (5L, "tie"), (6L, "tie")
    ).toDF("doc_id", "text")
    val reps = Dedup.clusterRepresentatives(d, Dedup.dedupClusters(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")))
    val kept = Dedup.applyDedup(d, reps).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L))
  }

  test("ngram jaccard: planted pair scores high, unrelated absent") {
    val out = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("id1", "id2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.exists { case (a, b, j) => a == 0L && b == 1L && j > 0.7 })
    assert(!out.exists { case (a, b, _) => a == 2L || b == 2L })
  }

  test("bloom handle lifecycle: consecutive ingest batches destroy their sketches (unsharded + sharded)") {
    import org.apache.spark.SparkEnv
    import org.apache.spark.storage.BroadcastBlockId

    def sketchBlocks(id: Long) =
      SparkEnv.get.blockManager.getMatchingBlockIds {
        case BroadcastBlockId(bid, _) => bid == id
        case _ => false
      }
    // Broadcast.destroy() is non-blocking: block removal is async, so
    // give it a bounded moment before asserting
    def awaitGone(id: Long): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while (sketchBlocks(id).nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }

    val existing = (0L until 40L).map(i => (i, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val batchHandleIds = scala.collection.mutable.ArrayBuffer[Long]()
    for (b <- 0 until 3) {
      val incoming = (100L + 10 * b until 110L + 10 * b)
        .map(i => (i, s"fresh doc $i of batch $b")).toDF("doc_id", "text")
      val (out, handle) = Dedup.dedupAgainstCorpusBloomWithHandle(incoming, existing)
      assert(out.count() == 10, s"batch $b rows")
      assert(sketchBlocks(handle.id).nonEmpty,
        s"batch $b: the sketch's broadcast blocks should be resident while live")
      handle.destroy()
      awaitGone(handle.id)
      assert(sketchBlocks(handle.id).isEmpty,
        s"batch $b: destroy() must remove the sketch's broadcast blocks")
      batchHandleIds += handle.id
    }
    // sharded path: the same per-batch contract, one handle per shard
    val incoming = (200L until 220L).map(i => (i, s"fresh sharded doc $i"))
      .toDF("doc_id", "text")
    val (outS, handles) =
      Dedup.dedupAgainstCorpusBloomShardedWithHandles(incoming, existing, nShards = 3)
    assert(outS.count() == 20)
    assert(handles.size == 3)
    handles.foreach(_.destroy())
    handles.foreach(h => awaitGone(h.id))
    handles.foreach(h => assert(sketchBlocks(h.id).isEmpty,
      s"shard sketch ${h.id} blocks must be gone after destroy()"))
    // no batch's sketch survives: nothing accumulates across batches
    (batchHandleIds ++ handles.map(_.id)).foreach(id =>
      assert(sketchBlocks(id).isEmpty, s"sketch $id leaked past its batch"))
  }

  test("dupSpans flags shared and self-repeated windows, skips short and unique docs") {
    import spark.implicits._
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ") // 6-token boilerplate
    val docs = Seq(
      // docs 1+2 share the boilerplate prefix, differ afterwards
      (1L, boiler + " u1 u2 u3 u4 u5 u6"),
      (2L, boiler + " v1 v2 v3 v4 v5 v6"),
      // doc 3: self-repeat — the same 6 tokens twice
      (3L, "r1 r2 r3 r4 r5 r6 r1 r2 r3 r4 r5 r6"),
      // doc 4: unique content, no dup spans
      (4L, (1 to 12).map(i => s"w$i").mkString(" ")),
      // doc 5: shorter than the window — never appears
      (5L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, w = 6).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), s"only docs with dup spans: $out")
    // docs 1/2: 12 tokens → 7 windows; only the boilerplate window (pos 0)
    // is shared
    assert(out(1L) == ((7L, 1L, math.rint(1.0 / 7 * 1e6) / 1e6)), s"doc1: ${out.get(1L)}")
    assert(out(2L)._1 == 7L && out(2L)._2 == 1L)
    // doc 3: 12 tokens → 7 windows; window 0 (r1..r6) == window 6 → both
    // positions count as dups
    assert(out(3L)._1 == 7L && out(3L)._2 == 2L, s"self-repeat: ${out.get(3L)}")
    // a doc below the window size yields no windows at all
    assert(!out.contains(5L))
  }

  test("dupSpanFamilies clusters maximal shared spans with reach counts") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"s$i").mkString(" ") // 8-token shared run
    val docs = Seq(
      // docs 1+2 carry the identical 8-token run (at different offsets)
      (1L, run + " u1 u2 u3 u4"),
      (2L, "x1 x2 " + run + " y1 y2"),
      // doc 3: self-repeated 4-token window, separated — two 1-window
      // spans of the same family
      (3L, "m1 m2 m3 m4 zz m1 m2 m3 m4"),
      // doc 4: unique — contributes nothing
      (4L, (1 to 12).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanFamilies(docs, w = 4, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 2, out.mkString("; "))
    // family 1: the shared run — 5 consecutive dup windows ⇒ 8-token
    // span, in 2 docs, once each; example doc is the smaller id
    val (fp1, spanTok1, nDocs1, nSpans1, ex1) = out(0)
    assert((spanTok1, nDocs1, nSpans1, ex1) == ((8L, 2L, 2L, 1L)), out(0).toString)
    // family 2: doc 3's self-repeat — two 1-window spans of 4 tokens
    val (fp2, spanTok2, nDocs2, nSpans2, ex2) = out(1)
    assert((spanTok2, nDocs2, nSpans2, ex2) == ((4L, 1L, 2L, 3L)), out(1).toString)
    assert(fp1 != fp2 && fp1.matches("[0-9a-f]{32}") && fp2.matches("[0-9a-f]{32}"))
  }

  test("removeDupSpans cuts duplicated windows everywhere but the owning doc") {
    import spark.implicits._
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ")
    val doc1 = boiler + " u1 u2 u3 u4 u5 u6"
    val doc2 = boiler + " v1 v2 v3 v4 v5 v6"
    val selfRep = "r1 r2 r3 r4 r5 r6 r1 r2 r3 r4 r5 r6"
    val unique = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, selfRep), (4L, unique), (5L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(docs, w = 6).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // every doc appears, touched or not
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // doc 1 owns the boilerplate window (smallest id) — untouched
    assert(out(1L) == ((12L, 12L, md5Of(doc1))), s"owner: ${out(1L)}")
    // doc 2 loses exactly the 6 boilerplate tokens
    assert(out(2L) == ((12L, 6L, md5Of("v1 v2 v3 v4 v5 v6"))), s"cut: ${out(2L)}")
    // doc 3's self-repeat is doc-granular ownership — it keeps both copies
    assert(out(3L) == ((12L, 12L, md5Of(selfRep))), s"self: ${out(3L)}")
    // untouched docs stream through with identity fingerprints
    assert(out(4L) == ((12L, 12L, md5Of(unique))))
    assert(out(5L) == ((2L, 2L, md5Of("tiny doc"))))
  }

  test("winnowing: shared run of >= w+k-1 tokens yields a shared fingerprint; storage shrinks") {
    import spark.implicits._
    val shared = (1 to 7).map(i => s"s$i").mkString(" ") // w+k-1 = 7 tokens at k=4,w=4
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 $shared a5 a6 a7 a8"),
      (2L, s"b1 b2 b3 b4 b5 $shared b6 b7 b8"),
      (3L, (1 to 20).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, k = 4, w = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the paper's guarantee: the 7-token shared run must surface
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run must share a fingerprint")
    // the unrelated doc shares nothing with either
    assert((byDoc(3L) & byDoc(1L)).isEmpty && (byDoc(3L) & byDoc(2L)).isEmpty)
    // selection stores fewer fingerprints than grams (the point of winnowing)
    val nGrams1 = 15 - 4 + 1 // doc 1: 15 tokens -> 12 grams
    assert(byDoc(1L).size < nGrams1, s"selected ${byDoc(1L).size} of $nGrams1 grams")
  }

  test("crossSourceSharing: shared anchors pair across sources, never within; pair counts multiply") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "s1"),
      (2L, "alpha beta gamma delta", "s1"), // within-source copy: not a cross pair
      (3L, "alpha beta gamma delta", "s2"), // cross-source: pairs with BOTH s1 copies
      (4L, "zeta zeta zeta zeta", "s3")     // unshared content: no row
    ).toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceSharing(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("s1", "s2", 1L, 2L)), out.mkString(","))
  }

  test("lshTuningCurve: exact S-curve chain, monotone with the textbook knee; measured stats are consistent") {
    import spark.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // two exact duplicates (guaranteed candidate pair) + unrelated docs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (4L, "red green blue yellow purple orange")).toDF("doc_id", "text")
    val out = Dedup.lshTuningCurve(docs, k = 16, rowsPerBand = 2).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(out.length == 19)
    // curve values equal the exact left-associated chain
    out.zipWithIndex.foreach { case ((s, p, _, _, _, _), idx) =>
      val i = idx + 1
      val sRaw = i.toDouble / 20.0
      val y = 1.0 - sRaw * sRaw
      val pRef = round6(1.0 - Seq.fill(8)(y).reduce(_ * _))
      assert(s == round6(math.floor(sRaw * 100 + 0.5) / 100) || s == BigDecimal(sRaw)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, s"s=$s")
      assert(p == pRef, s"p($s)=$p != $pRef")
    }
    // monotone, pinned endpoints and the (1/b)^(1/r) knee shape
    assert(out.map(_._2).sliding(2).forall(w => w(0) <= w(1)), "S-curve must be monotone")
    assert(out.head._2 < 0.05 && out.last._2 > 0.99)
    // measured stats: constant across rows; the planted dup pair is a candidate
    val stats = out.map(t => (t._3, t._4, t._5, t._6)).distinct
    assert(stats.length == 1, stats.toString)
    val (nDocs, nBuckets, maxBucket, nCand) = stats.head
    assert(nDocs == 4L && nCand >= 1L && nCand <= 6L, stats.toString)
    assert(maxBucket >= 2L, "the exact-dup pair must share every band bucket")
    assert(nBuckets >= 8L, "at least one bucket per band for the dup pair alone")
  }
}
