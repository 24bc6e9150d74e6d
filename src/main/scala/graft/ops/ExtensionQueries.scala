package graft.ops

import graft.Tables
import graft.dedup.Dedup
import graft.sim.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** The catalog's shared face layer: build-once faces ([[FaceCache]]) and
  * persisted indexes keyed on the whole dataset ([[datasetSignature]]),
  * read by the rows in `graft.ops.catalog`. `warmFaces` builds them all
  * ahead of a timed run. */
object ExtensionQueries {

  /** The CC chain's checkpoint mode, read from session conf so a bench
    * or deployment can flip to reliable checkpoint files (the cluster
    * configuration — see Dedup.dedupClusters) without a code change:
    * `spark.graft.cc.reliableCheckpoints=true` + a checkpoint dir. */
  private def ccReliable(s: org.apache.spark.sql.SparkSession): Boolean =
    s.conf.getOption("spark.graft.cc.reliableCheckpoints").exists(_.toBoolean)

  /** Cache key for every face: the dataset dir plus a digest of EVERY
    * file under it (relative path, size, mtime). One signature over the
    * whole dataset means no face can miss an input it reads, and a
    * dataset regenerated at the same path in the same JVM (the driver
    * does this between rounds) gets fresh faces instead of silently
    * stale ones. */
  private def datasetSignature(d: String): String = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(d)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.filter(Files.isRegularFile(_)).sorted().forEach { f =>
        val stamp =
          try s"${Files.size(f)}|${Files.getLastModifiedTime(f).toMillis}"
          catch { case _: java.io.IOException => "gone" }
        md.update(s"${root.relativize(f)}|$stamp\n".getBytes("UTF-8"))
      }
      finally walk.close()
    }
    s"$d@${md.digest().map("%02x".format(_)).mkString}"
  }

  /** Session-scoped build-once face registry — the ONE cache for every
    * shared face: the checkpointed in-memory faces and the persisted
    * on-disk indexes ([[indexFace]]) alike. One value per (session,
    * slot); a slot's value is REBUILT — and the old value RELEASED
    * (GraftPins deregistration + checkpoint-block unpersist, or the
    * index dir's deletion) — when its [[datasetSignature]] changes,
    * and every slot of a session is released when that session's
    * context ends.
    *
    * Keys are the session's `sessionUUID` (collision-free), NOT
    * `System.identityHashCode`: identity hashes can repeat once an
    * old session is GC'd, which would hand a later session a face
    * whose localCheckpoint blocks belong to a stopped context; and a
    * map that only ever inserts leaks every dead session's
    * DataFrames. The application-end listener evicts both hazards. */
  private[ops] object FaceCache {
    import org.apache.spark.sql.SparkSession
    /** One slot's memo. The BUILD runs under the cell's own monitor,
      * NEVER inside the ConcurrentHashMap update: a face build may
      * itself request another face (coGraphFace builds from
      * coMembership — a nested get on the same map), and a nested
      * `compute` is a CHM "recursive update" error whenever the two
      * slot keys share a bin. Per-cell monitors nest safely (distinct
      * locks, dependency order is acyclic); a build failure leaves the
      * cell empty so the next caller retries instead of caching the
      * exception. */
    private final class Cell(val sig: String, build0: () => AnyRef,
                             releaseFn: AnyRef => Unit) {
      private var v: AnyRef = null
      def value: AnyRef = synchronized {
        if (v == null) { v = build0(); builds.incrementAndGet() }
        v
      }
      def release(): Unit = synchronized {
        if (v != null) { try releaseFn(v) catch { case _: Throwable => () }; v = null }
      }
    }
    private val bySession =
      new java.util.concurrent.ConcurrentHashMap[
        String, java.util.concurrent.ConcurrentHashMap[String, Cell]]()
    private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    /** Last-get stamp per session — the LRU order for [[evictOverCap]].
      * Monotonic nanoTime, never wall clock. */
    private val lastUsed =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    /** Replaced cells awaiting release: a signature change swaps the
      * CELL immediately (new readers build fresh), but the old value's
      * checkpoint blocks are freed only after a grace period — a
      * concurrent reader may still hold the old face, or hold a LAZY
      * derivative whose first materialization reads the old blocks
      * (coGraphFace's tables recompute from coMembership's
      * checkpoint; an immediate release would turn that rebuild into
      * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). The grace window bounds the
      * exposure instead of refcounting every handout; a reader
      * holding a face across a mid-session dataset swap for longer
      * than the grace is outside the cache's contract (in-repo
      * drivers never swap datasets mid-query). Swept on later gets
      * and drained at application end. */
    private final case class Retired(cell: Cell, atNanos: Long)
    private val graveyard =
      new java.util.concurrent.ConcurrentLinkedQueue[Retired]()
    private def sweepGraveyard(graceNanos: Long): Unit = {
      val now = System.nanoTime()
      var r = graveyard.peek()
      while (r != null && (graceNanos == 0L || now - r.atNanos >= graceNanos)) {
        if (graveyard.remove(r)) r.cell.release()
        r = graveyard.peek()
      }
    }
    // non-classic sessions (none in-repo) get a random stable id;
    // weak keys so the fallback map can't itself pin dead sessions
    private val fallbackIds = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
    private def sessionId(s: SparkSession): String =
      GraftPins.sessionUuid(s).getOrElse(
        fallbackIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString))
    private def releaseAll(uuid: String): Unit = {
      val slots = bySession.remove(uuid)
      if (slots != null) slots.values.forEach(_.release())
      hooked.remove(uuid)
      lastUsed.remove(uuid)
      ()
    }
    /** Dead-session bound (the r13 ADVICE leak): `SparkSession.stop()`
      * IS `sparkContext.stop()` (bytecode-verified), so the only
      * session teardown the application-end listener can miss is a
      * dropped `newSession()` instance — GC-invisible here because
      * cached DataFrames strongly reference their session. The cache
      * therefore keeps faces for at most `maxSessions` sessions
      * (LRU by last get): inserting one beyond the cap releases the
      * least-recently-used session's slots. Sessions beyond the cap
      * are assumed dead — a process genuinely interleaving more
      * concurrent face-holding sessions than the cap raises
      * `spark.graft.faceCache.maxSessions`. */
    private def evictOverCap(maxSessions: Int, keep: String): Unit =
      while (bySession.size > maxSessions) {
        var oldest: String = null
        var oldestAt = Long.MaxValue
        bySession.keySet.forEach { u =>
          val at = lastUsed.getOrDefault(u, java.lang.Long.valueOf(Long.MinValue)).longValue()
          if (u != keep && at < oldestAt) { oldest = u; oldestAt = at }
        }
        if (oldest == null) return
        releaseAll(oldest)
      }
    /** Test observability. */
    private[ops] val builds = new java.util.concurrent.atomic.AtomicLong()
    private[ops] def sessionCount: Int = bySession.size
    private[ops] def retiredCount: Int = graveyard.size
    private[ops] def hasSession(s: SparkSession): Boolean =
      bySession.containsKey(sessionId(s))
    def get[T <: AnyRef](s: SparkSession, slot: String, sig: String)
                        (build: => T)(releaseFn: T => Unit): T = {
      val uuid = sessionId(s)
      if (hooked.add(uuid))
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            releaseAll(uuid)
            sweepGraveyard(0L) // drain: nothing can hold a face past the app
          }
        })
      lastUsed.put(uuid, java.lang.Long.valueOf(System.nanoTime()))
      val slots = bySession.computeIfAbsent(uuid,
        _ => new java.util.concurrent.ConcurrentHashMap[String, Cell]())
      evictOverCap(s.conf.getOption("spark.graft.faceCache.maxSessions")
        .map(_.toInt).getOrElse(8), keep = uuid)
      // the map update only swaps CELLS (cheap, lock-brief); the
      // replaced cell is RETIRED, not released — see graveyard
      var replaced: Cell = null
      val cell = slots.compute(slot, (_, old) => {
        if (old != null && old.sig == sig) old
        else {
          replaced = old
          new Cell(sig, () => build, releaseFn.asInstanceOf[AnyRef => Unit])
        }
      })
      if (replaced != null) graveyard.add(Retired(replaced, System.nanoTime()))
      sweepGraveyard(s.conf.getOption("spark.graft.faceCache.replaceGraceMs")
        .map(_.toLong).getOrElse(60000L) * 1000000L)
      cell.value.asInstanceOf[T]
    }
  }

  private def releaseDf(df: org.apache.spark.sql.DataFrame): Unit =
    GraftPins.unpin(df)

  /** The shared checkpointed embeddings table — the input of the
    * ~20-row similarity tier (kNN joins, ANN variants, SemDeDup,
    * MMR, drift). Schema-identical to the parquet read (the float
    * vectors are NOT pre-widened: every operator casts to double
    * itself, so results are byte-identical to reading the files),
    * which makes the swap universally safe; what's shared is the
    * scan. At the test SFs the table is megabytes and the saving is
    * noise — the design point is the 100 TB shape, where an
    * embedding corpus re-scanned by every catalog row IS the tier's
    * dominant repeated cost and one materialization per (session,
    * dataset) is the difference between 1 and N corpus reads
    * (measured locally as a no-op, recorded in BENCH_SCALE; the
    * GraphFace amortization argument at corpus scale). */
  private[ops] def coEmbeddings(s: org.apache.spark.sql.SparkSession,
                                d: String): org.apache.spark.sql.DataFrame =
    FaceCache.get(s, "embeddings", datasetSignature(d)) {
      GraftPins.cut(Tables.embeddings(s, d), pinned = true)
    }(releaseDf)

  /** The distinct (l_orderkey, l_partkey) basket-membership table —
    * the shared upstream of THREE query families: the co-occurrence
    * graph face (self-join source), x_item_cf's baskets, and
    * x_assoc_rules' pair counts. One distinct per (session, dataset),
    * checkpointed + pinned (GraftPins: survives Bench's between-query
    * sweep), instead of one per query. */
  private[ops] def coMembership(s: org.apache.spark.sql.SparkSession,
                                d: String): org.apache.spark.sql.DataFrame =
    FaceCache.get(s, "membership", datasetSignature(d)) {
      // checkpointed HASH-PARTITIONED ON THE BASKET KEY (the GraphFace
      // `sym` discipline): the distinct alone would leave the table
      // partitioned on (orderkey, partkey), so every basket-keyed
      // consumer — the co-occurrence pair self-join feeding the graph
      // face, x_assoc_rules' pair enumeration, x_item_cf's baskets —
      // would re-exchange BOTH self-join sides by orderkey. One
      // build-time repartition makes the self-joins exchange-free
      // (both sides report the checkpoint's partitioning).
      // AQE-off materialization: an adaptive plan's checkpoint records
      // UnknownPartitioning, silently discarding the basket-key layout
      // this face exists to provide (GraftPins.withAqeOff scaladoc)
      GraftPins.cut(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .repartition(col("l_orderkey")), keepLayout = true, pinned = true)
    }(releaseDf)

  private def pairsFromMembership(li: org.apache.spark.sql.DataFrame) = {
    val m = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    m.select(col("ok"), col("pk").as("src"))
      .join(m.select(col("ok"), col("pk").as("dst")), "ok")
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"))
  }

  /** The verified near-dup PAIR table at the tier's canonical
    * parameters (threshold 0.5, cap 64, full documents) — the shared
    * upstream of the whole dedup-application family: x_dedup_minhash
    * emits it, x_dedup_clusters / x_cluster_reps / x_dedup_apply /
    * x_split_leakage_free all cluster it. Each previously re-shingled,
    * re-minhashed, re-banded and re-verified the documents table per
    * query (the tier's dominant repeated CPU — md5 per shingle); one
    * checkpointed build per (session, dataset) and every consumer
    * rides it (the coEmbeddings/coGraphFace amortization, one tier
    * over). Results are byte-identical: the face IS the per-query
    * expression, materialized. */
  private[ops] def coNdPairs(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    FaceCache.get(s, "ndpairs", datasetSignature(d)) {
      GraftPins.cut(Dedup.minhashNearDupsMd5(
        Tables.documents(s, d), threshold = 0.5, maxBucketSize = Some(64)), pinned = true)
    }(releaseDf)

  /** The duplicate-cluster labeling over [[coNdPairs]] — shared by the
    * four queries that turn pairs into keep/drop decisions. Builds the
    * pair face if absent (a nested FaceCache.get — per-cell monitors
    * nest safely, FaceCache scaladoc). */
  private[ops] def coNdClusters(s: org.apache.spark.sql.SparkSession,
                                d: String): org.apache.spark.sql.DataFrame =
    FaceCache.get(s, "ndclusters", datasetSignature(d)) {
      GraftPins.cut(Dedup.dedupClusters(coNdPairs(s, d),
        reliableCheckpoints = ccReliable(s)), pinned = true)
    }(releaseDf)

  /** The in-session corpus near-dup index (docs with id % 5 ≠ 0 — the
    * standing corpus of the incremental family) for
    * x_dedup_incremental_neardup: the corpus-side shingles/signatures/
    * band groups — the part that grows with the CORPUS — materialize
    * once per (session, dataset); each probe then pays only
    * batch-proportional work. The session-cached sibling of the
    * PERSISTED index rows (x_dedup_incremental_neardup_persisted /
    * x_dedup_index_merged keep demonstrating the on-disk path a
    * deployment uses across processes — this face is the
    * within-process amortization). The checkpoint holds the corpus
    * shingle arrays in block storage — the memory-for-CPU trade the
    * persisted rows resolve toward disk. */
  private[ops] def coNdCorpusIndex(s: org.apache.spark.sql.SparkSession,
                                   d: String): Dedup.CorpusNearDupIndex =
    FaceCache.get(s, "ndcorpusindex", datasetSignature(d)) {
      val idx = Dedup.corpusNearDupIndex(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 0),
        maxBucketSize = Some(64))
      Dedup.CorpusNearDupIndex(
        GraftPins.cut(idx.bands, pinned = true),
        GraftPins.cut(idx.shingles, pinned = true))
    }(idx => { releaseDf(idx.bands); releaseDf(idx.shingles) })

  /** The SemDeDup k-means centroids (nClusters 4, dim 64, iters 2 —
    * the two semantic-dedup rows' shared clustering) — a DRIVER-HELD
    * value face: kmeans is deterministic (md5-seeded, fixed iteration
    * order), so the cached centroids equal a recompute exactly, and
    * the two rows that previously each paid the seed scan + 2 Lloyd's
    * passes over the embeddings corpus share one run. No blocks to
    * release (the value is a small Seq on the driver). */
  private[ops] def coSemCentroids(s: org.apache.spark.sql.SparkSession,
                                  d: String): Seq[(Int, Seq[Double])] =
    FaceCache.get(s, "semcents", datasetSignature(d)) {
      Similarity.kmeans(coEmbeddings(s, d), nLists = 4, dim = 64, iters = 2)
    }(_ => ())

  /** The part co-occurrence graph's shared [[GraphOps.GraphFace]]
    * (parts sharing an order — the input of the seven structural graph
    * queries). Each catalog query previously rebuilt the canonical
    * edge set (lineitem self-join + distinct, seconds at sf1) and
    * x_triangles/x_ktruss each built their own orientation+adjacency;
    * one face per (session, dataset) builds every derived table at
    * most once and the queries share the checkpoints (the face holds
    * session-bound localCheckpoints, hence the session in the key).
    * Results are unchanged: the face computes exactly the tables the
    * per-query builds did. */
  private[ops] def coGraphFace(s: org.apache.spark.sql.SparkSession, d: String): GraphOps.GraphFace =
    FaceCache.get(s, "graphface", datasetSignature(d)) {
      // pinned: the cached face must survive graft.Bench's
      // between-query pinned-block sweep (GraftPins scaladoc)
      GraphOps.face(pairsFromMembership(coMembership(s, d)), pinned = true)
    }(_.release())

  /** The co-RETURNED-parts graph face (returnflag = 'R' membership) —
    * x_ktruss's input. Its own cache entry: the filter changes the
    * edge set, so nothing is shared with [[coGraphFace]] except the
    * build recipe; caching it gives repeat invocations the same
    * amortization as the unfiltered face. */
  private[ops] def coGraphFaceR(s: org.apache.spark.sql.SparkSession, d: String): GraphOps.GraphFace =
    FaceCache.get(s, "graphfaceR", datasetSignature(d)) {
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      GraphOps.face(pairsFromMembership(li), pinned = true)
    }(_.release())

  /** The shared PREPARED purchase graph — the bipartite
    * customer→supplier edge set (orders ⋈ lineitem, node ids
    * disambiguated 2k / 2k+1) that BOTH x_pagerank and x_ppr iterate
    * over. r15 left each row rebuilding the identical join + distinct
    * + layout checkpoints (and, under the tiny gate, re-collecting the
    * edge array) per query; one PreparedGraph per (session, dataset)
    * pays that once — the r14 ND-tier rewiring, PageRank edition.
    * Results are byte-identical: the same buildGraph output feeds the
    * same round loops (PageRankOpSpec pins prepared == direct). */
  private[ops] def coPurchaseGraph(s: org.apache.spark.sql.SparkSession,
                                   d: String): PageRankOp.PreparedGraph =
    FaceCache.get(s, "purchasegraph", datasetSignature(d)) {
      val e = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      PageRankOp.prepare(e, "src", "dst", pinned = true)
    }(_.release())

  /** Pre-builds every shared build-once artifact for (session, dir) —
    * the FaceCache faces AND the persisted on-disk indexes — returning
    * (metric-name, build-seconds) per artifact. Bench calls this
    * BEFORE the timed loop (full legs only) so the shared-face build
    * cost is attributed to its own `face:<name>` metric instead of
    * landing on whichever tier row happens to run first: amortized
    * rolling floors exclude the build by convention (the EMBTIER
    * precedent), so a full leg's first tier row otherwise self-flags
    * at norm ~20× (r14: x_sample_semantic 3.01 s vs its 0.14
    * post-fold floor) and every record leg needs manual adjudication.
    * Build order follows the dependency chain (membership before the
    * graph faces, embeddings before centroids/PQ/IVF) so each metric
    * prices exactly its own artifact, not a dependency's. */
  def warmFaces(s: org.apache.spark.sql.SparkSession,
                d: String): Seq[(String, Double)] = {
    def timed(name: String)(body: => Any): (String, Double) = {
      val t0 = System.nanoTime()
      body
      (name, (System.nanoTime() - t0) / 1e9)
    }
    Seq(
      timed("membership") { coMembership(s, d) },
      timed("graphface") { coGraphFace(s, d) },
      timed("graphface_r") { coGraphFaceR(s, d) },
      timed("purchasegraph") { coPurchaseGraph(s, d) },
      timed("embeddings") { coEmbeddings(s, d) },
      timed("semcents") { coSemCentroids(s, d) },
      timed("ndpairs") { coNdPairs(s, d) },
      timed("ndclusters") { coNdClusters(s, d) },
      timed("ndcorpusindex") { coNdCorpusIndex(s, d) },
      timed("ndindex_saved") { ndIndexFor(s, d) },
      timed("ndindex_merged") { ndMergeIndexFor(s, d) },
      timed("pqindex_saved") { pqIndexFor(s, d) },
      timed("ivfindex_saved") { ivfIndexFor(s, d) },
      timed("invindex_saved") { invIndexFor(s, d) }
    )
  }

  /** A persisted-index face: `write` fills a fresh temp dir once per
    * (session, dataset) and the slot's value is that dir. Its release —
    * after replacement's grace period, at session end, or on LRU
    * eviction — deletes the dir, so the on-disk indexes follow the same
    * lifecycle as the in-memory faces. */
  private def indexFace(s: org.apache.spark.sql.SparkSession, d: String,
                        slot: String)(write: String => Unit): String =
    FaceCache.get(s, slot, datasetSignature(d)) {
      val path = java.nio.file.Files.createTempDirectory(s"graft-$slot").toString
      try write(path)
      catch { case e: Throwable => deleteDir(path); throw e }
      path
    }(deleteDir)

  private def deleteDir(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  private[ops] def ndIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    indexFace(s, d, "ndindex_saved") { path =>
      // ride the ndcorpusindex face: saveNearDupIndex would recompute
      // corpusNearDupIndex on the IDENTICAL input (docs with id%5 != 0,
      // same k/rowsPerBand/shingleW/maxBucketSize) — the face already
      // holds those two tables checkpointed, so the build is just the
      // two writes; loaded probes join the tables, so row order is
      // immaterial and results are unchanged (oracle-pinned)
      val idx = coNdCorpusIndex(s, d)
      idx.bands.write.mode("overwrite").parquet(s"$path/bands")
      idx.shingles.write.mode("overwrite").parquet(s"$path/shingles")
    }

  private[ops] def ndMergeIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    indexFace(s, d, "ndindex_merged") { path =>
      Dedup.saveNearDupIndex(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)), path,
        maxBucketSize = Some(64))
    }

  private[ops] def pqIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    indexFace(s, d, "pqindex_saved") { path =>
      Similarity.savePqIndex(coEmbeddings(s, d), dim = 64, path,
        m = 8, nCents = 16, iters = 2)
    }

  /** Build-once persisted IVF index ([[indexFace]]): run 2 onward of a
    * bench (and every later query batch in a deployment) pays ONLY the
    * probe — which is the point of persisting. */
  private[ops] def ivfIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    indexFace(s, d, "ivfindex_saved") { path =>
      // ride the semcents face: saveIndexIvf's own kmeans would be the
      // IDENTICAL deterministic call (nLists 4, dim 64, iters 2, same
      // salt, same checkpointed embeddings face), so the index bytes
      // are unchanged (saveIndexIvfWithCentroids is the spec-pinned
      // same-centroids building block) and the build skips a duplicate
      // seed scan + 2 Lloyd corpus passes
      Similarity.saveIndexIvfWithCentroids(coEmbeddings(s, d),
        coSemCentroids(s, d), path)
    }

  private[ops] def invIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    indexFace(s, d, "invindex_saved") { path =>
      graft.corpus.Corpus.saveInvertedIndex(Tables.documents(s, d), path)
    }
}
