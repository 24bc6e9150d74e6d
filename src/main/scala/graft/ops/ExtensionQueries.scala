package graft.ops

import graft.{Q, Tables}
import graft.dedup.Dedup
import graft.mm.Multimodal
import graft.sim.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Catalog entries for the training-data-pipeline tier: dedup,
  * similarity search, multimodal plumbing, windowed aggregation.
  * Hash-based operators (minhash/simhash/LSH/fingerprints) have no SQL
  * oracle — their determinism is pinned by specs instead.
  *
  * ORACLE TYPING RULE (load-bearing against the driver's hash
  * normalization, not just compare.py): any integer output column that
  * reaches DuckDB's SELECT list through a window SUM, a plain SUM, or
  * a COALESCE over either is HUGEINT there and stringifies as `0.0`
  * vs Spark's BIGINT `0` — always wrap it `CAST(... AS BIGINT)`.
  * Swept r10: every window-SUM-derived output column in this file is
  * either cast or internal-only.
  */
object ExtensionQueries {

  /** The CC chain's checkpoint mode, read from session conf so a bench
    * or deployment can flip to reliable checkpoint files (the cluster
    * configuration — see Dedup.dedupClusters) without a code change:
    * `spark.graft.cc.reliableCheckpoints=true` + a checkpoint dir. */
  private def ccReliable(s: org.apache.spark.sql.SparkSession): Boolean =
    s.conf.getOption("spark.graft.cc.reliableCheckpoints").exists(_.toBoolean)

  /** Exact dedup by full text. */
  val dedupExact: Q = Q(
    "x_dedup_exact",
    (s, d) => Dedup.exact(Tables.documents(s, d)),
    Some("""
      SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY text
    """.trim)
  )

  /** MinHash+LSH near-dup pairs on the md5 hash family — fully
    * oracle-checked: DuckDB replays the identical minhash/banding/
    * verification construction hash-for-hash. (The xxhash64+splitmix
    * operator minhashNearDups is the faster in-engine scale path; its
    * algorithm is identical and spec-pinned.) */
  val dedupMinhash: Q = Q(
    "x_dedup_minhash",
    (s, d) => coNdPairs(s, d),
    Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      ab AS (SELECT doc_id, shl, list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs),
      bc AS (SELECT b, s FROM bands GROUP BY b, s HAVING COUNT(*) BETWEEN 2 AND 64),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
               FROM bc JOIN bands x ON x.b = bc.b AND x.s = bc.s
                       JOIN bands y ON y.b = bc.b AND y.s = bc.s
                                   AND x.doc_id < y.doc_id),
      scored AS (SELECT id1, id2,
                        len(list_intersect(x.shl, y.shl)) AS nc,
                        len(x.shl) AS n1, len(y.shl) AS n2
                 FROM cand
                 JOIN sh0 x ON id1 = x.doc_id
                 JOIN sh0 y ON id2 = y.doc_id)
      SELECT id1, id2, CAST(nc AS DOUBLE) / (n1 + n2 - nc) AS jaccard
      FROM scored
      WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5
    """.trim)
  )

  /** Duplicate clusters from the MinHash near-dup pairs (jaccard ≥ 0.5,
    * the dedup-grade threshold): connected components via
    * pointer-jumping min-label propagation (Dedup.dedupClusters), each
    * member labeled with its cluster's canonical (minimum) doc id —
    * the step that turns pairwise similarity into keep/drop decisions.
    * The oracle computes components INDEPENDENTLY — a recursive-CTE
    * transitive closure over the same pair set — so this checks the
    * clustering semantics, not just the arithmetic. */
  val dedupClusters: Q = Q(
    "x_dedup_clusters",
    (s, d) => coNdClusters(s, d),
    Some("""
      WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      ab AS (SELECT doc_id, shl, list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs),
      bc AS (SELECT b, s FROM bands GROUP BY b, s HAVING COUNT(*) BETWEEN 2 AND 64),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
               FROM bc JOIN bands x ON x.b = bc.b AND x.s = bc.s
                       JOIN bands y ON y.b = bc.b AND y.s = bc.s
                                   AND x.doc_id < y.doc_id),
      pairs AS (SELECT id1, id2
                FROM (SELECT id1, id2,
                             len(list_intersect(x.shl, y.shl)) AS nc,
                             len(x.shl) AS n1, len(y.shl) AS n2
                      FROM cand
                      JOIN sh0 x ON id1 = x.doc_id
                      JOIN sh0 y ON id2 = y.doc_id) t
                WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5),
      edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
      reach(a, b) AS (SELECT a, b FROM edges
                      UNION
                      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      SELECT LEAST(a, MIN(b)) AS cluster_id, a AS doc_id FROM reach GROUP BY a
    """.trim)
  )

  /** Incremental dedup: new docs (doc_id ≡ 0 mod 5 stands in for
    * today's ingest) anti-joined against the existing corpus by the
    * default 120-bit md5-pair fingerprint (collision-safe at the
    * 10^11-doc design point — a 64-bit key's ~270 expected collisions
    * would each silently DROP a new document here) — only genuinely
    * new content survives. The oracle replays both 60-bit halves. */
  val dedupIncremental: Q = Q(
    "x_dedup_incremental",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupAgainstCorpus(
        incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        existing = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        .select(col("doc_id"), col("lang"))
    },
    Some("""
      WITH fp AS (SELECT doc_id, lang,
                         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS f
                  FROM documents)
      SELECT i.doc_id, i.lang FROM fp i
      WHERE i.doc_id % 5 = 0
        AND NOT EXISTS (SELECT 1 FROM fp e WHERE e.doc_id % 5 <> 0
          AND ('0x' || substr(e.f, 1, 15))::BIGINT = ('0x' || substr(i.f, 1, 15))::BIGINT
          AND ('0x' || substr(e.f, 17, 15))::BIGINT = ('0x' || substr(i.f, 17, 15))::BIGINT)
    """.trim)
  )

  /** Bloom-prefiltered incremental dedup: the corpus fingerprints build
    * a bloom filter once; ingest rows failing might_contain skip the
    * anti-join entirely (no false negatives), rows passing it resolve
    * against the exact fingerprint set — so the result is row-identical
    * to x_dedup_incremental and the oracle IS the plain anti-join,
    * while the join shuffle shrinks to fpp·|new| + |true dups|. */
  val dedupIncrementalBloom: Q = Q(
    "x_dedup_incremental_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupAgainstCorpusBloom(
        incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        existing = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        .select(col("doc_id"), col("lang"))
    },
    Some("""
      WITH fp AS (SELECT doc_id, lang,
                         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS f
                  FROM documents)
      SELECT i.doc_id, i.lang FROM fp i
      WHERE i.doc_id % 5 = 0
        AND NOT EXISTS (SELECT 1 FROM fp e WHERE e.doc_id % 5 <> 0
          AND ('0x' || substr(e.f, 1, 15))::BIGINT = ('0x' || substr(i.f, 1, 15))::BIGINT
          AND ('0x' || substr(e.f, 17, 15))::BIGINT = ('0x' || substr(i.f, 17, 15))::BIGINT)
    """.trim)
  )

  /** Sharded-sketch incremental dedup: the corpus's fingerprint space
    * splits into 4 deterministic shards, each folding into its OWN
    * under-budget bloom — the path dedupAgainstCorpusBloom's byte-budget
    * error points at for corpora whose single sketch would blow
    * maxBloomBytes (10¹⁰⁺ fingerprints). Shard membership partitions
    * both sides on the same key, so results stay row-identical to the
    * plain anti-join and the oracle is unchanged. */
  val dedupIncrementalBloomSharded: Q = Q(
    "x_dedup_incremental_bloom_sharded",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupAgainstCorpusBloomSharded(
        incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        existing = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        nShards = 4)
        .select(col("doc_id"), col("lang"))
    },
    Some("""
      WITH fp AS (SELECT doc_id, lang,
                         md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS f
                  FROM documents)
      SELECT i.doc_id, i.lang FROM fp i
      WHERE i.doc_id % 5 = 0
        AND NOT EXISTS (SELECT 1 FROM fp e WHERE e.doc_id % 5 <> 0
          AND ('0x' || substr(e.f, 1, 15))::BIGINT = ('0x' || substr(i.f, 1, 15))::BIGINT
          AND ('0x' || substr(e.f, 17, 15))::BIGINT = ('0x' || substr(i.f, 17, 15))::BIGINT)
    """.trim)
  )

  /** Incremental NEAR-dup dedup: today's ingest (doc_id ≡ 0 mod 5)
    * keeps only rows that are not a Jaccard-0.5 near-duplicate of ANY
    * existing-corpus doc — the MinHash/LSH twin of the exact
    * incremental family above (which only catches byte-identical
    * normalized text). Candidates come from one equi-join of the
    * batch's band signatures against the corpus's pre-grouped band
    * table (persistable, bucketed — the near-dup analogue of the
    * persisted-IVF probe path); exact Jaccard verification per
    * candidate keeps precision. The oracle replays the identical
    * banding + verification construction across the same split. */
  val dedupIncrementalNearDup: Q = Q(
    "x_dedup_incremental_neardup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupAgainstCorpusNearDupIndexed(
        incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        index = coNdCorpusIndex(s, d), threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    },
    Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      ab AS (SELECT doc_id, shl, list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs),
      exg AS (SELECT b, s FROM bands WHERE doc_id % 5 <> 0
              GROUP BY b, s HAVING COUNT(*) <= 64),
      cand AS (SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
               FROM exg g JOIN bands i ON i.b = g.b AND i.s = g.s
                          JOIN bands e ON e.b = g.b AND e.s = g.s
                                      AND e.doc_id % 5 <> 0
               WHERE i.doc_id % 5 = 0),
      matched AS (SELECT DISTINCT in_id FROM (
                  SELECT in_id,
                         len(list_intersect(x.shl, y.shl)) AS nc,
                         len(x.shl) AS n1, len(y.shl) AS n2
                  FROM cand
                  JOIN sh0 x ON in_id = x.doc_id
                  JOIN sh0 y ON ex_id = y.doc_id) t
                  WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5)
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id % 5 = 0
        AND d.doc_id NOT IN (SELECT in_id FROM matched)
    """.trim)
  )

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
  private def coEmbeddings(s: org.apache.spark.sql.SparkSession,
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
  private def coMembership(s: org.apache.spark.sql.SparkSession,
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
  private def coNdPairs(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    FaceCache.get(s, "ndpairs", datasetSignature(d)) {
      GraftPins.cut(Dedup.minhashNearDupsMd5(
        Tables.documents(s, d), threshold = 0.5, maxBucketSize = Some(64)), pinned = true)
    }(releaseDf)

  /** The duplicate-cluster labeling over [[coNdPairs]] — shared by the
    * four queries that turn pairs into keep/drop decisions. Builds the
    * pair face if absent (a nested FaceCache.get — per-cell monitors
    * nest safely, FaceCache scaladoc). */
  private def coNdClusters(s: org.apache.spark.sql.SparkSession,
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
  private def coNdCorpusIndex(s: org.apache.spark.sql.SparkSession,
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
  private def coSemCentroids(s: org.apache.spark.sql.SparkSession,
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
  private def coGraphFace(s: org.apache.spark.sql.SparkSession, d: String): GraphOps.GraphFace =
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
  private def coGraphFaceR(s: org.apache.spark.sql.SparkSession, d: String): GraphOps.GraphFace =
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
  private def coPurchaseGraph(s: org.apache.spark.sql.SparkSession,
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

  private def ndIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
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

  /** Probe-only incremental near-dup dedup over the PERSISTED corpus
    * index: the corpus-side shingling/signatures/band grouping — the
    * part that grows with the corpus, and the reason the in-flight form
    * scales with |corpus| per batch — materializes once
    * ([[Dedup.saveNearDupIndex]]); each ingest batch then pays only
    * batch-proportional work. Identical parameters and result as
    * x_dedup_incremental_neardup, so the oracle is the same replay —
    * what changes is WHERE the corpus cost is paid. */
  val dedupIncrementalNearDupPersisted: Q = Q(
    "x_dedup_incremental_neardup_persisted",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupAgainstCorpusNearDupIndexed(
        incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        index = Dedup.loadNearDupIndex(s, ndIndexFor(s, d)),
        threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    },
    dedupIncrementalNearDup.oracle
  )

  private def ndMergeIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    indexFace(s, d, "ndindex_merged") { path =>
      Dedup.saveNearDupIndex(
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)).isin(1, 2, 3)), path,
        maxBucketSize = Some(64))
    }

  /** Incremental near-dup dedup against a MERGED index: the persisted
    * corpus index (docs with id%5 ∈ {1,2,3}, built once) plus an
    * in-flight DELTA fragment for yesterday's batch (id%5 = 4), merged
    * at delta cost ([[Dedup.corpusNearDupIndexMerge]] — no rescan of
    * the persisted fragments), probed by today's batch (id%5 = 0).
    * This is the shape that fixes the catalog's worst scale row: the
    * non-persisted face rebuilds the WHOLE index per call (its 3.8×
    * at 10× is the rebuild, not the probe), the persisted face is a
    * full REBUILD on corpus growth — the merge makes growth an append.
    * Per-call cost here = delta build + probe, both batch-sized.
    * The bucket cap applies per fragment (the append-only contract);
    * the oracle replays exactly that — each fragment's buckets capped
    * on their own counts. */
  val dedupIndexMerged: Q = Q(
    "x_dedup_index_merged",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merged = Dedup.corpusNearDupIndexMerge(
        Dedup.loadNearDupIndex(s, ndMergeIndexFor(s, d)),
        docs.filter(pmod(col("doc_id"), lit(5)) === 4),
        maxBucketSize = Some(64))
      Dedup.dedupAgainstCorpusNearDupIndexed(
        incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        index = merged, threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    },
    Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      ab AS (SELECT doc_id, shl, list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs),
      exg1 AS (SELECT b, s FROM bands WHERE doc_id % 5 IN (1, 2, 3)
               GROUP BY b, s HAVING COUNT(*) <= 64),
      exg2 AS (SELECT b, s FROM bands WHERE doc_id % 5 = 4
               GROUP BY b, s HAVING COUNT(*) <= 64),
      cand AS (SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
               FROM exg1 g JOIN bands i ON i.b = g.b AND i.s = g.s
                           JOIN bands e ON e.b = g.b AND e.s = g.s
                                       AND e.doc_id % 5 IN (1, 2, 3)
               WHERE i.doc_id % 5 = 0
               UNION
               SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
               FROM exg2 g JOIN bands i ON i.b = g.b AND i.s = g.s
                           JOIN bands e ON e.b = g.b AND e.s = g.s
                                       AND e.doc_id % 5 = 4
               WHERE i.doc_id % 5 = 0),
      matched AS (SELECT DISTINCT in_id FROM (
                  SELECT in_id,
                         len(list_intersect(x.shl, y.shl)) AS nc,
                         len(x.shl) AS n1, len(y.shl) AS n2
                  FROM cand
                  JOIN sh0 x ON in_id = x.doc_id
                  JOIN sh0 y ON ex_id = y.doc_id) t
                  WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5)
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id % 5 = 0
        AND d.doc_id NOT IN (SELECT in_id FROM matched)
    """.trim)
  )

  /** Exact dedup on the 120-bit md5-pair fingerprint: the 16-byte
    * shuffle key that stays collision-free at 10^11 docs (where the
    * 64-bit key expects ~270 silent merges). Both 60-bit halves replay
    * in DuckDB via the same hex-prefix construction. */
  val dedupExact128: Q = Q(
    "x_dedup_exact128",
    (s, d) => Dedup.exactByFingerprint128(Tables.documents(s, d)),
    Some("""
      WITH f AS (SELECT doc_id,
                        md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
                 FROM documents)
      SELECT ('0x' || substr(h, 1, 15))::BIGINT AS f1,
             ('0x' || substr(h, 17, 15))::BIGINT AS f2,
             MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM f GROUP BY 1, 2
    """.trim)
  )

  /** SimHash signatures on the md5-derived 60-bit token hash —
    * oracle-checked bit-for-bit (the xxhash64 simhash is the in-engine
    * fast path, spec-pinned). */
  val dedupSimhash: Q = Q(
    "x_dedup_simhash",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      Dedup.simhashMd5(col("text")).as("simhash")),
    Some("""
      SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b ->
               CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) > len(hs)
                    THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
      FROM (SELECT doc_id,
                   list_transform(regexp_split_to_array(text, '\s+'),
                     t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
            FROM documents)
    """.trim)
  )

  /** n-gram Jaccard pairs: candidates via an equi-join on the 60-bit
    * md5 shingle key (8-byte longs through the dictionary exchange, not
    * shingle text — see commonShinglePairs), verified with set
    * arithmetic over the hashed shingle universe. Fully oracle-checked:
    * DuckDB replays the identical md5-60 keys. */
  val ngramJaccard: Q = Q(
    "x_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d), threshold = 0.05,
      maxShingleDocFreq = Some(64)),
    Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      hh AS (SELECT doc_id, list_distinct(list_transform(shl,
                g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS hl FROM sh0),
      sh AS (SELECT doc_id, unnest(hl) AS g FROM hh),
      sizes AS (SELECT doc_id, len(hl) AS n FROM hh),
      capped AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 64),
      common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_common
                 FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                 JOIN capped c ON a.g = c.g
                 GROUP BY 1, 2)
      SELECT id1, id2, n_common,
             CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) AS jaccard
      FROM common
      JOIN (SELECT doc_id AS id1j, n AS n1 FROM sizes) s1 ON id1 = id1j
      JOIN (SELECT doc_id AS id2j, n AS n2 FROM sizes) s2 ON id2 = id2j
      WHERE CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) >= 0.05
    """.trim)
  )

  /** Near-containment pairs: |A∩B| / min(|A|,|B|) — catches a short
    * doc swallowed by a long one, where Jaccard stays low. Shares the
    * candidate machinery with x_ngram_jaccard — md5-60 hashed dictionary
    * keys and the oracle-replayed doc-frequency cap. */
  val containmentPairs: Q = Q(
    "x_containment_pairs",
    (s, d) => Dedup.containmentPairs(Tables.documents(s, d), threshold = 0.5,
      maxShingleDocFreq = Some(64)),
    Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      hh AS (SELECT doc_id, list_distinct(list_transform(shl,
                g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS hl FROM sh0),
      sh AS (SELECT doc_id, unnest(hl) AS g FROM hh),
      sizes AS (SELECT doc_id, len(hl) AS n FROM hh),
      capped AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 64),
      common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_common
                 FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                 JOIN capped c ON a.g = c.g
                 GROUP BY 1, 2)
      SELECT id1, id2, n_common,
             CAST(n_common AS DOUBLE) / LEAST(n1, n2) AS containment
      FROM common
      JOIN (SELECT doc_id AS id1j, n AS n1 FROM sizes) s1 ON id1 = id1j
      JOIN (SELECT doc_id AS id2j, n AS n2 FROM sizes) s2 ON id2 = id2j
      WHERE CAST(n_common AS DOUBLE) / LEAST(n1, n2) >= 0.5
    """.trim)
  )

  /** Brute-force cosine top-20 against vec_id 0 — the ANN baseline.
    * Double-cast before arithmetic + sequential fold keeps the score
    * bit-identical to DuckDB's list_dot_product. */
  val knnCosine: Q = Q(
    "x_knn_cosine",
    (s, d) => Similarity.knnBruteForce(coEmbeddings(s, d), queryId = 0L, k = 20),
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      sc AS (SELECT vec_id,
                    list_dot_product(v, qv) /
                      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
             FROM e, q WHERE vec_id <> 0)
      SELECT vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT vec_id, c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rn FROM sc) t
      WHERE rn <= 20
    """.trim)
  )

  /** SQ8 retrieve-and-rescore: quantized-cosine shortlist (50), exact
    * rescore to top-20. The oracle replays both stages — int8 codes
    * via the same floor arithmetic, shortlist rank with id tiebreak,
    * full-precision rescore. */
  val knnQuantized: Q = Q(
    "x_knn_quantized",
    (s, d) => Similarity.knnQuantizedRescore(coEmbeddings(s, d),
      queryId = 0L, k = 20, shortlist = 50),
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      enc AS (SELECT vec_id, v,
                     list_transform(v, x -> floor(x * (CASE WHEN list_max(list_transform(v, y -> abs(y))) = 0
                                                           THEN 0.0
                                                           ELSE 127.0 / list_max(list_transform(v, y -> abs(y))) END) + 0.5)) AS qd
              FROM e),
      q AS (SELECT v AS qv, qd AS qqd FROM enc WHERE vec_id = 0),
      short AS (SELECT vec_id, v, qv,
                       ROW_NUMBER() OVER (ORDER BY list_dot_product(qd, qqd) /
                         (sqrt(list_dot_product(qd, qd)) * sqrt(list_dot_product(qqd, qqd))) DESC,
                         vec_id) AS srn
                FROM enc, q WHERE vec_id <> 0),
      rescored AS (SELECT vec_id,
                          list_dot_product(v, qv) /
                            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
                   FROM short WHERE srn <= 50)
      SELECT vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT vec_id, c, ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rn
            FROM rescored) t
      WHERE rn <= 20
    """.trim)
  )

  /** LSH-bucketed ANN, fully oracle-checked: the hyperplanes are
    * deterministic driver-side constants, inlined as literal arrays
    * into BOTH the Spark plan and this SQL — so DuckDB computes the
    * identical buckets (dot products are bit-identical, see knnCosine)
    * and the identical probe result. */
  val annLsh: Q = {
    val planeSql = Similarity.hyperplanes(dim = 64, nBits = 6).zipWithIndex
      .map { case (p, b) =>
        s"(CASE WHEN list_dot_product(v, ${p.mkString("[", ", ", "]")}::DOUBLE[]) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
    Q(
      "x_ann_lsh",
      (s, d) => Similarity.annLsh(coEmbeddings(s, d), queryId = 0L, dim = 64,
        k = 20, nBits = 6),
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, $planeSql AS bucket FROM e),
        q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
        sc AS (SELECT vec_id,
                      list_dot_product(v, qv) /
                        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
               FROM b, q WHERE vec_id <> 0 AND bucket = qbucket)
        SELECT vec_id, ROUND(c, 6) AS cos_sim, rn
        FROM (SELECT vec_id, c,
                     ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rn FROM sc) t
        WHERE rn <= 20
      """.trim)
    )
  }

  /** IVF-style ANN probe (see Similarity.annIvf) — centroids from
    * exact-decimal means of rounded components, nearest list probed
    * with the fixed-order dot product; the oracle rebuilds centroids
    * and the probe with the identical arithmetic. */
  val annIvf: Q = Q(
    "x_ann_ivf",
    (s, d) => Similarity.annIvf(coEmbeddings(s, d), queryId = 0L, dim = 64, k = 20),
    Some("""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      comps AS (SELECT label, i AS pos, round(v[i], 6) AS x
                FROM e, (SELECT unnest(generate_series(1, 64)) AS i) idx),
      cent AS (SELECT label, pos,
                      CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS c
               FROM comps GROUP BY label, pos),
      cv AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      nearest AS (SELECT label AS probe_list, qv FROM cv, q
                  ORDER BY list_dot_product(cv, qv) /
                           (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) DESC,
                           label
                  LIMIT 1),
      sc AS (SELECT vec_id,
                    list_dot_product(v, qv) /
                      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
             FROM e JOIN nearest ON e.label = nearest.probe_list
             WHERE vec_id <> 0)
      SELECT vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT vec_id, c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rn FROM sc) t
      WHERE rn <= 20
    """.trim)
  )

  /** IVF over REAL k-means lists (Similarity.annIvfKmeans): 2 Lloyd's
    * rounds from salted-md5-draw seeds, final assignment, nearest-list
    * probe. The oracle replays the ENTIRE training run — seeds,
    * every per-round assignment (ROW_NUMBER over the identical
    * (squared-L2, list) ordering), every decimal-mean centroid update —
    * unrolled as CTEs, then the probe. Exact hash equality across both
    * engines pins every arithmetic choice in the k-means loop. */
  /** The k-means training run (seeds -> `iters` assign/update rounds ->
    * final assignment `asgf` over centroid CTE `cv<iters>`) unrolled as
    * DuckDB CTEs — shared by every IVF-kmeans oracle. Expects an `e`
    * CTE (vec_id, v) to precede it. */
  private def kmeansCtesSql(nLists: Int, iters: Int, dim: Int = 64,
                            salt: String = "kmeans:", e: String = "e",
                            sfx: String = ""): String = {
    def assignSql(name: String, centCte: String): String =
      s"""$name AS (SELECT vec_id, v, list FROM (
        SELECT e.vec_id, e.v, c.list,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.v, e.v) - 2.0*list_dot_product(e.v, c.cv) + list_dot_product(c.cv, c.cv),
                 c.list) AS rn
        FROM $e e, $centCte c) t WHERE rn = 1)"""
    def updateSql(n: Int, asgCte: String): String =
      s"""comps$n$sfx AS (SELECT list, i AS pos, round(v[i], 6) AS x
               FROM $asgCte, (SELECT unnest(generate_series(1, $dim)) AS i) idx),
      cent$n$sfx AS (SELECT list, pos,
                      CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS c
               FROM comps$n$sfx GROUP BY list, pos),
      cv$n$sfx AS (SELECT list, list(c ORDER BY pos) AS cv FROM cent$n$sfx GROUP BY list)"""
    val rounds = (1 to iters).map(r =>
      assignSql(s"asg$r$sfx", if (r == 1) s"cv0$sfx" else s"cv${r - 1}$sfx") + ",\n      " +
        updateSql(r, s"asg$r$sfx")).mkString(",\n      ")
    s"""dr$sfx AS (SELECT vec_id, v,
                    ('0x' || substr(md5('$salt' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS draw
             FROM $e),
      cv0$sfx AS (SELECT rn - 1 AS list, v AS cv FROM
                (SELECT v, ROW_NUMBER() OVER (ORDER BY draw, vec_id) AS rn FROM dr$sfx) s
              WHERE rn <= $nLists),
      $rounds,
      ${assignSql(s"asgf$sfx", s"cv$iters$sfx")}"""
  }

  val annIvfKmeans: Q = {
    val nLists = 4
    val iters = 2
    Q(
      "x_ann_ivf_kmeans",
      (s, d) => Similarity.annIvfKmeans(coEmbeddings(s, d), queryId = 0L,
        dim = 64, k = 20, nLists = nLists, iters = iters,
        centroids = Some(coSemCentroids(s, d))),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nLists, iters)},
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      nearest AS (SELECT list AS probe_list, qv FROM cv$iters, q
                  ORDER BY list_dot_product(cv, qv) /
                           (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) DESC,
                           list
                  LIMIT 1),
      sc AS (SELECT a.vec_id,
                    list_dot_product(a.v, qv) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv))) AS c
             FROM asgf a JOIN nearest ON a.list = nearest.probe_list
             WHERE a.vec_id <> 0)
      SELECT vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT vec_id, c,
                   ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rn FROM sc) t
      WHERE rn <= 20
    """.trim)
    )
  }

  /** Embedding outlier mining (Similarity.embedOutliers scaladoc:
    * broadcast centroids, codegen own-centroid cosine, bottom-k via
    * TakeOrderedAndProject). The oracle replays the unrolled Lloyd
    * runs (the x_ann_ivf_kmeans CTEs) and ranks ascending. */
  val embedOutliersQ: Q = {
    val nLists = 4
    val iters = 2
    Q(
      "x_embed_outliers",
      (s, d) => Similarity.embedOutliers(coEmbeddings(s, d), dim = 64,
        k = 20, nLists = nLists, iters = iters),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nLists, iters)},
      sc AS (SELECT a.vec_id, a.list,
                    list_dot_product(a.v, c.cv) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS c
             FROM asgf a JOIN cv$iters c ON a.list = c.list)
      SELECT vec_id, list, ROUND(c, 6) AS centroid_sim, rn
      FROM (SELECT vec_id, list, c,
                   ROW_NUMBER() OVER (ORDER BY c, vec_id) AS rn FROM sc) t
      WHERE rn <= 20
    """.trim)
    )
  }

  /** Product-quantization ANN (Similarity.annPq scaladoc has the
    * compression/ADC scale story). The oracle replays all m=8
    * per-subspace unrolled Lloyd's runs (kmeansCtesSql with per-
    * subspace salt/suffix/slice), the per-vector code assignment, and
    * the ADC distance A − 2.0·B + C summed in subspace order — so the
    * approximate distances, and therefore the retrieved set, are
    * hash-pinned, not just "close". */
  val annPqQ: Q = {
    val m = 8; val sub = 8; val nCents = 16; val iters = 2
    val subCtes = (0 until m).map { s =>
      s"""e$s AS (SELECT vec_id, v[${s * sub + 1}:${(s + 1) * sub}] AS v FROM e),
      ${kmeansCtesSql(nCents, iters, dim = sub, salt = s"pq$s:", e = s"e$s", sfx = s"_$s")}"""
    }.mkString(",\n      ")
    val terms = (0 until m).map { s =>
      s"""term$s AS (SELECT a.vec_id,
             list_dot_product(q.qs, q.qs) - 2.0*list_dot_product(q.qs, c.cv) + list_dot_product(c.cv, c.cv) AS t
           FROM asgf_$s a JOIN cv${iters}_$s c ON a.list = c.list,
                (SELECT qv[${s * sub + 1}:${(s + 1) * sub}] AS qs FROM q) q)"""
    }.mkString(",\n      ")
    val sumExpr = (0 until m).map(s => s"term$s.t").mkString(" + ")
    val joins = (1 until m).map(s => s"JOIN term$s ON term0.vec_id = term$s.vec_id").mkString("\n             ")
    Q(
      "x_ann_pq",
      (s, d) => Similarity.annPq(coEmbeddings(s, d), queryId = 0L, dim = 64, k = 20,
        m = m, nCents = nCents, iters = iters),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      $subCtes,
      $terms,
      sc AS (SELECT term0.vec_id, ROUND($sumExpr, 6) AS adc_dist
             FROM term0 $joins
             WHERE term0.vec_id <> 0)
      SELECT vec_id, adc_dist, ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS rn
      FROM sc ORDER BY adc_dist, vec_id LIMIT 20
    """.trim)
    )
  }

  private def pqIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    indexFace(s, d, "pqindex_saved") { path =>
      Similarity.savePqIndex(coEmbeddings(s, d), dim = 64, path,
        m = 8, nCents = 16, iters = 2)
    }

  /** Probe-only PQ ANN over the PERSISTED index: codebooks + coded
    * corpus materialize once ([[Similarity.savePqIndex]]); each probe
    * pays one driver-side LUT build + a scan of the 64×-compressed
    * codes table — the full-precision vectors are never read. Same
    * parameters as x_ann_pq, so results — and the oracle — are
    * identical; what changes is WHERE the train+encode cost is paid. */
  val annPqPersistedQ: Q = Q(
    "x_ann_pq_persisted",
    (s, d) => {
      val qv = coEmbeddings(s, d).filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .collect().head.getSeq[Double](0)
      Similarity.annPqPersisted(s, pqIndexFor(s, d), qv, k = 20,
        excludeId = Some(0L))
    },
    annPqQ.oracle
  )

  /** IVF-backed batch kNN join: the fixed 40-query eval set of
    * x_knn_join, but each query probes only its cosine-nearest k-means
    * list instead of the whole corpus — the index-backed retrieval
    * shape a 100 TB deployment actually runs (probes read a partition,
    * not the corpus). The oracle replays the ENTIRE pipeline: the
    * unrolled Lloyd's run (shared kmeansCtesSql), the per-query
    * nearest-centroid choice, and the per-query rank. */
  val knnJoinIvfBatch: Q = {
    val nLists = 4
    val iters = 2
    Q(
      "x_knn_join_ivf",
      (s, d) => {
        val emb = coEmbeddings(s, d)
        val queries = emb.filter(col("vec_id") < 40)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        Similarity.knnJoinIvf(emb, queries, dim = 64, k = 5,
          nLists = nLists, iters = iters)
      },
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nLists, iters)},
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 40),
      near AS (SELECT qid, qv, list AS probe_list FROM (
                 SELECT q.qid, q.qv, c.list,
                        ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                          list_dot_product(q.qv, c.cv) /
                            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.list) AS rn
                 FROM q, cv$iters c) t WHERE rn = 1),
      sc AS (SELECT near.qid, a.vec_id,
                    list_dot_product(a.v, near.qv) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(near.qv, near.qv))) AS c
             FROM asgf a JOIN near ON a.list = near.probe_list AND a.vec_id <> near.qid)
      SELECT qid, vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT qid, vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
            FROM sc) t
      WHERE rn <= 5
    """.trim)
    )
  }

  /** Build-once persisted IVF index ([[indexFace]]): run 2 onward of a
    * bench (and every later query batch in a deployment) pays ONLY the
    * probe — which is the point of persisting. */
  private def ivfIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
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

  /** Probe-only batch kNN join over the PERSISTED IVF index: the
    * centroids + list-partitioned corpus materialize once
    * ([[Similarity.saveIndexIvf]]); each batch then reads only the
    * probed list partitions (LayoutSpec asserts the partition pruning).
    * Same parameters as x_knn_join_ivf, so results — and the oracle,
    * which replays the unrolled Lloyd's run — are identical; what
    * changes is WHERE the k-means cost is paid: once at index-build,
    * not per query batch. */
  val knnJoinIvfPersistedQ: Q = {
    val nLists = 4
    val iters = 2
    Q(
      "x_knn_join_ivf_persisted",
      (s, d) => {
        val queries = coEmbeddings(s, d).filter(col("vec_id") < 40)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        Similarity.knnJoinIvfPersisted(s, ivfIndexFor(s, d), queries, k = 5)
      },
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nLists, iters)},
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 40),
      near AS (SELECT qid, qv, list AS probe_list FROM (
                 SELECT q.qid, q.qv, c.list,
                        ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                          list_dot_product(q.qv, c.cv) /
                            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.list) AS rn
                 FROM q, cv$iters c) t WHERE rn = 1),
      sc AS (SELECT near.qid, a.vec_id,
                    list_dot_product(a.v, near.qv) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(near.qv, near.qv))) AS c
             FROM asgf a JOIN near ON a.list = near.probe_list AND a.vec_id <> near.qid)
      SELECT qid, vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT qid, vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
            FROM sc) t
      WHERE rn <= 5
    """.trim)
    )
  }

  /** Multi-probe IVF batch kNN join (nprobe = 2): each query probes its
    * TWO cosine-nearest k-means lists — the standard IVF recall dial
    * for queries near a Voronoi boundary. The fan-out multiplies only
    * the broadcast query side (lists are disjoint, so no candidate
    * scores twice); the oracle replays the unrolled Lloyd's run and
    * takes centroid ranks ≤ 2 per query. */
  val knnJoinIvfMultiProbe: Q = {
    val nLists = 4
    val iters = 2
    Q(
      "x_knn_join_ivf_mp",
      (s, d) => {
        val emb = coEmbeddings(s, d)
        val queries = emb.filter(col("vec_id") < 40)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        Similarity.knnJoinIvf(emb, queries, dim = 64, k = 5,
          nLists = nLists, iters = iters, nprobe = 2)
      },
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nLists, iters)},
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 40),
      near AS (SELECT qid, qv, list AS probe_list FROM (
                 SELECT q.qid, q.qv, c.list,
                        ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                          list_dot_product(q.qv, c.cv) /
                            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.list) AS rn
                 FROM q, cv$iters c) t WHERE rn <= 2),
      sc AS (SELECT near.qid, a.vec_id,
                    list_dot_product(a.v, near.qv) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(near.qv, near.qv))) AS c
             FROM asgf a JOIN near ON a.list = near.probe_list AND a.vec_id <> near.qid)
      SELECT qid, vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT qid, vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
            FROM sc) t
      WHERE rn <= 5
    """.trim)
    )
  }

  /** Multi-band LSH batch kNN join: the OR-construction recall fix for
    * x_knn_join_lsh's single-band bucketing (recall@5 0.03-0.07 on the
    * uniform synthetic corpus — RECALL.md). Each vector lands in 8 band
    * tables at the adaptive bit width; a pair colliding in ANY band is
    * a candidate, deduped before the exact rescore. The oracle replays
    * the adaptive width from its own COUNT(*), all 8 band buckets from
    * the shared plane family, the ANY-band DISTINCT, and the per-query
    * rank. */
  val knnJoinLshMultiBandQ: Q = {
    val nBands = 8
    val target = 64L // top-k probe width, not the near-dup prefilter's 8
    val stride = Similarity.MaxBitsPerBand
    val planes = Similarity.hyperplanes(dim = 64, nBits = nBands * stride)
    val bitsSql = "CASE " + (4 until stride)
      .map(b => s"WHEN n <= ${target << b} THEN $b").mkString(" ") + s" ELSE $stride END"
    def bucketSql(bnd: Int): String = (0 until stride).map { i =>
      s"(CASE WHEN $i < p.bits AND list_dot_product(v, ${planes(bnd * stride + i).mkString("[", ", ", "]")}::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n        + ")
    val bandsSql = (0 until nBands)
      .map(b => s"SELECT vec_id, v, $b AS band, ${bucketSql(b)} AS bucket FROM e, p")
      .mkString("\n      UNION ALL\n      ")
    Q(
      "x_knn_join_lsh_mb",
      (s, d) => {
        val emb = coEmbeddings(s, d)
        val queries = emb.filter(col("vec_id") < 40)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        Similarity.knnJoinLshMultiBand(emb, queries, dim = 64, k = 5,
          nBands = nBands)
      },
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      p AS (SELECT $bitsSql AS bits FROM (SELECT COUNT(*) AS n FROM e)),
      bands AS (
      $bandsSql
      ),
      cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id
               FROM bands q JOIN bands c
                 ON q.band = c.band AND q.bucket = c.bucket
                AND c.vec_id <> q.vec_id
               WHERE q.vec_id < 40),
      sc AS (SELECT cand.qid, cand.vec_id,
                    list_dot_product(x.v, y.v) /
                      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS c
             FROM cand JOIN e x ON cand.vec_id = x.vec_id
                       JOIN e y ON cand.qid = y.vec_id)
      SELECT qid, vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT qid, vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
            FROM sc) t
      WHERE rn <= 5
    """.trim)
    )
  }

  /** Embedding-cosine near-dup pairs above 0.5 via the default
    * banded-LSH prefilter (the 100 TB path — no cross join anywhere in
    * the plan, asserted by PlanAuditSpec). Fully oracle-checked even
    * though the band width is ADAPTIVE: the width depends only on
    * COUNT(*) through pure integer threshold comparisons, and planes
    * are laid out at a fixed stride per band, so the static SQL below
    * recomputes the same width from its own count and masks the same
    * plane prefix — identical buckets, candidates, and verified pairs
    * at every scale factor. (A fixed width is the n²/2^b trap: the sf1
    * scale run measured 231× cost for 10× rows at b=4; adaptive width
    * keeps candidates ≈ nBands·8·n.) Oversized buckets — degenerate
    * near-identical corpora, exact dedup's job — are dropped by the
    * maxBucketSize guard on both sides. */
  /** DuckDB replay of the adaptive banded-LSH construction over the
    * `e` CTE (vec_id, v): CTEs `p` (adaptive band width from the
    * corpus's own count — `b` bits iff n <= 8·2^b, ascending
    * first-match, the exact integer form of
    * Similarity.adaptiveBitsPerBand) and `bands` (vec_id, v, band,
    * bucket — hyperplane sign bits at a fixed stride per band).
    * Shared by x_cosine_neardups and x_dedup_semantic_lsh. */
  private def lshBandCtesSql(nBands: Int): String = {
    val stride = Similarity.MaxBitsPerBand
    val planes = Similarity.hyperplanes(dim = 64, nBits = nBands * stride)
    val bitsSql = "CASE " + (4 until stride)
      .map(b => s"WHEN n <= ${8L << b} THEN $b").mkString(" ") + s" ELSE $stride END"
    def bucketSql(bnd: Int): String = (0 until stride).map { i =>
      s"(CASE WHEN $i < p.bits AND list_dot_product(v, ${planes(bnd * stride + i).mkString("[", ", ", "]")}::DOUBLE[]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n        + ")
    val bandsSql = (0 until nBands)
      .map(b => s"SELECT vec_id, v, $b AS band, ${bucketSql(b)} AS bucket FROM e, p")
      .mkString("\n      UNION ALL\n      ")
    s"""p AS (SELECT $bitsSql AS bits FROM (SELECT COUNT(*) AS n FROM e)),
      bands AS (
      $bandsSql
      )"""
  }

  val cosineNearDups: Q = {
    val nBands = 16 // the measured >=0.95-recall knee (RECALL.md r7 sweep)
    val maxBucket = 4096
    Q(
      "x_cosine_neardups",
      (s, d) => Similarity.cosineNearDups(coEmbeddings(s, d), threshold = 0.5,
        nBands = nBands, maxBucketSize = maxBucket),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${lshBandCtesSql(nBands)},
      keep AS (SELECT band, bucket FROM bands GROUP BY band, bucket
               HAVING COUNT(*) BETWEEN 2 AND $maxBucket),
      cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
               JOIN keep k ON a.band = k.band AND a.bucket = k.bucket)
      SELECT id1, id2,
             ROUND(list_dot_product(x.v, y.v) /
                   (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos_sim
      FROM cand JOIN e x ON id1 = x.vec_id JOIN e y ON id2 = y.vec_id
      WHERE list_dot_product(x.v, y.v) /
            (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.5
      """.trim)
    )
  }

  /** SemDeDup-style semantic dedup (Similarity.semanticDedup): k-means
    * clusters, within-cluster cosine pairs, drop rows with a lower-id
    * clustermate at cos ≥ t. The oracle replays the ENTIRE chain — the
    * unrolled Lloyd's run (shared kmeansCtesSql), the cluster-size fuse,
    * the within-cluster pair filter, and the anti-join — so the hash
    * pins the drop SET, not just its size. t = 0.3 because the driver's
    * sf0.01 embeddings are uniform (near-orthogonal at dim 64): a
    * near-dup-level threshold would make the drop set empty and the
    * query vacuous; 0.3 exercises every stage on that corpus. */
  val dedupSemantic: Q = {
    val nClusters = 4
    val iters = 2
    val threshold = 0.3
    val maxClusterSize = 1 << 20
    Q(
      "x_dedup_semantic",
      (s, d) => Similarity.semanticDedup(coEmbeddings(s, d),
          threshold = threshold, dim = 64, nClusters = nClusters, iters = iters,
          maxClusterSize = maxClusterSize, centroids = Some(coSemCentroids(s, d)))
        .select(col("vec_id")),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nClusters, iters)},
      sizes AS (SELECT list, COUNT(*) AS csz FROM asgf GROUP BY list),
      drops AS (SELECT DISTINCT b.vec_id AS vid
                FROM asgf a
                JOIN asgf b ON a.list = b.list AND a.vec_id < b.vec_id
                JOIN sizes s ON s.list = a.list AND s.csz <= $maxClusterSize
                WHERE list_dot_product(a.v, b.v) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $threshold)
      SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT vid FROM drops)
    """.trim)
    )
  }

  /** SemDeDup with the banded-LSH backstop
    * (Similarity.semanticDedupLshBackstop): the within-cluster drop set
    * UNION the LSH-candidate drop set at the same threshold — the
    * coverage fix for twin pairs that straddle a k-means boundary
    * (RECALL.md: SemDeDup alone resolves 0.73–0.87 of true twins; the
    * union is measured ≥ 0.95). The oracle replays BOTH sources: the
    * unrolled Lloyd's run for the cluster pairs, and the shared
    * hyperplane-band CTEs for the LSH pairs — the hash pins the unioned
    * drop SET exactly. Same t = 0.3 rationale as x_dedup_semantic. */
  val dedupSemanticLsh: Q = {
    val nClusters = 4
    val iters = 2
    val threshold = 0.3
    val maxClusterSize = 1 << 20
    val nBands = 16
    val maxBucket = 4096
    Q(
      "x_dedup_semantic_lsh",
      (s, d) => Similarity.semanticDedupLshBackstop(coEmbeddings(s, d),
          threshold = threshold, dim = 64, nClusters = nClusters, iters = iters,
          maxClusterSize = maxClusterSize, nBands = nBands, maxBucketSize = maxBucket,
          centroids = Some(coSemCentroids(s, d)))
        .select(col("vec_id")),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nClusters, iters)},
      sizes AS (SELECT list, COUNT(*) AS csz FROM asgf GROUP BY list),
      cdrops AS (SELECT DISTINCT b.vec_id AS vid
                 FROM asgf a
                 JOIN asgf b ON a.list = b.list AND a.vec_id < b.vec_id
                 JOIN sizes s ON s.list = a.list AND s.csz <= $maxClusterSize
                 WHERE list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $threshold),
      ${lshBandCtesSql(nBands)},
      lkeep AS (SELECT band, bucket FROM bands GROUP BY band, bucket
                HAVING COUNT(*) BETWEEN 2 AND $maxBucket),
      ldrops AS (SELECT DISTINCT b.vec_id AS vid
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
                 JOIN lkeep k ON a.band = k.band AND a.bucket = k.bucket
                 WHERE list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $threshold)
      SELECT vec_id FROM e
      WHERE vec_id NOT IN (SELECT vid FROM cdrops UNION SELECT vid FROM ldrops)
    """.trim)
    )
  }

  /** SemDeDup with a KEEP-PREFERENCE score (the scoreCol contract —
    * previously spec-only, now oracle-pinned): within each twin set,
    * keep the member that precedes by (score DESC, id ASC) — "keep the
    * highest-quality / longest / earliest-crawl copy", the decision
    * every production dedup actually wants (the plain rule keeps the
    * LOWEST ID, i.e. an arbitrary copy). Here score = `label`, so a
    * row is dropped iff some cluster-mate at cos ≥ t has a higher
    * label (ties: lower id). The oracle replays the Lloyd's run and
    * the precedence comparison literally — the hash pins WHICH copy
    * of every twin set survives, not just how many. Rides the shared
    * [[coSemCentroids]]/[[coEmbeddings]] faces. */
  val dedupSemanticScored: Q = {
    val nClusters = 4
    val iters = 2
    val threshold = 0.3
    val maxClusterSize = 1 << 20
    Q(
      "x_dedup_semantic_scored",
      (s, d) => Similarity.semanticDedup(coEmbeddings(s, d),
          threshold = threshold, dim = 64, nClusters = nClusters, iters = iters,
          maxClusterSize = maxClusterSize, scoreCol = Some("label"),
          centroids = Some(coSemCentroids(s, d)))
        .select(col("vec_id"), col("label")),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nClusters, iters)},
      lab AS (SELECT vec_id, label FROM embeddings),
      sizes AS (SELECT list, COUNT(*) AS csz FROM asgf GROUP BY list),
      drops AS (SELECT DISTINCT x.vec_id AS vid
                FROM asgf y
                JOIN asgf x ON y.list = x.list AND y.vec_id <> x.vec_id
                JOIN sizes s ON s.list = x.list AND s.csz <= $maxClusterSize
                JOIN lab ly ON ly.vec_id = y.vec_id
                JOIN lab lx ON lx.vec_id = x.vec_id
                WHERE list_dot_product(y.v, x.v) /
                      (sqrt(list_dot_product(y.v, y.v)) * sqrt(list_dot_product(x.v, x.v))) >= $threshold
                  AND (ly.label > lx.label
                       OR (ly.label = lx.label AND y.vec_id < x.vec_id)))
      SELECT em.vec_id, em.label FROM embeddings em
      WHERE em.vec_id NOT IN (SELECT vid FROM drops)
    """.trim)
    )
  }

  /** Semantic coverage sampling (Similarity.semanticSample): up to
    * `perCluster` deterministic md5-draw picks per k-means cluster.
    * The oracle replays the Lloyd's run, the draw, and the per-cluster
    * rank — the hash pins exactly WHICH rows the sample keeps. */
  val sampleSemantic: Q = {
    val nClusters = 4
    val iters = 2
    val perCluster = 16
    Q(
      "x_sample_semantic",
      (s, d) => Similarity.semanticSample(coEmbeddings(s, d),
          perCluster = perCluster, dim = 64, nClusters = nClusters, iters = iters,
          centroids = Some(coSemCentroids(s, d)))
        .select(col("vec_id"), col("list")),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${kmeansCtesSql(nClusters, iters)},
      drawn AS (SELECT vec_id, list,
                       ('0x' || substr(md5('ssample:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS draw
                FROM asgf),
      ranked AS (SELECT vec_id, list,
                        ROW_NUMBER() OVER (PARTITION BY list ORDER BY draw, vec_id) AS rn
                 FROM drawn)
      SELECT vec_id, list FROM ranked WHERE rn <= $perCluster
    """.trim)
    )
  }

  /** Int8 embedding quantization, projected to scalar invariants (the
    * hash gate can't compare arrays): the micro-scaled factor and the
    * sum/min/max of the quantized codes pin every byte's arithmetic —
    * a single diverging code would shift q_sum. floor-based rounding
    * and exactly-rounded IEEE steps keep both engines bit-identical. */
  val embedQuantize: Q = Q(
    "x_embed_quantize",
    (s, d) => coEmbeddings(s, d)
      .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
      .select(col("vec_id"),
        floor(col("qz.scale") * 1e6).cast("long").as("scale_micro"),
        col("qz.q_sum").as("q_sum"),
        col("qz.q_min").as("q_min"),
        col("qz.q_max").as("q_max")),
    Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      s AS (SELECT vec_id, e,
                   CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 0.0
                        ELSE 127.0 / list_max(list_transform(e, x -> abs(x))) END AS scale
            FROM v),
      q AS (SELECT vec_id, scale,
                   list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS q
            FROM s)
      SELECT vec_id, CAST(floor(scale * 1000000.0) AS BIGINT) AS scale_micro,
             CAST(list_sum(q) AS BIGINT) AS q_sum,
             CAST(list_min(q) AS INT) AS q_min,
             CAST(list_max(q) AS INT) AS q_max
      FROM q
    """.trim)
  )

  /** Multimodal metadata: binary payload size per modality — the
    * column-plumbing part is oracle-checkable via octet_length. */
  val mmMetadata: Q = Q(
    "x_mm_metadata",
    (s, d) => Multimodal.mediaTable(Tables.documents(s, d))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("payload"))).as("total_bytes")),
    Some("""
      SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             COUNT(*) AS n,
             CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes
      FROM documents GROUP BY 1
    """.trim)
  )

  /** Stubbed decode + feature extraction through the real mapPartitions
    * Dataset path. The fake decode is deterministic arithmetic over the
    * payload size, so width/height/frames are oracle-checked; the
    * payload checksum (a JVM byte fold) stays spec-pinned and is
    * dropped from the query projection. */
  val mmFeatures: Q = Q(
    "x_mm_decode_features",
    (s, d) => Multimodal.extractFeatures(
      Multimodal.mediaTable(Tables.documents(s, d))).toDF()
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        col("width"), col("height"), col("n_frames")),
    Some("""
      WITH m AS (SELECT doc_id AS media_id,
                        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                        octet_length(CAST(text AS BLOB)) AS n
                 FROM documents)
      SELECT media_id, media_type, CAST(n AS BIGINT) AS n_bytes,
             CAST(CASE media_type WHEN 'image' THEN n % 1024 WHEN 'audio' THEN 0 ELSE n % 1920 END AS INT) AS width,
             CAST(CASE media_type WHEN 'image' THEN (n // 7) % 1024 WHEN 'audio' THEN 0 ELSE n % 1080 END AS INT) AS height,
             CAST(CASE media_type WHEN 'image' THEN 1 WHEN 'audio' THEN n % 4096 ELSE n % 300 END AS INT) AS n_frames
      FROM m
    """.trim)
  )

  /** Binary frame-sampling (every 4th 64-byte chunk of the payload via
    * pure column ops — the video-pipeline slicing idiom): chunk count
    * and sampled-byte totals are oracle-checked with DuckDB blob
    * arithmetic. Note the oracle uses floor() explicitly — DuckDB's
    * double→int CAST rounds where Spark's truncates. */
  val mmChunks: Q = Q(
    "x_mm_chunks",
    (s, d) => Multimodal.sampleChunks(
      Multimodal.mediaTable(Tables.documents(s, d)), chunk = 64, stride = 4)
      .select(
        col("media_id"), col("media_type"),
        size(col("chunks")).as("n_chunks"),
        aggregate(transform(col("chunks"), c => length(c)),
          lit(0), (a, b) => a + b).as("chunk_bytes")),
    Some("""
      WITH m AS (SELECT doc_id AS media_id,
                        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                        CAST(text AS BLOB) AS payload,
                        octet_length(CAST(text AS BLOB)) AS n
                 FROM documents),
      c AS (SELECT media_id, media_type, n,
                   greatest(CAST(floor(n / 256.0) AS INT) - 1, 0) AS hi
            FROM m)
      SELECT media_id, media_type,
             CAST(hi + 1 AS INT) AS n_chunks,
             CAST(list_sum(list_transform(generate_series(0, hi),
               i -> least(greatest(n - i*256, 0), 64))) AS INT) AS chunk_bytes
      FROM c
    """.trim)
  )

  /** Perceptual-hash image near-dup pairs: 60-bit gradient dHash over
    * the 6×11 pooled luma grid, banded-Hamming candidate blocking
    * (4 × 15-bit bands, bucket-capped), exact popcount verify — the
    * image twin of x_dedup_simhash's text blocking. The fixture is the
    * image-dedup eval harness: every doc as a stub image plus a
    * brightness-shifted (+16, clipped at 255) variant of every 5th —
    * exactly what a re-encode/gamma-shift near-dup does to pooled luma,
    * so the expected pairs exist by construction and saturation
    * clipping exercises nonzero distances. Real ImageIO decode →
    * [[graft.mm.Multimodal.poolLuma66]] is the same downstream pipeline
    * and is spec-pinned (scale/brightness invariance on real PNGs); the
    * oracle replays the md5-chunk stub luma, the bit layout, the
    * banding, the bucket cap and the distance filter bit-for-bit. */
  val mmPhashDups: Q = Q(
    "x_mm_phash_dups",
    (s, d) => {
      val grid = Multimodal.lumaGrid(
        Multimodal.imageTable(Tables.documents(s, d))).toDF()
      val variants = grid.filter(col("media_id") % 5 === 0)
        .select((col("media_id") + 10000000L).as("media_id"),
          transform(col("luma"), v => least(v + 16, lit(255))).as("luma"))
      Multimodal.phashNearDups(grid.unionByName(variants), threshold = 6)
    },
    Some("""
      WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      lum AS (SELECT doc_id AS media_id,
                     list_transform(generate_series(0, 65), j ->
                       ('0x' || substr(md5(substr(text, CAST((j*n)//66 AS INT) + 1,
                          CAST(((j+1)*n)//66 - (j*n)//66 AS INT))), 1, 2))::BIGINT) AS lu
              FROM d),
      allm AS (SELECT media_id, lu FROM lum
               UNION ALL
               SELECT media_id + 10000000, list_transform(lu, v -> least(v + 16, 255))
               FROM lum WHERE media_id % 5 = 0),
      h AS (SELECT media_id,
                   CAST(list_sum(list_transform(generate_series(0, 59), b ->
                     CASE WHEN lu[(b//10)*11 + (b%10) + 2] > lu[(b//10)*11 + (b%10) + 1]
                          THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
            FROM allm),
      bands AS (SELECT media_id, dhash, b AS band, (dhash >> CAST(b*15 AS INT)) & 32767 AS bkey
                FROM h, generate_series(0, 3) t(b)),
      ok AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1024),
      cand AS (SELECT DISTINCT a.media_id AS id1, c.media_id AS id2
               FROM bands a JOIN bands c ON a.band = c.band AND a.bkey = c.bkey
                    AND a.media_id < c.media_id
               JOIN ok o ON a.band = o.band AND a.bkey = o.bkey)
      SELECT cand.id1, cand.id2, CAST(bit_count(xor(h1.dhash, h2.dhash)) AS INT) AS dist
      FROM cand JOIN h h1 ON cand.id1 = h1.media_id JOIN h h2 ON cand.id2 = h2.media_id
      WHERE bit_count(xor(h1.dhash, h2.dhash)) <= 6
    """.trim)
  )

  /** Video content near-dup pairs through the SAME 66-cell machine as
    * images and audio: [[graft.mm.Multimodal.videoTable]] rows take
    * the video dispatch in lumaGrid — REAL first-keyframe decode
    * (AVI/MJPEG RIFF walk or bare-MJPEG ImageIO read, spec-pinned on
    * real fixtures against the still-image path) with the md5-chunk
    * stub for unrecognizable payloads (these text fixtures) — then
    * dhash60 → banded Hamming → exact popcount verify, identical to
    * x_mm_phash_dups' pipeline. Fixture: every 7th video gets a
    * +12-luma re-encode variant (gamma-shift near-dup). The oracle
    * replays the stub luma, bit layout, banding, cap and distance
    * filter bit-for-bit. */
  val mmVideoPhash: Q = Q(
    "x_mm_video_phash",
    (s, d) => {
      val grid = Multimodal.lumaGrid(
        Multimodal.videoTable(Tables.documents(s, d))).toDF()
      val variants = grid.filter(col("media_id") % 7 === 0)
        .select((col("media_id") + 20000000L).as("media_id"),
          transform(col("luma"), v => least(v + 12, lit(255))).as("luma"))
      Multimodal.phashNearDups(grid.unionByName(variants), threshold = 6)
    },
    Some("""
      WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      lum AS (SELECT doc_id AS media_id,
                     list_transform(generate_series(0, 65), j ->
                       ('0x' || substr(md5(substr(text, CAST((j*n)//66 AS INT) + 1,
                          CAST(((j+1)*n)//66 - (j*n)//66 AS INT))), 1, 2))::BIGINT) AS lu
              FROM d),
      allm AS (SELECT media_id, lu FROM lum
               UNION ALL
               SELECT media_id + 20000000, list_transform(lu, v -> least(v + 12, 255))
               FROM lum WHERE media_id % 7 = 0),
      h AS (SELECT media_id,
                   CAST(list_sum(list_transform(generate_series(0, 59), b ->
                     CASE WHEN lu[(b//10)*11 + (b%10) + 2] > lu[(b//10)*11 + (b%10) + 1]
                          THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
            FROM allm),
      bands AS (SELECT media_id, dhash, b AS band, (dhash >> CAST(b*15 AS INT)) & 32767 AS bkey
                FROM h, generate_series(0, 3) t(b)),
      ok AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1024),
      cand AS (SELECT DISTINCT a.media_id AS id1, c.media_id AS id2
               FROM bands a JOIN bands c ON a.band = c.band AND a.bkey = c.bkey
                    AND a.media_id < c.media_id
               JOIN ok o ON a.band = o.band AND a.bkey = o.bkey)
      SELECT cand.id1, cand.id2, CAST(bit_count(xor(h1.dhash, h2.dhash)) AS INT) AS dist
      FROM cand JOIN h h1 ON cand.id1 = h1.media_id JOIN h h2 ON cand.id2 = h2.media_id
      WHERE bit_count(xor(h1.dhash, h2.dhash)) <= 6
    """.trim)
  )

  /** Probe-against-persisted-index media near-dup: the corpus (docs
    * with id % 4 ≠ 0) is decoded+hashed ONCE into a
    * [[graft.mm.Multimodal.MediaPhashIndex]] (bucket-capped band
    * groups + 8-byte hashes); the ingest batch (+16-luma re-encodes of
    * corpus members, plus brand-new media) pays decode over itself
    * only and probes with one (band, bkey) equi-join + popcount
    * verify — the media twin of x_dedup_index_merged's text path.
    * MERGE/append/compact fragment semantics are spec-pinned
    * (merged == rebuilt); this row pins the probe arithmetic: the
    * oracle replays stub luma, banding, the CORPUS-side bucket cap,
    * the candidate join and the distance filter bit-for-bit. */
  /** Multi-keyframe video near-dup through the any-frame machine
    * ([[graft.mm.Multimodal.videoFrameGrid]]: up to 4 evenly-sampled
    * keyframes per video — real AVI chunk sampling on real
    * containers, the deterministic 4-segment stub on these text
    * fixtures — then per-frame dHash → banded Hamming → exact verify,
    * media match = ANY frame pair within threshold,
    * dist = min matching frame distance). Fixture: every 7th video
    * gets a re-edit variant whose FIRST frame is luma-INVERTED
    * (gradient complement — far beyond threshold) and whose remaining
    * frames are untouched: the pair still surfaces at dist 0 through
    * frames 1–3, which is exactly the scene-change/prepended-intro
    * robustness the single-keyframe x_mm_video_phash lacks. The
    * oracle replays the segment stub, per-frame banding, the
    * frame-row bucket cap, the cross-media candidate join and the
    * min-distance collapse bit-for-bit. */
  val mmVideoPhashMulti: Q = Q(
    "x_mm_video_phash_multi",
    (s, d) => {
      // a third of the corpus: the row pins the multi-frame arithmetic
      // end-to-end; at 4 sampled frames it pays ~4x the single-frame
      // row's decode per media, so the fixture subsets like ndIndexFor
      val frames = Multimodal.videoFrameGrid(
        Multimodal.videoTable(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(3)) === 0)),
        maxFrames = 4).toDF()
      val variants = frames.filter(col("media_id") % 7 === 0)
        .select((col("media_id") + 20000000L).as("media_id"), col("frame_no"),
          when(col("frame_no") === 0,
            transform(col("luma"), v => lit(255) - v))
            .otherwise(col("luma")).as("luma"))
      Multimodal.videoPhashNearDupsAnyFrame(
        frames.unionByName(variants), threshold = 6)
    },
    Some("""
      WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
                 WHERE doc_id % 3 = 0),
      seg AS (SELECT doc_id AS media_id, f, text, n,
                     (f * n) // 4 AS st, ((f + 1) * n) // 4 - (f * n) // 4 AS nf
              FROM d, generate_series(0, 3) t(f)),
      lum AS (SELECT media_id, CAST(f AS INT) AS f,
                     list_transform(generate_series(0, 65), j ->
                       ('0x' || substr(md5(substr(text, CAST(st + (j*nf)//66 AS INT) + 1,
                          CAST(((j+1)*nf)//66 - (j*nf)//66 AS INT))), 1, 2))::BIGINT) AS lu
              FROM seg),
      allm AS (SELECT media_id, f, lu FROM lum
               UNION ALL
               SELECT media_id + 20000000, f,
                      CASE WHEN f = 0 THEN list_transform(lu, v -> 255 - v) ELSE lu END
               FROM lum WHERE media_id % 7 = 0),
      h AS (SELECT media_id, f,
                   CAST(list_sum(list_transform(generate_series(0, 59), b ->
                     CASE WHEN lu[(b//10)*11 + (b%10) + 2] > lu[(b//10)*11 + (b%10) + 1]
                          THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
            FROM allm),
      bands AS (SELECT media_id, f, dhash, b AS band, (dhash >> CAST(b*15 AS INT)) & 32767 AS bkey
                FROM h, generate_series(0, 3) t(b)),
      ok AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1024),
      cand AS (SELECT DISTINCT a.media_id AS id1, a.f AS f1, c.media_id AS id2, c.f AS f2
               FROM bands a JOIN bands c ON a.band = c.band AND a.bkey = c.bkey
                    AND a.media_id < c.media_id
               JOIN ok o ON a.band = o.band AND a.bkey = o.bkey),
      v AS (SELECT id1, id2, bit_count(xor(h1.dhash, h2.dhash)) AS fdist
            FROM cand JOIN h h1 ON cand.id1 = h1.media_id AND cand.f1 = h1.f
                      JOIN h h2 ON cand.id2 = h2.media_id AND cand.f2 = h2.f
            WHERE bit_count(xor(h1.dhash, h2.dhash)) <= 6)
      SELECT id1, id2, CAST(MIN(fdist) AS INT) AS dist FROM v GROUP BY 1, 2
    """.trim)
  )

  val mmPhashIndexProbe: Q = Q(
    "x_mm_phash_index",
    (s, d) => {
      // decode runs ONCE; corpus and probe both read it
      val grid = GraftPins.cut(Multimodal.lumaGrid(
        Multimodal.imageTable(Tables.documents(s, d))).toDF())
      val corpus = grid.filter(col("media_id") % 4 =!= 0)
      val probe = grid.filter(col("media_id") % 4 === 1)
        .select((col("media_id") + 10000000L).as("media_id"),
          transform(col("luma"), v => least(v + 16, lit(255))).as("luma"))
        .unionByName(grid.filter(col("media_id") % 4 === 0))
      val idx = Multimodal.mediaPhashIndex(corpus)
      Multimodal.probeMediaPhashIndex(probe, idx, threshold = 6)
    },
    Some("""
      WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      lum AS (SELECT doc_id AS media_id,
                     list_transform(generate_series(0, 65), j ->
                       ('0x' || substr(md5(substr(text, CAST((j*n)//66 AS INT) + 1,
                          CAST(((j+1)*n)//66 - (j*n)//66 AS INT))), 1, 2))::BIGINT) AS lu
              FROM d),
      hc AS (SELECT media_id,
                    CAST(list_sum(list_transform(generate_series(0, 59), b ->
                      CASE WHEN lu[(b//10)*11 + (b%10) + 2] > lu[(b//10)*11 + (b%10) + 1]
                           THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
             FROM lum WHERE media_id % 4 <> 0),
      plum AS (SELECT media_id + 10000000 AS media_id,
                      list_transform(lu, v -> least(v + 16, 255)) AS lu
               FROM lum WHERE media_id % 4 = 1
               UNION ALL
               SELECT media_id, lu FROM lum WHERE media_id % 4 = 0),
      hp AS (SELECT media_id,
                    CAST(list_sum(list_transform(generate_series(0, 59), b ->
                      CASE WHEN lu[(b//10)*11 + (b%10) + 2] > lu[(b//10)*11 + (b%10) + 1]
                           THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT) AS dhash
             FROM plum),
      cbands AS (SELECT media_id, b AS band, (dhash >> CAST(b*15 AS INT)) & 32767 AS bkey
                 FROM hc, generate_series(0, 3) t(b)),
      ok AS (SELECT band, bkey FROM cbands GROUP BY 1, 2 HAVING COUNT(*) <= 1024),
      pbands AS (SELECT media_id, b AS band, (dhash >> CAST(b*15 AS INT)) & 32767 AS bkey
                 FROM hp, generate_series(0, 3) t(b)),
      cand AS (SELECT DISTINCT p.media_id AS in_id, c.media_id AS ex_id
               FROM pbands p JOIN cbands c ON p.band = c.band AND p.bkey = c.bkey
               JOIN ok o ON c.band = o.band AND c.bkey = o.bkey)
      SELECT cand.in_id, cand.ex_id,
             CAST(bit_count(xor(h1.dhash, h2.dhash)) AS INT) AS dist
      FROM cand JOIN hp h1 ON cand.in_id = h1.media_id
                JOIN hc h2 ON cand.ex_id = h2.media_id
      WHERE bit_count(xor(h1.dhash, h2.dhash)) <= 6
    """.trim)
  )

  /** As-of join: each purchase event enriched with the user's most
    * recent signup at-or-before it (union+window implementation, see
    * AsOf). The oracle is DuckDB's NATIVE ASOF LEFT JOIN — a fully
    * independent implementation of the same semantics, so this checks
    * the operator's meaning, not just its arithmetic. */
  val asofJoin: Q = Q(
    "x_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("signup_ts"))
        .agg(max(col("value")).as("signup_value"))
        .select(col("user_id"), col("signup_ts").as("ts"),
          col("signup_ts"), col("signup_value"))
      AsOf.asofJoin(purchases, signups, "user_id", "ts",
        Seq("signup_ts", "signup_value"))
        .select(
          col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
          col("signup_value"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("signup_ts")))
            .as("secs_since_signup"))
    },
    Some("""
      WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      s AS (SELECT user_id, ts AS signup_ts, MAX(value) AS signup_value
            FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
      SELECT p.event_id, p.user_id,
             strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
             strftime(s.signup_ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
             s.signup_value,
             CAST(epoch(date_trunc('second', p.ts)) AS BIGINT)
               - CAST(epoch(date_trunc('second', s.signup_ts)) AS BIGINT) AS secs_since_signup
      FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.signup_ts
    """.trim)
  )

  /** Forward as-of join: each purchase enriched with the user's NEXT
    * signup at-or-after it (direction = "forward") — same union+window
    * plan walked in descending ts. Oracle is DuckDB's native ASOF with
    * the inequality flipped (p.ts <= s.ts), an independent
    * implementation of forward semantics. */
  val asofForward: Q = Q(
    "x_asof_forward",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("signup_ts"))
        .agg(max(col("value")).as("signup_value"))
        .select(col("user_id"), col("signup_ts").as("ts"),
          col("signup_ts"), col("signup_value"))
      AsOf.asofJoin(purchases, signups, "user_id", "ts",
        Seq("signup_ts", "signup_value"), direction = "forward")
        .select(
          col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          date_format(col("signup_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
          col("signup_value"),
          (unix_timestamp(col("signup_ts")) - unix_timestamp(col("ts")))
            .as("secs_until_signup"))
    },
    Some("""
      WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      s AS (SELECT user_id, ts AS signup_ts, MAX(value) AS signup_value
            FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
      SELECT p.event_id, p.user_id,
             strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
             strftime(s.signup_ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
             s.signup_value,
             CAST(epoch(date_trunc('second', s.signup_ts)) AS BIGINT)
               - CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) AS secs_until_signup
      FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts <= s.signup_ts
    """.trim)
  )

  /** Range join: per purchase, how many clicks the same user made in
    * the preceding 30 minutes — bucketed-equi-join implementation (see
    * RangeJoin); the oracle is DuckDB's inequality join, an independent
    * evaluation of the same interval semantics. */
  val rangeJoin: Q = Q(
    "x_range_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      RangeJoin.slidingCount(purchases, clicks, "user_id", "ts",
        windowSec = 1800L, countAs = "n_clicks_30m")
        .select(col("event_id"), col("user_id"), col("n_clicks_30m"))
    },
    Some("""
      WITH p AS (SELECT event_id, user_id,
                        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ls
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS rs
            FROM events WHERE event_type = 'click')
      SELECT p.event_id, p.user_id, COUNT(c.rs) AS n_clicks_30m
      FROM p LEFT JOIN c
        ON p.user_id = c.user_id AND c.rs >= p.ls - 1800 AND c.rs < p.ls
      GROUP BY p.event_id, p.user_id
    """.trim)
  )

  /** Tumbling-window aggregation (batch form of the streaming op). */
  val tumblingWindow: Q = Q(
    "x_tumbling_window",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value")),
    Some("""
      SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    """.trim)
  )

  /** The composed training-corpus pipeline: quality-score filter →
    * exact dedup (keep lowest doc_id per text) → per-language corpus
    * stats. The canonical pretraining-data preparation flow, end to end
    * under the oracle gate. */
  val corpusPipeline: Q = Q(
    "x_corpus_pipeline",
    (s, d) => {
      import graft.text.TextAnalysis
      import org.apache.spark.sql.expressions.Window
      val t = col("text")
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("lang"), t.as("text"),
        TextAnalysis.textStats(t).as("st"))
        .select(
          col("doc_id"), col("lang"), col("text"),
          TextAnalysis.qualityScoreFrom(col("st"), col("text")).as("quality"),
          col("st.n_tokens").as("n_tokens"))
      val kept = scored.filter(col("quality") >= 60)
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      val deduped = kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("total_tokens"))
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang, text,
               100
                 - CASE WHEN len(regexp_split_to_array(text, '\s+')) < 10 THEN 40 ELSE 0 END
                 - CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
                       x -> list_contains(['the','a','an','and','or','of','to','in','is','was','for','on','with','as','at','by','it','this','that'], x))) = 0 THEN 25 ELSE 0 END
                 - CASE WHEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 5 > length(text) THEN 20 ELSE 0 END
                 - CASE WHEN list_max(list_transform(regexp_split_to_array(text, '\s+'), x -> length(x))) > 30 THEN 15 ELSE 0 END
                 AS quality,
               len(regexp_split_to_array(text, '\s+')) AS n_tokens
        FROM documents),
      kept AS (SELECT * FROM scored WHERE quality >= 60),
      deduped AS (
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM kept) t WHERE rn = 1)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM deduped GROUP BY lang
    """.trim)
  )

  /** Benchmark decontamination: corpus docs sharing 3-gram shingles
    * with the benchmark set (doc_id ≡ 0 mod 97 stands in for the eval
    * set). Broadcast benchmark-shingle join — the corpus never
    * shuffles on text. */
  val contamination: Q = Q(
    "x_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.corpus.Corpus.contamination(
        corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        benchmark = docs.filter(pmod(col("doc_id"), lit(97)) === 0))
    },
    Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      bench AS (SELECT DISTINCT unnest(shl) AS g FROM sh0 WHERE doc_id % 97 = 0),
      corpus AS (SELECT doc_id, shl FROM sh0 WHERE doc_id % 97 <> 0),
      cs AS (SELECT doc_id, unnest(shl) AS g FROM corpus),
      shared AS (SELECT doc_id, COUNT(*) AS n_shared FROM cs JOIN bench USING (g) GROUP BY 1)
      SELECT c.doc_id, CAST(s.n_shared AS BIGINT) AS n_shared,
             CAST(len(c.shl) AS INT) AS n_total,
             ROUND(CAST(s.n_shared AS DOUBLE) / len(c.shl), 6) AS contamination
      FROM corpus c JOIN shared s USING (doc_id)
    """.trim)
  )

  /** Deterministic stratified sampling: keep 50% of English docs and
    * 25% of every other language by an md5 integer draw — reproducible
    * on any engine/partitioning (verified per-stratum via counts and
    * an id checksum). */
  val stratifiedSample: Q = Q(
    "x_stratified_sample",
    (s, d) => graft.corpus.Corpus.stratifiedSample(
      Tables.documents(s, d), strataCol = "lang",
      thresholds = Map("en" -> (1L << 59)), defaultThreshold = 1L << 58)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).as("id_sum")),
    Some("""
      SELECT lang, COUNT(*) AS n_sampled,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents
      WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
            CASE WHEN lang = 'en' THEN 576460752303423488 ELSE 288230376151711744 END
      GROUP BY lang
    """.trim)
  )

  /** Proportional mixing toward a target language distribution (en 40%,
    * zh 30%, rest 10% each), checked per-stratum via counts and an id
    * checksum — the md5 draw and the threshold arithmetic replay
    * exactly in DuckDB. */
  val corpusMix: Q = Q(
    "x_corpus_mix",
    (s, d) => graft.corpus.Corpus.mixCorpus(
      Tables.documents(s, d), strataCol = "lang",
      targetShares = Map("en" -> 0.4, "zh" -> 0.3), defaultShare = 0.1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum")),
    Some("""
      WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      t AS (SELECT COUNT(*) AS tot FROM documents),
      r AS (SELECT lang,
                   LEAST(CAST(1.0 AS DOUBLE),
                         CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.3 ELSE 0.1 END
                           * tot / cnt) AS rate
            FROM c, t)
      SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents d JOIN r ON d.lang = r.lang
      WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
            CAST(floor(rate * 1152921504606846976.0) AS BIGINT)
      GROUP BY d.lang
    """.trim)
  )

  /** Deterministic global training-order shuffle (8 shards): each doc's
    * (shard, pos) address in a pseudo-random total order — hash-range
    * shard from the salted draw (reproducible, unlike sampled
    * repartitionByRange boundaries), rank within shard. No global
    * sort; each shard sorts its own bounded slice. */
  val corpusShuffleQ: Q = Q(
    "x_corpus_shuffle",
    (s, d) => graft.corpus.Corpus.shuffleOrder(
      Tables.documents(s, d), nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos")),
    Some(s"""
      WITH drawn AS (SELECT doc_id,
        ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS draw
        FROM documents)
      SELECT doc_id,
             CAST(draw // ${(1L << 60) / 8} AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY draw // ${(1L << 60) / 8}
               ORDER BY draw, doc_id) - 1 AS INT) AS pos
      FROM drawn
    """.trim)
  )

  /** Deterministic exact-k uniform sample (k = 100): the k smallest
    * salted draws, planned as TakeOrderedAndProject — per-task k-row
    * heaps, no global sort, reproducible under retries. */
  val sampleFixedKQ: Q = Q(
    "x_sample_fixed_k",
    (s, d) => graft.corpus.Corpus.sampleFixedK(
      Tables.documents(s, d), k = 100)
      .select(col("doc_id"), col("lang")),
    Some("""
      SELECT doc_id, lang FROM documents
      ORDER BY ('0x' || substr(md5('topk:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id
      LIMIT 100
    """.trim)
  )

  /** Exact heavy-hitter tokens (count >= 100) behind a count-min-sketch
    * prefilter: the broadcast CMS estimate keeps every true heavy
    * hitter (a CMS never underestimates) and the exact recount of the
    * surviving candidates drops the overestimates — so the oracle is
    * the PLAIN `GROUP BY HAVING`, while the engine's exchange carries
    * candidate tokens only, never the full vocabulary. */
  val heavyHittersQ: Q = Q(
    "x_heavy_hitters",
    (s, d) => graft.corpus.Corpus.heavyHitterTokens(
      Tables.documents(s, d), minCount = 100L),
    Some("""
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents)
      GROUP BY tok HAVING COUNT(*) >= 100
    """.trim)
  )

  /** Temperature-scaled mixing at α = 1/2: per-language keep-rate
    * sqrt(c_min/c_i) — the low-resource upweighting used by
    * multilingual pretraining mixes. sqrt is correctly rounded in both
    * engines (IEEE 754 mandate), so the kept set hash-matches exactly;
    * a general-α pow would not carry that guarantee. */
  val corpusMixTemperature: Q = Q(
    "x_mix_temperature",
    (s, d) => graft.corpus.Corpus.mixCorpusTemperatureHalf(
      Tables.documents(s, d), strataCol = "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum")),
    Some("""
      WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      m AS (SELECT MIN(cnt) AS mn FROM c),
      r AS (SELECT lang, sqrt(CAST(mn AS DOUBLE) / cnt) AS rate FROM c, m)
      SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents d JOIN r ON d.lang = r.lang
      WHERE ('0x' || substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
            CAST(floor(rate * 1152921504606846976.0) AS BIGINT)
      GROUP BY d.lang
    """.trim)
  )

  /** Leakage-free 80/10/10 split: every near-dup cluster (the
    * x_dedup_clusters labeling) lands wholly in ONE split — its
    * members draw on the cluster's canonical id, singletons on their
    * own id. The oracle recomputes the clusters INDEPENDENTLY (the
    * same recursive-CTE transitive closure as the x_dedup_clusters
    * oracle) and replays the rep-keyed draw, so both the clustering
    * and the split arithmetic are checked end to end. */
  val splitLeakageFree: Q = {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val thr = graft.corpus.Corpus.splitThresholds(splits)
    val caseSql = thr.init.map { case (name, cut) =>
      s"WHEN ('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)), 1, 15))::BIGINT < $cut THEN '$name'"
    }.mkString("CASE ", " ", s" ELSE '${thr.last._1}' END")
    Q(
      "x_split_leakage_free",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.corpus.Corpus.assignSplitByCluster(docs, coNdClusters(s, d), splits)
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      },
      Some(s"""
      WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      ab AS (SELECT doc_id, shl, list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs),
      bc AS (SELECT b, s FROM bands GROUP BY b, s HAVING COUNT(*) BETWEEN 2 AND 64),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
               FROM bc JOIN bands x ON x.b = bc.b AND x.s = bc.s
                       JOIN bands y ON y.b = bc.b AND y.s = bc.s
                                   AND x.doc_id < y.doc_id),
      pairs AS (SELECT id1, id2
                FROM (SELECT id1, id2,
                             len(list_intersect(x.shl, y.shl)) AS nc,
                             len(x.shl) AS n1, len(y.shl) AS n2
                      FROM cand
                      JOIN sh0 x ON id1 = x.doc_id
                      JOIN sh0 y ON id2 = y.doc_id) t
                WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5),
      edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
      reach(a, b) AS (SELECT a, b FROM edges
                      UNION
                      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      comp AS (SELECT LEAST(a, MIN(b)) AS cluster_id, a AS doc_id FROM reach GROUP BY a),
      rep AS (SELECT d.doc_id, d.lang, COALESCE(c.cluster_id, d.doc_id) AS rep
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      SELECT $caseSql AS split, lang,
             COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM rep GROUP BY 1, 2
      """.trim)
    )
  }

  /** Token-budget shard packing (1000-token shards per language):
    * exact integer running sums, so the assignment is identical in any
    * engine. */
  val shardPack: Q = Q(
    "x_shard_pack",
    (s, d) => graft.corpus.Corpus.packShards(
      Tables.documents(s, d), budgetTokens = 1000L, strataCol = "lang"),
    Some("""
      WITH t AS (SELECT doc_id, lang,
                        len(regexp_split_to_array(text, '\s+')) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, lang, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM t)
      SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
             CAST(cum_before // 1000 AS BIGINT) AS shard_id
      FROM c
    """.trim)
  )

  /** Deterministic 80/10/10 train/val/test assignment over documents,
    * verified per (split, lang) via counts and id checksums — the
    * thresholds are driver-computed integers inlined into both
    * engines. */
  val splitAssign: Q = {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val thr = graft.corpus.Corpus.splitThresholds(splits)
    val caseSql = thr.init.map { case (name, cut) =>
      s"WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT < $cut THEN '$name'"
    }.mkString("CASE ", " ", s" ELSE '${thr.last._1}' END")
    Q(
      "x_split_assign",
      (s, d) => graft.corpus.Corpus.assignSplit(Tables.documents(s, d), splits)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum")),
      Some(s"""
        SELECT $caseSql AS split, lang,
               COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY 1, 2
      """.trim)
    )
  }

  /** Adaptive quality filtering: keep the top half of each language by
    * quality score (per-stratum rank cutoff, not an absolute
    * threshold), verified via per-language counts, the kept-quality
    * floor, and an id checksum. */
  val adaptiveFilter: Q = Q(
    "x_adaptive_filter",
    (s, d) => {
      import graft.text.TextAnalysis
      val t = col("text")
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("lang"), t,
        TextAnalysis.textStats(t).as("st"))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScoreFrom(col("st"), t).as("quality"))
      graft.corpus.Corpus.topFractionByScore(scored, "lang", "quality",
        num = 1, den = 2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("quality")).as("min_quality"),
          sum(col("doc_id")).as("id_sum"))
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               100
                 - CASE WHEN len(regexp_split_to_array(text, '\s+')) < 10 THEN 40 ELSE 0 END
                 - CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
                       x -> list_contains(['the','a','an','and','or','of','to','in','is','was','for','on','with','as','at','by','it','this','that'], x))) = 0 THEN 25 ELSE 0 END
                 - CASE WHEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 5 > length(text) THEN 20 ELSE 0 END
                 - CASE WHEN list_max(list_transform(regexp_split_to_array(text, '\s+'), x -> length(x))) > 30 THEN 15 ELSE 0 END
                 AS quality
        FROM documents),
      ranked AS (
        SELECT doc_id, lang, quality,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM scored)
      SELECT lang, COUNT(*) AS n_kept,
             MIN(quality) AS min_quality,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM ranked WHERE rn * 2 <= n GROUP BY lang
    """.trim)
  )

  /** True interval-overlap (theta) join under the oracle: error windows
    * (10 min) × purchase windows (floor(value) min) per user, paired
    * when the intervals overlap. The engine uses bucket decomposition
    * (RangeJoin.overlapJoin — equi-join on covered buckets + exact
    * filter, never a per-key cross product); the oracle is the plain
    * theta join DuckDB can afford at this SF, so matching hashes prove
    * the decomposition loses/duplicates nothing. */
  val overlapJoinQ: Q = Q(
    "x_overlap_join",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ss", unix_timestamp(col("ts")))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("l_id"), col("user_id"),
          col("ss").as("ls"), (col("ss") + 600L).as("le"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("r_id"), col("user_id"),
          col("ss").as("rs"), (col("ss") + floor(col("value")).cast("long") * 60L).as("re"))
      RangeJoin.overlapJoin(errs, purch, "user_id",
        "l_id", "ls", "le", "r_id", "rs", "re", bucketSec = 1800L)
    },
    Some("""
      WITH e AS (SELECT event_id, user_id, event_type, value,
                        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ss
                 FROM events),
      l AS (SELECT event_id AS l_id, user_id, ss AS ls, ss + 600 AS le
            FROM e WHERE event_type = 'error'),
      r AS (SELECT event_id AS r_id, user_id,
                   ss AS rs, ss + CAST(floor(value) AS BIGINT) * 60 AS re
            FROM e WHERE event_type = 'purchase')
      SELECT l.l_id, r.r_id, l.user_id,
             LEAST(le, re) - GREATEST(ls, rs) AS overlap_s
      FROM l JOIN r ON l.user_id = r.user_id
                   AND ls < re AND rs < le AND re > rs
    """.trim)
  )

  /** Edit-distance (fuzzy) join under the oracle: corpus tokens matched
    * against the part-name word vocabulary at levenshtein ≤ 2. The engine
    * uses the SymSpell delete-neighborhood decomposition
    * (FuzzyJoin.fuzzyJoin — explode both sides into delete-≤2 variants,
    * equi-join on the variant, exact-levenshtein verify, never a
    * quadratic theta join); the oracle IS the quadratic theta join DuckDB
    * can afford at vocabulary scale, so matching hashes prove the
    * decomposition finds every true pair and the verify admits no false
    * one. Both sides are map-side-combined token tables — vocabulary-
    * sized however big the corpus is. */
  val fuzzyJoinQ: Q = Q(
    "x_fuzzy_join",
    (s, d) => {
      val ta = Tables.documents(s, d)
        .select(explode(split(col("text"), "\\s+")).as("tok_a"))
        .filter(length(col("tok_a")) >= 3)
        .groupBy(col("tok_a")).agg(count(lit(1)).as("n_a"))
      val tb = Tables.part(s, d)
        .select(explode(split(col("p_name"), " ")).as("tok_b"))
        .groupBy(col("tok_b")).agg(count(lit(1)).as("n_b"))
      FuzzyJoin.fuzzyJoin(ta, tb, "tok_a", "tok_b", maxDist = 2)
        .select(col("tok_a"), col("tok_b"), col("dist"),
          col("n_a"), col("n_b"))
    },
    Some("""
      WITH ta AS (
        SELECT token AS tok_a, COUNT(*) AS n_a FROM (
          SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
          FROM documents) t
        WHERE length(token) >= 3 GROUP BY token),
      tb AS (
        SELECT w AS tok_b, COUNT(*) AS n_b FROM (
          SELECT unnest(regexp_split_to_array(p_name, ' ')) AS w
          FROM part) t
        GROUP BY w)
      SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS INT) AS dist,
             n_a, n_b
      FROM ta, tb WHERE levenshtein(tok_a, tok_b) <= 2
    """.trim)
  )

  /** Collapse-first blocked Jaro–Winkler entity match
    * (FuzzyJoin.jaroRepMatch scaladoc: exact surface forms collapse to
    * (min-id rep, count) first, so the in-block quadratic runs over the
    * SATURATING distinct-name vocabulary, not the linearly-growing rows
    * — the raw row-level variant measured 26× wall at 10× data and was
    * replaced). The scorer is the native codegen'd
    * [[org.apache.spark.sql.graftext.JaroWinkler]] expression, pinned
    * bit-exact to DuckDB's `jaro_winkler_similarity` (including the
    * both-empty → 0 corner and the float-op order), so the oracle's
    * replay of the same collapse + blocks reproduces the identical pair
    * set AND the identical rounded similarity — the threshold cut cannot
    * drift by an ulp. */
  val jaroBlockedQ: Q = Q(
    "x_jaro_blocked",
    (s, d) => {
      val p = Tables.part(s, d).select(
        col("p_partkey").as("id"), col("p_brand").as("brand"),
        substring_index(col("p_name"), " ", 1).as("w1"), col("p_name").as("name"))
      FuzzyJoin.jaroRepMatch(p, "id", "name",
        Seq(col("brand"), col("w1")), threshold = 0.9)
    },
    Some("""
      WITH p AS (SELECT p_partkey AS id, p_brand AS brand,
                        split_part(p_name, ' ', 1) AS w1, p_name AS name FROM part),
      g AS (SELECT brand, w1, name, MIN(id) AS id, COUNT(*) AS n
            FROM p GROUP BY 1, 2, 3)
      SELECT a.id AS id1, b.id AS id2,
             CAST(a.n AS BIGINT) AS n1, CAST(b.n AS BIGINT) AS n2,
             ROUND(jaro_winkler_similarity(a.name, b.name), 6) AS sim
      FROM g a JOIN g b ON a.brand = b.brand AND a.w1 = b.w1 AND a.id < b.id
      WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9
    """.trim)
  )

  /** Token-set ER scorer (FuzzyJoin.tokenSetRepMatch scaladoc:
    * collapse-first, integer-scaled idf weights, reorder-invariant —
    * the failure mode x_jaro_blocked documents: whole-string JW misses
    * word-reorder variants even in-block). The fixture injects exactly
    * those: a reversed-token variant of every 20th part (scores 1.0 —
    * permutation invariance) and a reversed-minus-first-token variant
    * of every (20k+10)th (scores by the dropped token's weight share —
    * exercises the threshold cut both ways). Blocking is brand + MIN
    * token, itself reorder-invariant. The oracle replays the variant
    * construction, the collapse, the form-frequency weights and the
    * one double divide. */
  val tokenSetErQ: Q = Q(
    "x_token_set_er",
    (s, d) => {
      val p0 = Tables.part(s, d).select(
        col("p_partkey").as("id"), col("p_brand").as("brand"), col("p_name").as("name"))
      def toksN = split(col("name"), " ")
      val v1 = p0.filter(pmod(col("id"), lit(20)) === 0)
        .select((col("id") + 10000000L).as("id"), col("brand"),
          array_join(reverse(toksN), " ").as("name"))
      val v2 = p0.filter(pmod(col("id"), lit(20)) === 10)
        .select((col("id") + 20000000L).as("id"), col("brand"),
          array_join(reverse(slice(toksN, 2, 100)), " ").as("name"))
      FuzzyJoin.tokenSetRepMatch(p0.unionByName(v1).unionByName(v2), "id", "name",
        Seq(col("brand"), array_min(split(col("name"), " "))), threshold = 0.45)
    },
    Some("""
      WITH p0 AS (SELECT p_partkey AS id, p_brand AS brand, p_name AS name FROM part),
      pv AS (SELECT id, brand, name FROM p0
             UNION ALL
             SELECT id + 10000000, brand,
                    array_to_string(list_reverse(regexp_split_to_array(name, ' ')), ' ')
             FROM p0 WHERE id % 20 = 0
             UNION ALL
             SELECT id + 20000000, brand,
                    array_to_string(list_reverse(regexp_split_to_array(name, ' ')[2:]), ' ')
             FROM p0 WHERE id % 20 = 10),
      p AS (SELECT id, brand, list_min(regexp_split_to_array(name, ' ')) AS bt, name FROM pv),
      g AS (SELECT brand, bt, name, MIN(id) AS id, COUNT(*) AS n FROM p GROUP BY 1, 2, 3),
      names AS (SELECT DISTINCT name FROM g),
      nf AS (SELECT COUNT(*) AS nforms FROM names),
      tk AS (SELECT name, unnest(list_distinct(regexp_split_to_array(name, ' '))) AS t FROM names),
      w AS (SELECT t, (1000000 * (SELECT nforms FROM nf)) // COUNT(*) AS w FROM tk GROUP BY t),
      ws AS (SELECT tk.name, CAST(SUM(w.w) AS BIGINT) AS wsum FROM tk JOIN w USING (t) GROUP BY 1),
      cand AS (SELECT a.name AS n1x, b.name AS n2x, a.id AS cid1, b.id AS cid2,
                      a.n AS na, b.n AS nb
               FROM g a JOIN g b ON a.brand = b.brand AND a.bt = b.bt AND a.id < b.id),
      itw AS (SELECT c.cid1, c.cid2, CAST(SUM(w.w) AS BIGINT) AS inter
              FROM cand c JOIN tk t1 ON t1.name = c.n1x
                          JOIN tk t2 ON t2.name = c.n2x AND t2.t = t1.t
                          JOIN w ON w.t = t1.t
              GROUP BY 1, 2)
      SELECT c.cid1 AS id1, c.cid2 AS id2, CAST(c.na AS BIGINT) AS n1,
             CAST(c.nb AS BIGINT) AS n2,
             ROUND(CAST(i.inter AS DOUBLE)
                   / CAST(w1.wsum + w2.wsum - i.inter AS DOUBLE), 6) AS sim
      FROM cand c JOIN itw i ON i.cid1 = c.cid1 AND i.cid2 = c.cid2
      JOIN ws w1 ON w1.name = c.n1x JOIN ws w2 ON w2.name = c.n2x
      WHERE CAST(i.inter AS DOUBLE) / CAST(w1.wsum + w2.wsum - i.inter AS DOUBLE) >= 0.45
    """.trim)
  )

  /** End-to-end entity resolution (FuzzyJoin.jaroErClusters scaladoc:
    * collapse exact surface forms first — vocabulary-bounded scoring,
    * linear collapse — then pointer-jumping CC over rep-level edges and
    * one membership join back). The oracle is DOUBLY algorithm-
    * independent: DuckDB's recursive-CTE transitive closure over the
    * FULL per-id pair graph (no collapse, min reachable id per node), so
    * matching hashes prove BOTH that the O(log D) pointer-jumping loop
    * computes exactly the closure's components AND that the collapse-
    * first decomposition loses no pair the naive quadratic would score —
    * the triangle-oracle discipline applied to clustering. */
  val erClustersQ: Q = Q(
    "x_er_clusters",
    (s, d) => {
      val p = Tables.part(s, d).select(
        col("p_partkey").as("id"), col("p_brand").as("brand"),
        substring_index(col("p_name"), " ", 1).as("w1"), col("p_name").as("name"))
      FuzzyJoin.jaroErClusters(p, "id", "name",
        Seq(col("brand"), col("w1")), threshold = 0.9)
    },
    Some("""
      WITH RECURSIVE p AS (SELECT p_partkey AS id, p_brand AS brand,
                                  split_part(p_name, ' ', 1) AS w1, p_name AS name FROM part),
      prs AS (SELECT a.id AS id1, b.id AS id2
              FROM p a JOIN p b ON a.brand = b.brand AND a.w1 = b.w1 AND a.id < b.id
              WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9),
      sym AS (SELECT id1 AS u, id2 AS v FROM prs UNION SELECT id2, id1 FROM prs),
      nodes AS (SELECT DISTINCT u AS id FROM sym),
      reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u),
      cl AS (SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY 1)
      SELECT cl.id, cl.cluster_id, CAST(c.cnt AS BIGINT) AS n_members
      FROM cl JOIN (SELECT cluster_id, COUNT(*) AS cnt FROM cl GROUP BY 1) c
        USING (cluster_id)
    """.trim)
  )

  /** Decile-migration matrix (Relational.decileMigration scaladoc: two
    * exactNtile cuts over (cents, custkey) — DuckDB NTILE replays them —
    * full-outer customer join, decile 0 = absent that year). */
  val decileMigrationQ: Q = Q(
    "x_decile_migration",
    (s, d) => Relational.decileMigration(Tables.orders(s, d)),
    Some("""
      WITH ra AS (SELECT o_custkey,
                         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996 GROUP BY 1),
      rb AS (SELECT o_custkey,
                    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
             FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1997 GROUP BY 1),
      da AS (SELECT o_custkey, cents,
                    NTILE(10) OVER (ORDER BY cents, o_custkey) AS dec FROM ra),
      db AS (SELECT o_custkey, cents,
                    NTILE(10) OVER (ORDER BY cents, o_custkey) AS dec FROM rb),
      j AS (SELECT COALESCE(da.dec, 0) AS decile_from, COALESCE(db.dec, 0) AS decile_to,
                   COALESCE(da.cents, 0) AS ca, COALESCE(db.cents, 0) AS cb
            FROM da FULL OUTER JOIN db ON da.o_custkey = db.o_custkey)
      SELECT CAST(decile_from AS INT) AS decile_from,
             CAST(decile_to AS INT) AS decile_to,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             ROUND(CAST(SUM(ca) AS DOUBLE) / 100, 2) AS revenue_from,
             ROUND(CAST(SUM(cb) AS DOUBLE) / 100, 2) AS revenue_to
      FROM j GROUP BY 1, 2
    """.trim)
  )

  /** Multi-changepoint binary segmentation (EventAnalytics.binsegDaily
    * scaladoc: greedy SSE-gain splits on the checkpointed day grid, k
    * grid-sized jobs, driver holds only the boundary list). The oracle
    * unrolls all three greedy rounds — each an argmax of the identical
    * three-term double gain over per-segment prefix sums, segment
    * bounds from the previous rounds' picks via CASE — the PageRank /
    * MMR unrolled-fixed-point precedent. */
  val binsegQ: Q = Q(
    "x_binseg",
    (s, d) => EventAnalytics.binsegDaily(Tables.events(s, d), k = 3),
    Some("""
      WITH g0 AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1),
      g AS (SELECT day, c, ROW_NUMBER() OVER (ORDER BY day) AS rn,
                   SUM(c) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc
            FROM g0),
      t AS (SELECT COUNT(*) AS n, SUM(c) AS s FROM g0),
      r1 AS (SELECT rn, day,
                    CAST(pc AS DOUBLE) * CAST(pc AS DOUBLE) / CAST(rn AS DOUBLE)
                  + CAST(s - pc AS DOUBLE) * CAST(s - pc AS DOUBLE) / CAST(n - rn AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS gain
             FROM g, t WHERE rn < n
             ORDER BY gain DESC, day LIMIT 1),
      c2 AS (SELECT g.rn, g.day, g.pc,
                    CASE WHEN g.rn <= r1.rn THEN 0 ELSE r1.rn END AS lo,
                    CASE WHEN g.rn <= r1.rn THEN r1.rn ELSE n END AS hi
             FROM g, r1, t
             WHERE g.rn < CASE WHEN g.rn <= r1.rn THEN r1.rn ELSE n END),
      r2 AS (SELECT c2.rn, c2.day,
                    CAST(c2.pc - COALESCE(glo.pc, 0) AS DOUBLE)
                      * CAST(c2.pc - COALESCE(glo.pc, 0) AS DOUBLE)
                      / CAST(c2.rn - c2.lo AS DOUBLE)
                  + CAST(ghi.pc - c2.pc AS DOUBLE) * CAST(ghi.pc - c2.pc AS DOUBLE)
                      / CAST(c2.hi - c2.rn AS DOUBLE)
                  - CAST(ghi.pc - COALESCE(glo.pc, 0) AS DOUBLE)
                      * CAST(ghi.pc - COALESCE(glo.pc, 0) AS DOUBLE)
                      / CAST(c2.hi - c2.lo AS DOUBLE) AS gain
             FROM c2 LEFT JOIN g glo ON glo.rn = c2.lo JOIN g ghi ON ghi.rn = c2.hi
             ORDER BY gain DESC, c2.day LIMIT 1),
      b3 AS (SELECT LEAST(r1.rn, r2.rn) AS a, GREATEST(r1.rn, r2.rn) AS bb
             FROM r1, r2),
      c3 AS (SELECT g.rn, g.day, g.pc,
                    CASE WHEN g.rn <= a THEN 0
                         WHEN g.rn <= bb THEN a ELSE bb END AS lo,
                    CASE WHEN g.rn <= a THEN a
                         WHEN g.rn <= bb THEN bb ELSE n END AS hi
             FROM g, b3, t
             WHERE g.rn < CASE WHEN g.rn <= a THEN a
                               WHEN g.rn <= bb THEN bb ELSE n END),
      r3 AS (SELECT c3.rn, c3.day,
                    CAST(c3.pc - COALESCE(glo.pc, 0) AS DOUBLE)
                      * CAST(c3.pc - COALESCE(glo.pc, 0) AS DOUBLE)
                      / CAST(c3.rn - c3.lo AS DOUBLE)
                  + CAST(ghi.pc - c3.pc AS DOUBLE) * CAST(ghi.pc - c3.pc AS DOUBLE)
                      / CAST(c3.hi - c3.rn AS DOUBLE)
                  - CAST(ghi.pc - COALESCE(glo.pc, 0) AS DOUBLE)
                      * CAST(ghi.pc - COALESCE(glo.pc, 0) AS DOUBLE)
                      / CAST(c3.hi - c3.lo AS DOUBLE) AS gain
             FROM c3 LEFT JOIN g glo ON glo.rn = c3.lo JOIN g ghi ON ghi.rn = c3.hi
             ORDER BY gain DESC, c3.day LIMIT 1)
      SELECT CAST(1 AS INT) AS split_rank, day AS split_day,
             ROUND(gain, 6) AS gain FROM r1
      UNION ALL SELECT CAST(2 AS INT), day, ROUND(gain, 6) FROM r2
      UNION ALL SELECT CAST(3 AS INT), day, ROUND(gain, 6) FROM r3
    """.trim)
  )

  /** WOE / information value of the discount bucket against the
    * return flag (DataQuality.woeIv scaladoc: integer Laplace
    * smoothing, ONE cross-multiplied exact ratio per ln, ROUND-then-
    * DECIMAL IV terms — the psiDrift transcendental discipline). */
  val woeIvQ: Q = Q(
    "x_woe_iv",
    (s, d) => DataQuality.woeIv(Tables.lineitem(s, d)),
    Some("""
      WITH b AS (SELECT CAST(ROUND(l_discount * 100) AS INT) AS bucket,
                        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
                 FROM lineitem),
      g AS (SELECT bucket, COUNT(*) AS n_events, CAST(SUM(y) AS BIGINT) AS n_good,
                   COUNT(*) - CAST(SUM(y) AS BIGINT) AS n_bad
            FROM b GROUP BY 1),
      t AS (SELECT CAST(SUM(n_good) AS BIGINT) AS gt,
                   CAST(SUM(n_bad) AS BIGINT) AS bt, COUNT(*) AS k FROM g),
      s AS (SELECT bucket, n_events, n_good, n_bad,
                   ROUND(ln(CAST((n_good + 1) * (bt + k) AS DOUBLE)
                          / CAST((n_bad + 1) * (gt + k) AS DOUBLE)), 6) AS woe,
                   gt, bt, k
            FROM g, t),
      s2 AS (SELECT bucket, n_events, n_good, n_bad, woe,
                    CAST(ROUND((CAST(n_good + 1 AS DOUBLE) / CAST(gt + k AS DOUBLE)
                              - CAST(n_bad + 1 AS DOUBLE) / CAST(bt + k AS DOUBLE))
                               * woe, 6) AS DECIMAL(18,6)) AS term
             FROM s),
      iv AS (SELECT CAST(SUM(term) AS DECIMAL(18,6)) AS ivd FROM s2)
      SELECT bucket, CAST(n_events AS BIGINT) AS n_events, n_good, n_bad, woe,
             CAST(ivd AS DOUBLE) AS iv
      FROM s2, iv
    """.trim)
  )

  /** Spearman rank-correlation matrix (Profile.spearmanMatrix scaladoc:
    * exact doubled average ranks off per-column prefixSum grids — no
    * single-partition rank window — then the corrMatrix moment tail).
    * The oracle computes the SAME doubled ranks via RANK() +
    * per-value COUNT() windows, an independent formulation of the
    * average-rank arithmetic. */
  val spearmanQ: Q = Q(
    "x_spearman",
    (s, d) => Profile.spearmanMatrix(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount")),
    Some("""
      WITH k AS (SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS v_q,
                        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v_e,
                        CAST(ROUND(l_discount * 100) AS BIGINT) AS v_d
                 FROM lineitem),
      r AS (SELECT
              2 * RANK() OVER (ORDER BY v_q) + COUNT(*) OVER (PARTITION BY v_q) - 1 AS r_q,
              2 * RANK() OVER (ORDER BY v_e) + COUNT(*) OVER (PARTITION BY v_e) - 1 AS r_e,
              2 * RANK() OVER (ORDER BY v_d) + COUNT(*) OVER (PARTITION BY v_d) - 1 AS r_d
            FROM k),
      m AS (SELECT COUNT(*) AS n,
                   SUM(CAST(r_q AS HUGEINT)) AS s_q,
                   SUM(CAST(r_e AS HUGEINT)) AS s_e,
                   SUM(CAST(r_d AS HUGEINT)) AS s_d,
                   SUM(CAST(r_q AS HUGEINT) * CAST(r_q AS HUGEINT)) AS q_q,
                   SUM(CAST(r_e AS HUGEINT) * CAST(r_e AS HUGEINT)) AS q_e,
                   SUM(CAST(r_d AS HUGEINT) * CAST(r_d AS HUGEINT)) AS q_d,
                   SUM(CAST(r_q AS HUGEINT) * CAST(r_e AS HUGEINT)) AS p_qe,
                   SUM(CAST(r_q AS HUGEINT) * CAST(r_d AS HUGEINT)) AS p_qd,
                   SUM(CAST(r_e AS HUGEINT) * CAST(r_d AS HUGEINT)) AS p_ed
            FROM r)
      SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
             CAST(n AS BIGINT) AS n,
             ROUND(CAST(n * p_qe - s_q * s_e AS DOUBLE) /
                   (sqrt(CAST(n * q_q - s_q * s_q AS DOUBLE))
                    * sqrt(CAST(n * q_e - s_e * s_e AS DOUBLE))), 6) AS rho
      FROM m
      UNION ALL
      SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
             ROUND(CAST(n * p_qd - s_q * s_d AS DOUBLE) /
                   (sqrt(CAST(n * q_q - s_q * s_q AS DOUBLE))
                    * sqrt(CAST(n * q_d - s_d * s_d AS DOUBLE))), 6)
      FROM m
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
             ROUND(CAST(n * p_ed - s_e * s_d AS DOUBLE) /
                   (sqrt(CAST(n * q_e - s_e * s_e AS DOUBLE))
                    * sqrt(CAST(n * q_d - s_d * s_d AS DOUBLE))), 6)
      FROM m
    """.trim)
  )

  /** Mann–Whitney U rank-sum test (DataQuality.mannWhitney scaladoc:
    * spearman's doubled-rank integers, DECIMAL tie correction, one
    * mirrored sqrt/divide tail). Oracle re-derives the ranks with
    * RANK()+COUNT() windows and replays the identical z expression. */
  val mannWhitneyQ: Q = Q(
    "x_mannwhitney",
    (s, d) => DataQuality.mannWhitney(Tables.orders(s, d)),
    Some("""
      WITH b AS (SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga,
                        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
                 FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      r AS (SELECT ga,
                   2 * RANK() OVER (ORDER BY v) + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
            FROM b),
      agg AS (SELECT CAST(SUM(ga) AS HUGEINT) AS na, CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(CASE WHEN ga = 1 THEN r2 ELSE 0 END) AS HUGEINT) AS r2a
              FROM r),
      tt AS (SELECT SUM(CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT) * CAST(cnt AS HUGEINT)
                        - CAST(cnt AS HUGEINT)) AS t3
             FROM (SELECT COUNT(*) AS cnt FROM b GROUP BY v))
      SELECT CAST(na AS BIGINT) AS n_a, CAST(n - na AS BIGINT) AS n_b,
             CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_a,
             ROUND(CAST(r2a - na * (na + 1) - na * (n - na) AS DOUBLE)
                   / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(n - na AS DOUBLE)
                                 * (CAST((n * n * n - n) - t3 AS DOUBLE)
                                    / (12.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))), 6) AS z
      FROM agg, tt
    """.trim)
  )

  /** Top direct-follows trigrams (EventAnalytics.seqTriples scaladoc:
    * one user exchange for marking + both leads + the count partials;
    * TakeOrderedAndProject top-k over the type³ grid). */
  val seqTriplesQ: Q = Q(
    "x_seq_triples",
    (s, d) => EventAnalytics.seqTriples(Tables.events(s, d), gapSec = 1800L, k = 20),
    Some("""
      WITH m AS (
        SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000
                    THEN 1 ELSE 0 END AS nw
        FROM events),
      s AS (SELECT user_id, event_id, ts, event_type,
                   SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM m),
      ns AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, session_idx FROM s)),
      tri AS (SELECT event_type AS t1,
                     LEAD(event_type, 1) OVER (PARTITION BY user_id, session_idx
                                               ORDER BY ts, event_id) AS t2,
                     LEAD(event_type, 2) OVER (PARTITION BY user_id, session_idx
                                               ORDER BY ts, event_id) AS t3,
                     user_id, session_idx
              FROM s),
      g AS (SELECT t1, t2, t3, COUNT(*) AS n,
                   COUNT(DISTINCT (user_id, session_idx)) AS n_sessions
            FROM tri WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
      SELECT t1, t2, t3, CAST(n AS BIGINT) AS n,
             CAST(n_sessions AS BIGINT) AS n_sessions,
             ROUND(CAST(n_sessions AS DOUBLE) / (SELECT n FROM ns), 6) AS support
      FROM g
      ORDER BY n DESC, t1, t2, t3 LIMIT 20
    """.trim)
  )

  /** Kendall τ-b per event type (DataQuality.kendallDaily scaladoc:
    * sign-only concordance over the day-domain-bounded pair join, tie
    * corrections, mirrored sqrt tail; NULL when an axis is all ties). */
  val kendallQ: Q = Q(
    "x_kendall",
    (s, d) => DataQuality.kendallDaily(Tables.events(s, d)),
    Some("""
      WITH g AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c,
                        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      p AS (SELECT a.event_type,
                   a.c AS c1, a.v AS v1, b.c AS c2, b.v AS v2
            FROM g a JOIN g b ON a.event_type = b.event_type AND a.day < b.day),
      agg AS (SELECT event_type, COUNT(*) AS n0,
                     SUM(CASE WHEN (c2 > c1 AND v2 > v1) OR (c2 < c1 AND v2 < v1)
                              THEN 1 ELSE 0 END) AS nc,
                     SUM(CASE WHEN (c2 > c1 AND v2 < v1) OR (c2 < c1 AND v2 > v1)
                              THEN 1 ELSE 0 END) AS nd,
                     SUM(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) AS tx,
                     SUM(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) AS ty
              FROM p GROUP BY 1),
      nd_ AS (SELECT event_type, COUNT(*) AS n_days FROM g GROUP BY 1)
      SELECT nd_.event_type, CAST(n_days AS BIGINT) AS n_days,
             CAST(COALESCE(nc, 0) AS BIGINT) AS n_concordant,
             CAST(COALESCE(nd, 0) AS BIGINT) AS n_discordant,
             CASE WHEN (n0 - tx) > 0 AND (n0 - ty) > 0 THEN
               ROUND(CAST(nc - nd AS DOUBLE) /
                     sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)), 6)
             END AS tau_b
      FROM nd_ LEFT JOIN agg ON nd_.event_type = agg.event_type
    """.trim)
  )

  /** Segmented daily trend (EventAnalytics.segmentedTrend scaladoc:
    * binseg argmax for the split, exact decimal OLS per side, both
    * coefficients single divides of exact moments). The oracle replays
    * the argmax and both OLS closed forms. */
  val segmentedTrendQ: Q = Q(
    "x_segmented_trend",
    (s, d) => EventAnalytics.segmentedTrend(Tables.events(s, d)),
    Some("""
      WITH g0 AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1),
      g AS (SELECT day, c, ROW_NUMBER() OVER (ORDER BY day) AS rn,
                   SUM(c) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc
            FROM g0),
      t AS (SELECT COUNT(*) AS n, SUM(c) AS s FROM g0),
      r1 AS (SELECT rn, day,
                    CAST(pc AS DOUBLE) * CAST(pc AS DOUBLE) / CAST(rn AS DOUBLE)
                  + CAST(s - pc AS DOUBLE) * CAST(s - pc AS DOUBLE) / CAST(n - rn AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS gain
             FROM g, t WHERE rn < n
             ORDER BY gain DESC, day LIMIT 1),
      seg AS (SELECT CASE WHEN g.rn <= r1.rn THEN 1 ELSE 2 END AS seg,
                     g.rn, g.c, r1.day AS split_day
              FROM g, r1),
      m AS (SELECT seg, split_day, CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(rn AS HUGEINT)) AS sx, SUM(CAST(c AS HUGEINT)) AS sy,
                   SUM(CAST(rn AS HUGEINT) * CAST(c AS HUGEINT)) AS sxy,
                   SUM(CAST(rn AS HUGEINT) * CAST(rn AS HUGEINT)) AS sxx
            FROM seg GROUP BY 1, 2)
      SELECT CAST(seg AS INT) AS seg, split_day, CAST(n AS BIGINT) AS n_days,
             CASE WHEN n * sxx - sx * sx <> 0 THEN
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
             CASE WHEN n * sxx - sx * sx <> 0 THEN
               ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS intercept
      FROM m
    """.trim)
  )

  /** CUSUM mean-shift monitor (EventAnalytics.cusumDaily scaladoc: the
    * max-recursion resolved to prefix − running-min via the classical
    * identity, all integers scaled by 20N, grid-sized windows). */
  val cusumQ: Q = Q(
    "x_cusum",
    (s, d) => EventAnalytics.cusumDaily(Tables.events(s, d)),
    Some("""
      WITH g AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1),
      t AS (SELECT COUNT(*) AS n0, SUM(c) AS s0 FROM g),
      sc AS (SELECT day, c, n0, s0, 20 * n0 * c - 21 * s0 AS y FROM g, t),
      pp AS (SELECT day, c, n0, s0,
                    SUM(y) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
             FROM sc),
      p1 AS (SELECT day, c, n0, s0, p,
                    MIN(p) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
             FROM pp)
      SELECT day, CAST(c AS BIGINT) AS n,
             ROUND(CAST(p - LEAST(0, rm) AS DOUBLE) / CAST(20 * n0 AS DOUBLE), 6) AS cusum,
             (p - LEAST(0, rm)) > 80 * s0 AS alarm
      FROM p1
    """.trim)
  )

  /** Cramér's V association strength (Profile.cramersV scaladoc: the
    * chi2 contingency machinery plus the n-normalized effect-size
    * tail). */
  val cramersVQ: Q = Q(
    "x_cramers_v",
    (s, d) => Profile.cramersV(Tables.orders(s, d),
      "o_orderpriority", "o_orderstatus"),
    Some("""
      WITH obs AS (SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS o
                   FROM orders GROUP BY 1, 2),
      cells AS (SELECT a, b, COALESCE(o, 0) AS o
                FROM (SELECT DISTINCT o_orderpriority AS a FROM orders) ax
                CROSS JOIN (SELECT DISTINCT o_orderstatus AS b FROM orders) bx
                LEFT JOIN obs USING (a, b)),
      m AS (SELECT a, b, o,
                   SUM(o) OVER (PARTITION BY a) AS ra,
                   SUM(o) OVER (PARTITION BY b) AS cb,
                   SUM(o) OVER () AS nn FROM cells),
      t AS (SELECT a, b, o, nn, CAST(ROUND(
              (o - CAST(ra * cb AS DOUBLE) / nn) * (o - CAST(ra * cb AS DOUBLE) / nn)
              / (CAST(ra * cb AS DOUBLE) / nn), 6) AS DECIMAL(18,6)) AS t FROM m),
      agg AS (SELECT MAX(nn) AS n_rows, COUNT(*) AS n_cells,
                     (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
                     LEAST(COUNT(DISTINCT a) - 1, COUNT(DISTINCT b) - 1) AS mindim,
                     CAST(SUM(t) AS DOUBLE) AS chi2
              FROM t)
      SELECT CAST(n_rows AS BIGINT) AS n_rows, CAST(n_cells AS BIGINT) AS n_cells,
             CAST(dof AS BIGINT) AS dof, chi2,
             ROUND(sqrt(chi2 / CAST(n_rows * mindim AS DOUBLE)), 6) AS cramers_v
      FROM agg
    """.trim)
  )

  /** Functional-dependency audit (DataQuality.fdCheck scaladoc) over
    * the part table: p_partkey → p_brand holds (key); p_name → p_brand
    * and p_brand → p_type are data-decided — the readout quantifies the
    * fan-out instead of assuming it. */
  val fdCheckQ: Q = Q(
    "x_fd_check",
    (s, d) => DataQuality.fdCheck(Tables.part(s, d),
      Seq(("p_partkey", "p_brand"), ("p_name", "p_brand"),
        ("p_brand", "p_type"))),
    Some("""
      WITH f1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lhs,
                         CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
                         CAST(MAX(k) AS BIGINT) AS max_rhs_per_lhs
                  FROM (SELECT p_partkey, COUNT(DISTINCT p_brand) AS k
                        FROM part GROUP BY 1)),
      f2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lhs,
                    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
                    CAST(MAX(k) AS BIGINT) AS max_rhs_per_lhs
             FROM (SELECT p_name, COUNT(DISTINCT p_brand) AS k
                   FROM part GROUP BY 1)),
      f3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lhs,
                    CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
                    CAST(MAX(k) AS BIGINT) AS max_rhs_per_lhs
             FROM (SELECT p_brand, COUNT(DISTINCT p_type) AS k
                   FROM part GROUP BY 1))
      SELECT 'p_partkey' AS lhs, 'p_brand' AS rhs, n_lhs, n_violating,
             max_rhs_per_lhs, n_violating = 0 AS holds FROM f1
      UNION ALL
      SELECT 'p_name', 'p_brand', n_lhs, n_violating,
             max_rhs_per_lhs, n_violating = 0 FROM f2
      UNION ALL
      SELECT 'p_brand', 'p_type', n_lhs, n_violating,
             max_rhs_per_lhs, n_violating = 0 FROM f3
    """.trim)
  )

  /** Zipf-law slope of the token frequency-rank curve (Corpus.zipfSlope
    * scaladoc: md5-60 keys, globalRank total order, ROUND-then-DECIMAL
    * lns, width-bounded decimal moments both engines can multiply). */
  val zipfSlopeQ: Q = Q(
    "x_zipf_slope",
    (s, d) => graft.corpus.Corpus.zipfSlope(Tables.documents(s, d)),
    Some("""
      WITH tk AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
                        FROM documents)),
      c AS (SELECT h, COUNT(*) AS n FROM tk GROUP BY 1 HAVING COUNT(*) >= 5),
      rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, h) AS r FROM c),
      t AS (SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
                   CAST(ROUND(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
            FROM rk),
      m AS (SELECT CAST(COUNT(*) AS DECIMAL(9,0)) AS nn,
                   CAST(SUM(x) AS DECIMAL(18,6)) AS sx,
                   CAST(SUM(y) AS DECIMAL(18,6)) AS sy,
                   CAST(SUM(x * y) AS DECIMAL(24,12)) AS sxy,
                   CAST(SUM(x * x) AS DECIMAL(24,12)) AS sxx
            FROM t)
      SELECT CAST(nn AS BIGINT) AS n_tokens,
             ROUND(CAST(nn * sxy - sx * sy AS DOUBLE)
                   / CAST(nn * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
             ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
                   / CAST(nn * sxx - sx * sx AS DOUBLE), 6) AS intercept
      FROM m
    """.trim)
  )

  /** Theil between/within decomposition by nation
    * (Relational.theilDecomposition scaladoc: the additive split Gini
    * cannot do; theilRevenue's exact-cent, ROUND-then-DECIMAL
    * transcendental discipline per group). */
  val theilDecompQ: Q = Q(
    "x_theil_decomp",
    (s, d) => Relational.theilDecomposition(Tables.orders(s, d), Tables.customer(s, d)),
    Some("""
      WITH rev0 AS (SELECT o_custkey,
                           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                    FROM orders GROUP BY 1),
      rev AS (SELECT CAST(c_nationkey AS INT) AS nationkey, cents
              FROM rev0 JOIN customer ON o_custkey = c_custkey
              WHERE cents > 0),
      g AS (SELECT nationkey, COUNT(*) AS ng, SUM(CAST(cents AS HUGEINT)) AS sg
            FROM rev GROUP BY 1),
      t AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s FROM g),
      terms AS (SELECT rev.nationkey,
                       CAST(ROUND((CAST(cents AS DOUBLE) * ng / CAST(sg AS DOUBLE))
                            * ln(CAST(cents AS DOUBLE) * ng / CAST(sg AS DOUBLE)), 6)
                            AS DECIMAL(18,6)) AS term
                FROM rev JOIN g ON rev.nationkey = g.nationkey),
      ts AS (SELECT nationkey, SUM(term) AS tsum FROM terms GROUP BY 1)
      SELECT g.nationkey, CAST(ng AS BIGINT) AS n_customers,
             ROUND(CAST(sg AS DOUBLE) / CAST(s AS DOUBLE), 6) AS income_share,
             ROUND(CAST(tsum AS DOUBLE) / ng, 6) AS theil_within,
             ROUND(CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)
                   * ln(CAST(sg AS DOUBLE) * n / (ng * CAST(s AS DOUBLE))), 6) AS between_term
      FROM g JOIN ts ON g.nationkey = ts.nationkey, t
    """.trim)
  )

  /** Per-nation revenue HHI (Relational.hhiConcentration scaladoc:
    * exact decimal Σcents² with pre-cast operands, one mirrored double
    * tail sq/tot²). */
  val hhiQ: Q = Q(
    "x_hhi",
    (s, d) => Relational.hhiConcentration(Tables.orders(s, d), Tables.customer(s, d)),
    Some("""
      WITH rev AS (SELECT o_custkey,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
      g AS (SELECT CAST(c_nationkey AS INT) AS nationkey,
                   COUNT(*) AS n, SUM(CAST(cents AS HUGEINT)) AS tot,
                   SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sq
            FROM rev JOIN customer ON o_custkey = c_custkey GROUP BY 1)
      SELECT nationkey, CAST(n AS BIGINT) AS n_customers,
             ROUND(CAST(tot AS DOUBLE) / 100, 2) AS total_revenue,
             ROUND(CAST(sq AS DOUBLE) /
                   (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi,
             ROUND(CAST(1.0 AS DOUBLE) / n, 6) AS hhi_floor
      FROM g
    """.trim)
  )

  /** SCD type-2 merge under the oracle: the customer dim's current slice
    * merged with a deterministic update batch (1/5 of keys change
    * acctbal, 1/5 no-op, 1/5 arrive as new keys). The engine is ONE
    * full-outer key join + a per-row struct explode (etl/Scd.scala — no
    * window, no second pass; closed rows are an append-only delta); the
    * oracle replays the merge as four set-logic branches with null-safe
    * IS [NOT] DISTINCT FROM comparisons (matching the engine's <=>
    * contract, even though TPC-H customer attributes are never null —
    * the null-attribute paths themselves are pinned by ScdSpec), so
    * matching hashes pin every path: passthrough, no-op update,
    * close+reopen, and insert. */
  val scd2MergeQ: Q = Q(
    "x_scd2_merge",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val dim = cust
        .withColumn("valid_from", lit("2020-01-01 00:00:00").cast("timestamp"))
        .withColumn("valid_to", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true))
      val updates = cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100)
        .unionByName(cust.filter(col("c_custkey") % 5 === 1))
        .unionByName(cust.filter(col("c_custkey") % 5 === 2)
          .withColumn("c_custkey", col("c_custkey") + 1000000000L))
      graft.etl.Scd.scd2Merge(dim, updates, "c_custkey",
        Seq("c_acctbal", "c_mktsegment"),
        lit("2024-07-01 00:00:00").cast("timestamp"))
    },
    Some("""
      WITH dim AS (
        SELECT c_custkey, c_acctbal, c_mktsegment,
               TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
        FROM customer),
      upd AS (
        SELECT c_custkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 1
        UNION ALL
        SELECT c_custkey + 1000000000, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 2)
      SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment,
             d.valid_from, d.valid_to, d.is_current
      FROM dim d LEFT JOIN upd u ON d.c_custkey = u.c_custkey
      WHERE u.c_custkey IS NULL
         OR (d.c_acctbal IS NOT DISTINCT FROM u.c_acctbal
             AND d.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment)
      UNION ALL
      SELECT d.c_custkey, d.c_acctbal, d.c_mktsegment, d.valid_from,
             TIMESTAMP '2024-07-01 00:00:00', FALSE
      FROM dim d JOIN upd u ON d.c_custkey = u.c_custkey
      WHERE d.c_acctbal IS DISTINCT FROM u.c_acctbal
         OR d.c_mktsegment IS DISTINCT FROM u.c_mktsegment
      UNION ALL
      SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment,
             TIMESTAMP '2024-07-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
      FROM dim d JOIN upd u ON d.c_custkey = u.c_custkey
      WHERE d.c_acctbal IS DISTINCT FROM u.c_acctbal
         OR d.c_mktsegment IS DISTINCT FROM u.c_mktsegment
      UNION ALL
      SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment,
             TIMESTAMP '2024-07-01 00:00:00', CAST(NULL AS TIMESTAMP), TRUE
      FROM upd u LEFT JOIN dim d ON d.c_custkey = u.c_custkey
      WHERE d.c_custkey IS NULL
    """.trim)
  )

  /** Fixed-point PageRank under the oracle: 3 synchronous iterations
    * over the bipartite customer→supplier purchase graph (node ids
    * disambiguated as 2k / 2k+1). The oracle unrolls all three
    * iterations as CTEs in the SAME 1e-12-unit integer arithmetic
    * (PageRankOp's determinism contract — float PageRank would hash-
    * flake on summation order and per-engine rounding), so every rank is
    * pinned exactly, dangling redistribution included. */
  val pageRankQ: Q = Q(
    "x_pagerank",
    // rides the shared prepared purchase graph (coPurchaseGraph —
    // identical edge expression, byte-identical ranks)
    (s, d) => PageRankOp.pageRank(coPurchaseGraph(s, d), iters = 3),
    Some("""
      WITH e AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS rank_u
             FROM nodes),
      s1 AS (SELECT e.dst AS node, CAST(SUM(r.rank_u // d.deg) AS BIGINT) AS s
             FROM r0 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
             GROUP BY e.dst),
      dm1 AS (SELECT CAST(COALESCE(SUM(r.rank_u), 0) AS BIGINT) AS dm
              FROM r0 r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL),
      r1 AS (SELECT nodes.node,
               (1000000000000 - (1000000000000 * 85) // 100)
                 // (SELECT n FROM nn)
               + ((COALESCE(s1.s, 0)
                   + (SELECT dm FROM dm1) // (SELECT n FROM nn)) * 85) // 100
                 AS rank_u
             FROM nodes LEFT JOIN s1 ON nodes.node = s1.node),
      s2 AS (SELECT e.dst AS node, CAST(SUM(r.rank_u // d.deg) AS BIGINT) AS s
             FROM r1 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
             GROUP BY e.dst),
      dm2 AS (SELECT CAST(COALESCE(SUM(r.rank_u), 0) AS BIGINT) AS dm
              FROM r1 r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL),
      r2 AS (SELECT nodes.node,
               (1000000000000 - (1000000000000 * 85) // 100)
                 // (SELECT n FROM nn)
               + ((COALESCE(s2.s, 0)
                   + (SELECT dm FROM dm2) // (SELECT n FROM nn)) * 85) // 100
                 AS rank_u
             FROM nodes LEFT JOIN s2 ON nodes.node = s2.node),
      s3 AS (SELECT e.dst AS node, CAST(SUM(r.rank_u // d.deg) AS BIGINT) AS s
             FROM r2 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
             GROUP BY e.dst),
      dm3 AS (SELECT CAST(COALESCE(SUM(r.rank_u), 0) AS BIGINT) AS dm
              FROM r2 r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL),
      r3 AS (SELECT nodes.node,
               (1000000000000 - (1000000000000 * 85) // 100)
                 // (SELECT n FROM nn)
               + ((COALESCE(s3.s, 0)
                   + (SELECT dm FROM dm3) // (SELECT n FROM nn)) * 85) // 100
                 AS rank_u
             FROM nodes LEFT JOIN s3 ON nodes.node = s3.node)
      SELECT node, rank_u FROM r3
    """.trim)
  )

  /** BPE merge learning under the oracle: 3 merge iterations of
    * byte-pair encoding over the documents corpus (Corpus.learnBpeMerges
    * — weighted word dictionary, double-space-separated symbol strings, greedy
    * non-overlapping replace as the merge primitive). The oracle replays
    * the ENTIRE training loop — pair counting, the count-then-
    * lexicographic argmax, and both replace passes — as unrolled CTEs,
    * so the learned merge table is pinned end to end, the same way the
    * SemDeDup oracle replays a full Lloyd's run. */
  val bpeMergesQ: Q = Q(
    "x_bpe_merges",
    (s, d) => graft.corpus.Corpus.learnBpeMerges(
      Tables.documents(s, d), nMerges = 3),
    Some("""
      WITH toks AS (
        SELECT ' ' || regexp_replace(token, '(.)', '\1  ', 'g') AS sp,
               COUNT(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
              FROM documents) t
        WHERE length(token) >= 1
        GROUP BY token),
      p1 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM toks) x) y
        GROUP BY 1, 2),
      b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
      t1 AS (SELECT replace(sp,
               ' ' || (SELECT a FROM b1) || '  ' || (SELECT b FROM b1) || ' ',
               ' ' || (SELECT a FROM b1) || (SELECT b FROM b1) || ' ') AS sp,
               n FROM toks),
      p2 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM t1) x) y
        GROUP BY 1, 2),
      b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
      t2 AS (SELECT replace(sp,
               ' ' || (SELECT a FROM b2) || '  ' || (SELECT b FROM b2) || ' ',
               ' ' || (SELECT a FROM b2) || (SELECT b FROM b2) || ' ') AS sp,
               n FROM t1),
      p3 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM t2) x) y
        GROUP BY 1, 2),
      b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
      SELECT CAST(1 AS INT) AS step, a AS sym_a, b AS sym_b,
             a || b AS merged, cnt AS pair_n FROM b1
      UNION ALL
      SELECT 2, a, b, a || b, cnt FROM b2
      UNION ALL
      SELECT 3, a, b, a || b, cnt FROM b3
    """.trim)
  )

  /** BPE vocabulary application under the oracle: the symbol histogram
    * after the 3 learned merges (Corpus.bpeSymbolHistogram — the
    * tokenize-with-the-learned-vocab half of the BPE story, sharing the
    * training loop's dictionary). The oracle extends the x_bpe_merges
    * replay by the third replace pass and the final unnest+count. */
  val bpeVocabQ: Q = Q(
    "x_bpe_vocab",
    (s, d) => graft.corpus.Corpus.bpeSymbolHistogram(
      Tables.documents(s, d), nMerges = 3),
    Some("""
      WITH toks AS (
        SELECT ' ' || regexp_replace(token, '(.)', '\1  ', 'g') AS sp,
               COUNT(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
              FROM documents) t
        WHERE length(token) >= 1
        GROUP BY token),
      p1 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM toks) x) y
        GROUP BY 1, 2),
      b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
      t1 AS (SELECT replace(sp,
               ' ' || (SELECT a FROM b1) || '  ' || (SELECT b FROM b1) || ' ',
               ' ' || (SELECT a FROM b1) || (SELECT b FROM b1) || ' ') AS sp,
               n FROM toks),
      p2 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM t1) x) y
        GROUP BY 1, 2),
      b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
      t2 AS (SELECT replace(sp,
               ' ' || (SELECT a FROM b2) || '  ' || (SELECT b FROM b2) || ' ',
               ' ' || (SELECT a FROM b2) || (SELECT b FROM b2) || ' ') AS sp,
               n FROM t1),
      p3 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM t2) x) y
        GROUP BY 1, 2),
      b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
      t3 AS (SELECT replace(sp,
               ' ' || (SELECT a FROM b3) || '  ' || (SELECT b FROM b3) || ' ',
               ' ' || (SELECT a FROM b3) || (SELECT b FROM b3) || ' ') AS sp,
               n FROM t2)
      SELECT sym, CAST(SUM(n) AS BIGINT) AS n_occ
      FROM (SELECT n, unnest(string_split(trim(sp), '  ')) AS sym FROM t3) u
      GROUP BY sym
    """.trim)
  )

  /** Closed-form OLS fit under the oracle: calibrate a linear model of
    * document length (n_chars ≈ b0 + b1·tokens + b2·distinct-tokens)
    * over the corpus in ONE declarative plan (Ols.fit2 — exact BIGINT
    * moments, Cramer's rule in DECIMAL(38,0), ratios in double; the
    * oracle computes the identical arithmetic with HUGEINT dets). No
    * collect, no iteration: a 100 TB fit is one map-side-combined pass
    * and a 1-row result. */
  val olsQualityQ: Q = Q(
    "x_ols_fit",
    (s, d) => {
      val toks = split(col("text"), "\\s+")
      Ols.fit2(
        Tables.documents(s, d)
          .select(col("n_chars").as("y"), size(toks).as("x1"),
            size(array_distinct(toks)).as("x2")),
        col("y"), col("x1"), col("x2"))
    },
    Some("""
      WITH f AS (
        SELECT n_chars AS y,
               len(regexp_split_to_array(text, '\s+')) AS x1,
               len(list_distinct(regexp_split_to_array(text, '\s+'))) AS x2
        FROM documents),
      m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s00,
               CAST(SUM(x1) AS BIGINT) AS s01, CAST(SUM(x2) AS BIGINT) AS s02,
               CAST(SUM(x1*x1) AS BIGINT) AS s11,
               CAST(SUM(x1*x2) AS BIGINT) AS s12,
               CAST(SUM(x2*x2) AS BIGINT) AS s22,
               CAST(SUM(y) AS BIGINT) AS t0,
               CAST(SUM(x1*y) AS BIGINT) AS t1,
               CAST(SUM(x2*y) AS BIGINT) AS t2
        FROM f),
      h AS (
        SELECT s00, s01, s02, s11, s12, s22, t0, t1, t2,
               CAST(s00 AS HUGEINT) AS a, CAST(s01 AS HUGEINT) AS b,
               CAST(s02 AS HUGEINT) AS c, CAST(s11 AS HUGEINT) AS e,
               CAST(s12 AS HUGEINT) AS f, CAST(s22 AS HUGEINT) AS g,
               CAST(t0 AS HUGEINT) AS u, CAST(t1 AS HUGEINT) AS v,
               CAST(t2 AS HUGEINT) AS w
        FROM m),
      dets AS (
        SELECT s00,
          a*(e*g - f*f) - b*(b*g - f*c) + c*(b*f - e*c) AS det,
          u*(e*g - f*f) - b*(v*g - f*w) + c*(v*f - e*w) AS det0,
          a*(v*g - f*w) - u*(b*g - f*c) + c*(b*w - v*c) AS det1,
          a*(e*w - v*f) - b*(b*w - v*c) + u*(b*f - e*c) AS det2
        FROM h)
      SELECT s00 AS n_rows, CAST(det AS DOUBLE) AS det,
             CASE WHEN det <> 0
               THEN CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) END AS b0,
             CASE WHEN det <> 0
               THEN CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) END AS b1,
             CASE WHEN det <> 0
               THEN CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) END AS b2
      FROM dets
    """.trim)
  )

  /** Per-group OLS under the oracle: one independent length-model fit
    * PER LANGUAGE from a single grouped moment pass (Ols.fit2PerGroup) —
    * the per-domain calibration shape; the oracle is the same HUGEINT
    * Cramer replay with GROUP BY lang. */
  val olsPerGroupQ: Q = Q(
    "x_ols_fit_by_lang",
    (s, d) => {
      val toks = split(col("text"), "\\s+")
      Ols.fit2PerGroup(
        Tables.documents(s, d)
          .select(col("lang"), col("n_chars").as("y"), size(toks).as("x1"),
            size(array_distinct(toks)).as("x2")),
        "lang", col("y"), col("x1"), col("x2"))
    },
    Some("""
      WITH f AS (
        SELECT lang, n_chars AS y,
               len(regexp_split_to_array(text, '\s+')) AS x1,
               len(list_distinct(regexp_split_to_array(text, '\s+'))) AS x2
        FROM documents),
      m AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS s00,
               CAST(SUM(x1) AS BIGINT) AS s01, CAST(SUM(x2) AS BIGINT) AS s02,
               CAST(SUM(x1*x1) AS BIGINT) AS s11,
               CAST(SUM(x1*x2) AS BIGINT) AS s12,
               CAST(SUM(x2*x2) AS BIGINT) AS s22,
               CAST(SUM(y) AS BIGINT) AS t0,
               CAST(SUM(x1*y) AS BIGINT) AS t1,
               CAST(SUM(x2*y) AS BIGINT) AS t2
        FROM f GROUP BY lang),
      h AS (
        SELECT lang, s00,
               CAST(s00 AS HUGEINT) AS a, CAST(s01 AS HUGEINT) AS b,
               CAST(s02 AS HUGEINT) AS c, CAST(s11 AS HUGEINT) AS e,
               CAST(s12 AS HUGEINT) AS f, CAST(s22 AS HUGEINT) AS g,
               CAST(t0 AS HUGEINT) AS u, CAST(t1 AS HUGEINT) AS v,
               CAST(t2 AS HUGEINT) AS w
        FROM m),
      dets AS (
        SELECT lang, s00,
          a*(e*g - f*f) - b*(b*g - f*c) + c*(b*f - e*c) AS det,
          u*(e*g - f*f) - b*(v*g - f*w) + c*(v*f - e*w) AS det0,
          a*(v*g - f*w) - u*(b*g - f*c) + c*(b*w - v*c) AS det1,
          a*(e*w - v*f) - b*(b*w - v*c) + u*(b*f - e*c) AS det2
        FROM h)
      SELECT lang, s00 AS n_rows, CAST(det AS DOUBLE) AS det,
             CASE WHEN det <> 0
               THEN CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) END AS b0,
             CASE WHEN det <> 0
               THEN CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) END AS b1,
             CASE WHEN det <> 0
               THEN CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) END AS b2
      FROM dets
    """.trim)
  )

  /** Z-order (Morton) layout values under the oracle: the native
    * codegen'd interleave (graftext.ZOrderLong, surfaced as
    * Layout.zorderValue — the clustering key writeZOrdered range-
    * partitions files by) must agree bit-for-bit with DuckDB's replay
    * of the same interleave as explicit shift/mask arithmetic. The
    * curve's file-pruning effect is asserted separately in ZOrderSpec;
    * this row pins the VALUE, which is what makes the layout
    * reproducible across writers. */
  val zorderValues: Q = Q(
    "x_zorder",
    (s, d) => Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.layout.Layout.zorderValue(
          Seq(col("l_partkey"), col("l_suppkey")), 21).as("zval"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .limit(200),
    Some("""
      SELECT l_orderkey, l_linenumber,
             CAST(list_sum(list_transform(generate_series(0, 20), j ->
               (((l_partkey >> j) & 1) << (2*j)) +
               (((l_suppkey >> j) & 1) << (2*j + 1)))) AS BIGINT) AS zval
      FROM lineitem
      ORDER BY zval, l_orderkey, l_linenumber LIMIT 200
    """.trim)
  )

  /** Salted skew join under the oracle: the salt is an internal
    * implementation detail (deterministic xxhash64 fan-out + dim
    * replication), so the result must equal — and the oracle IS — the
    * plain equi-join. Closes the r2 gap where salting was only
    * equivalence-spec-tested. */
  val skewSaltedJoin: Q = Q(
    "x_skew_salted_join",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      Skew.saltedJoin(li, sup, "l_suppkey", "s_suppkey", nSalts = 8,
        factSaltBy = Seq("l_orderkey", "l_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("qty"))
    },
    Some("""
      SELECT s_nationkey, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey
    """.trim)
  )

  /** Per-source cap at 15 (20 synthetic sources × 25 docs → every
    * source loses 10): the web-curation domain cap, keeping a
    * deterministic uniform md5-draw sample per source. The oracle
    * replays the identical 60-bit draw and rank test. */
  val sourceCap: Q = Q(
    "x_source_cap",
    (s, d) => graft.corpus.Corpus.capPerSource(Tables.documents(s, d), maxPerSource = 15)
      .select(col("doc_id"), col("source"), col("lang")),
    Some("""
      WITH ranked AS (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS rn
        FROM documents)
      SELECT doc_id, source, lang FROM ranked WHERE rn <= 15
    """.trim)
  )

  /** Line-level boilerplate removal. The synthetic documents are
    * single-line, so the entry first folds every 5th word break into a
    * newline (a deterministic, engine-portable regex) and then drops
    * every line that occurs in more than one document — the CCNet /
    * RefinedWeb cleanup that strips nav bars / cookie banners /
    * footers. Duplicate documents lose all their lines and vanish. */
  val lineDedup: Q = Q(
    "x_line_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1\n").as("text"))
      graft.corpus.Corpus.dropBoilerplateLines(docs, maxDocFreq = 1)
    },
    Some("""
      WITH d AS (SELECT doc_id,
                        regexp_replace(text, '((\S+ ){4}\S+) ', '\1' || chr(10), 'g') AS text
                 FROM documents),
      lines AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS line
                FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM d)),
      freq AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line)
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
             CAST(count(*) AS INT) AS n_lines
      FROM lines JOIN freq USING (line)
      WHERE line_df <= 1
      GROUP BY doc_id
    """.trim)
  )

  /** TF-IDF top-3 terms per document (rational log-free idf — exact
    * IEEE division keeps scores and ranking bit-identical across
    * engines; see Corpus.tfidfTopTerms). */
  val tfidf: Q = Q(
    "x_tfidf",
    (s, d) => graft.corpus.Corpus.tfidfTopTerms(Tables.documents(s, d), k = 3),
    Some("""
      WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                    FROM documents),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (SELECT doc_id, tok, CAST(tf AS DOUBLE) / df * n AS score
                 FROM tf JOIN df USING (tok), n)
      SELECT doc_id, tok, ROUND(score, 6) AS score, rn
      FROM (SELECT doc_id, tok, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
            FROM scored) t
      WHERE rn <= 3
    """.trim)
  )

  /** Bigram-LM fluency scoring (Corpus.bigramLmScore scaladoc has the
    * semantics + scale story: 8-byte hashed bigrams in every exchange,
    * dictionary-sized count tables, one per-doc rollup). The oracle
    * replays the md5-60 bigram hashing, Laplace arithmetic with
    * DOUBLE-cast literals, and the decimal-exact mean. */
  val bigramLm: Q = Q(
    "x_lm_bigram",
    (s, d) => graft.corpus.Corpus.bigramLmScore(Tables.documents(s, d)),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
                    FROM documents
                    WHERE len(regexp_split_to_array(text, '\s+')) >= 2),
      big AS (SELECT doc_id,
                   ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT AS h1,
                   ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT AS h2
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM base)),
      c2 AS (SELECT h2, COUNT(*) AS c2 FROM big GROUP BY 1),
      c1 AS (SELECT h1, COUNT(*) AS c1 FROM big GROUP BY 1),
      vv AS (SELECT COUNT(*) AS v FROM (SELECT DISTINCT h1 FROM big)),
      p AS (SELECT doc_id,
                  CAST(ROUND((c2 + CAST(1.0 AS DOUBLE)) / (c1 + v), 6) AS DECIMAL(18,6)) AS s
            FROM big JOIN c2 USING (h2) JOIN c1 USING (h1), vv)
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS lm_score
      FROM p GROUP BY 1
    """.trim)
  )

  /** Duplicate-span detection (exact-substring dedup signal) — every
    * 16-token stride-1 window hashed to 60 bits, globally counted, per
    * doc the share of windows whose hash repeats anywhere in the
    * corpus. Dedup.dupSpans scaladoc has the scale story (8-byte keys
    * in every exchange, groupBy partitioning reused by the count-back
    * join). The oracle replays window slicing + the md5-prefix hash
    * construction verbatim. */
  val dupSpansQ: Q = Q(
    "x_dup_spans",
    (s, d) => Dedup.dupSpans(Tables.documents(s, d), w = 16),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
                    FROM documents
                    WHERE len(regexp_split_to_array(text, '\s+')) >= 16),
      keys AS (SELECT doc_id,
                    ('0x' || substr(md5(array_to_string(list_slice(toks, j + 1, j + 16), ' ')), 1, 15))::BIGINT AS k
               FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 16 + 1)) AS j FROM base)),
      cnt AS (SELECT k, COUNT(*) AS c FROM keys GROUP BY 1),
      dup AS (SELECT k, 1 AS _dup FROM cnt WHERE c >= 2)
      SELECT doc_id, COUNT(*) AS n_windows, COUNT(_dup) AS n_dup,
             ROUND(CAST(COUNT(_dup) AS DOUBLE) / COUNT(*), 6) AS dup_ratio
      FROM keys LEFT JOIN dup USING (k)
      GROUP BY 1 HAVING COUNT(_dup) >= 1
    """.trim)
  )

  /** Top duplicated substring families (Dedup.dupSpanFamilies
    * scaladoc: maximal consecutive runs of corpus-duplicated stride-1
    * windows, family-keyed by md5 of the ordered window-hash
    * sequence, doc-partitioned islands window, top-k under a total
    * order). The oracle replays the window hashing, the j−ROW_NUMBER
    * islands, the comma-joined decimal hash digest, and the ranking. */
  val dupSpanFamiliesQ: Q = Q(
    "x_dup_span_families",
    (s, d) => Dedup.dupSpanFamilies(Tables.documents(s, d), w = 16, topK = 20),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
                    FROM documents
                    WHERE len(regexp_split_to_array(text, '\s+')) >= 16),
      wins AS (SELECT doc_id, j,
                    ('0x' || substr(md5(array_to_string(list_slice(toks, j + 1, j + 16), ' ')), 1, 15))::BIGINT AS k
               FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 16 + 1)) AS j FROM base)),
      cnt AS (SELECT k FROM (SELECT k, COUNT(*) AS c FROM wins GROUP BY 1) WHERE c >= 2),
      dupw AS (SELECT doc_id, j, k FROM wins SEMI JOIN cnt USING (k)),
      runs AS (SELECT doc_id, j, k,
                      j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j) AS run
               FROM dupw),
      spans AS (SELECT doc_id,
                       md5(array_to_string(list(k::VARCHAR ORDER BY j), ',')) AS family_fp,
                       CAST(COUNT(*) + 15 AS BIGINT) AS span_tokens
                FROM runs GROUP BY doc_id, run)
      SELECT family_fp, span_tokens,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             MIN(doc_id) AS example_doc
      FROM spans GROUP BY 1, 2
      ORDER BY n_docs DESC, span_tokens DESC, family_fp LIMIT 20
    """.trim)
  )

  /** BM25 sparse retrieval — top-10 documents for a fixed query-term
    * set over the corpus (Corpus.bm25TopDocs scaladoc has the scale
    * story: one token explode filtered to the query terms at the scan,
    * tiny broadcast df/avgdl stats, TakeOrderedAndProject top-k). The
    * oracle replays the exact log-free rational-idf arithmetic; every
    * fractional literal is cast to DOUBLE because DuckDB otherwise
    * parses them as DECIMAL and the promotion order would change the
    * last-ulp story. */
  val bm25: Q = Q(
    "x_bm25",
    (s, d) => graft.corpus.Corpus.bm25TopDocs(
      Tables.documents(s, d), Seq("spark", "merge", "vector"), k = 10),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
                           len(regexp_split_to_array(text, '\s+')) AS dl
                    FROM documents),
      stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM base),
      tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
             WHERE tok IN ('spark', 'merge', 'vector') GROUP BY 1, 2, 3),
      dfx AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      scored AS (SELECT doc_id,
        CAST(ROUND(
          ((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
            (tf * CAST(2.2 AS DOUBLE)) /
            (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
               + CAST(0.75 AS DOUBLE) * dl / avgdl)),
          6) AS DECIMAL(18,6)) AS s
        FROM tf JOIN dfx USING (tok), stats),
      agg AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM scored GROUP BY 1)
      SELECT doc_id, score, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM agg ORDER BY score DESC, doc_id LIMIT 10
    """.trim)
  )

  /** Batch kNN join — top-5 cosine neighbors for EVERY query in an
    * eval-style query set, exact brute force with the two-stage
    * distributed top-k (see Similarity.knnJoin). The query set is a
    * FIXED 40 ids (vec_id < 40), deliberately not corpus-proportional:
    * an eval/probe set stays constant as the corpus grows, so the
    * brute-force cost is eval_size x corpus — linear at 100 TB (a
    * %-of-corpus query set would make this quadratic by construction;
    * the sf1 scale run measured exactly that, 26x for 10x rows). The
    * oracle replays the per-query rank directly; the two-stage Spark
    * plan is provably equal to the single global rank. */
  val knnJoinBatch: Q = Q(
    "x_knn_join",
    (s, d) => {
      val emb = coEmbeddings(s, d)
      val queries = emb.filter(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.knnJoin(emb, queries, k = 5)
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 40),
      sc AS (SELECT qid, vec_id,
                    list_dot_product(v, qv) /
                      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
             FROM e, q WHERE vec_id <> qid)
      SELECT qid, vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT qid, vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
            FROM sc) t
      WHERE rn <= 5
    """.trim)
  )

  /** LSH-bucketed batch kNN join: each query probes only its sign-bit
    * hyperplane bucket (identical literal planes in both engines, as
    * x_ann_lsh), then the same per-query top-k. */
  val knnJoinLshBatch: Q = {
    val planeSql = Similarity.hyperplanes(dim = 64, nBits = 6).zipWithIndex
      .map { case (p, b) =>
        s"(CASE WHEN list_dot_product(v, ${p.mkString("[", ", ", "]")}::DOUBLE[]) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
    Q(
      "x_knn_join_lsh",
      (s, d) => {
        val emb = coEmbeddings(s, d)
        val queries = emb.filter(col("vec_id") < 40)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        Similarity.knnJoinLsh(emb, queries, dim = 64, k = 5, nBits = 6)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, $planeSql AS bucket FROM e),
        q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 40),
        sc AS (SELECT qid, vec_id,
                      list_dot_product(v, qv) /
                        (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
               FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid)
        SELECT qid, vec_id, ROUND(c, 6) AS cos_sim, rn
        FROM (SELECT qid, vec_id, c,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
              FROM sc) t
        WHERE rn <= 5
      """.trim)
    )
  }

  /** Canonical representative per duplicate cluster: minhash pairs →
    * connected components → keep the longest (UTF-8 bytes) member,
    * smallest id on ties; singletons keep themselves. The oracle
    * recomputes the clusters via the independent recursive-CTE closure
    * (as x_dedup_clusters) and the winner via a rank — checking the
    * whole pairs→clusters→keep decision chain, against a different
    * clustering algorithm AND a different argmax mechanism (Spark side
    * is a map-side-combinable max-struct aggregation, no window). */
  val clusterReps: Q = Q(
    "x_cluster_reps",
    (s, d) => Dedup.clusterRepresentatives(Tables.documents(s, d),
      coNdClusters(s, d)),
    Some("""
      WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      ab AS (SELECT doc_id, shl, list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs),
      bc AS (SELECT b, s FROM bands GROUP BY b, s HAVING COUNT(*) BETWEEN 2 AND 64),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
               FROM bc JOIN bands x ON x.b = bc.b AND x.s = bc.s
                       JOIN bands y ON y.b = bc.b AND y.s = bc.s
                                   AND x.doc_id < y.doc_id),
      pairs AS (SELECT id1, id2
                FROM (SELECT id1, id2,
                             len(list_intersect(x.shl, y.shl)) AS nc,
                             len(x.shl) AS n1, len(y.shl) AS n2
                      FROM cand
                      JOIN sh0 x ON id1 = x.doc_id
                      JOIN sh0 y ON id2 = y.doc_id) t
                WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5),
      edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
      reach(a, b) AS (SELECT a, b FROM edges
                      UNION
                      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labs AS (SELECT LEAST(a, MIN(b)) AS cluster_id, a AS doc_id FROM reach GROUP BY a),
      mem AS (SELECT COALESCE(l.cluster_id, dd.doc_id) AS cluster_id, dd.doc_id,
                     CAST(strlen(dd.text) AS BIGINT) AS score
              FROM documents dd LEFT JOIN labs l ON dd.doc_id = l.doc_id)
      SELECT cluster_id, keep_id, keep_score, n_members
      FROM (SELECT cluster_id, doc_id AS keep_id, score AS keep_score,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY score DESC, doc_id) AS rn
            FROM mem) t
      WHERE rn = 1
    """.trim)
  )

  /** The end of the dedup pipeline: the corpus AFTER near-dup removal —
    * pairs -> clusters -> representatives -> left-semi keep. Emits the
    * surviving (doc_id, n_bytes); the oracle recomputes the whole chain
    * independently (recursive-CTE clustering + window argmax) and keeps
    * docs whose id is a keeper. */
  val dedupApply: Q = Q(
    "x_dedup_apply",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.applyDedup(docs,
        Dedup.clusterRepresentatives(docs, coNdClusters(s, d)))
        .select(col("doc_id"), octet_length(col("text")).cast("bigint").as("n_bytes"))
    },
    Some("""
      WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      ab AS (SELECT doc_id, shl, list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs),
      bc AS (SELECT b, s FROM bands GROUP BY b, s HAVING COUNT(*) BETWEEN 2 AND 64),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
               FROM bc JOIN bands x ON x.b = bc.b AND x.s = bc.s
                       JOIN bands y ON y.b = bc.b AND y.s = bc.s
                                   AND x.doc_id < y.doc_id),
      pairs AS (SELECT id1, id2
                FROM (SELECT id1, id2,
                             len(list_intersect(x.shl, y.shl)) AS nc,
                             len(x.shl) AS n1, len(y.shl) AS n2
                      FROM cand
                      JOIN sh0 x ON id1 = x.doc_id
                      JOIN sh0 y ON id2 = y.doc_id) t
                WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5),
      edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
      reach(a, b) AS (SELECT a, b FROM edges
                      UNION
                      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      labs AS (SELECT LEAST(a, MIN(b)) AS cluster_id, a AS doc_id FROM reach GROUP BY a),
      mem AS (SELECT COALESCE(l.cluster_id, dd.doc_id) AS cluster_id, dd.doc_id,
                     CAST(strlen(dd.text) AS BIGINT) AS score
              FROM documents dd LEFT JOIN labs l ON dd.doc_id = l.doc_id),
      keep AS (SELECT keep_id FROM (
                 SELECT doc_id AS keep_id,
                        ROW_NUMBER() OVER (PARTITION BY cluster_id
                                           ORDER BY score DESC, doc_id) AS rn
                 FROM mem) t WHERE rn = 1)
      SELECT d2.doc_id, CAST(strlen(d2.text) AS BIGINT) AS n_bytes
      FROM documents d2 WHERE d2.doc_id IN (SELECT keep_id FROM keep)
    """.trim)
  )

  /** Token-window chunking into overlapping training windows (64-token
    * chunks, stride 48); every doc yields ≥ 1 chunk and the last chunk
    * reaches the final token. Entirely narrow (see Corpus.chunkTokens);
    * the oracle replays the integer chunk-count arithmetic and 1-based
    * slices exactly. */
  val textChunks: Q = Q(
    "x_text_chunks",
    (s, d) => graft.corpus.Corpus.chunkTokens(Tables.documents(s, d),
      chunkSize = 64, stride = 48),
    Some("""
      WITH w0 AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      c AS (SELECT doc_id, w,
                   CASE WHEN len(w) <= 64 THEN 1
                        ELSE CAST(floor((len(w) - 64 + 47) / 48.0) AS BIGINT) + 1 END AS nc
            FROM w0),
      ch AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS j FROM c)
      SELECT doc_id, CAST(j AS INT) AS chunk_idx,
             array_to_string(w[j*48+1 : j*48+64], ' ') AS chunk_text,
             CAST(len(w[j*48+1 : j*48+64]) AS INT) AS n_tokens
      FROM ch
    """.trim)
  )

  /** Sequence packing: the corpus concatenated in doc-id order and cut
    * into fixed 256-token training windows — one row per (doc, window)
    * overlap with the doc-relative token span. The Spark side computes
    * the global prefix sum with the two-phase range-partition pattern
    * (no single-task window); the oracle IS a single-task window (fine
    * for DuckDB), so matching hashes prove the distributed prefix
    * arithmetic is exact. */
  val seqPack: Q = Q(
    "x_seq_pack",
    (s, d) => graft.corpus.Corpus.packSequences(Tables.documents(s, d), seqLen = 256),
    Some("""
      WITH t AS (SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS n FROM documents),
      c AS (SELECT doc_id, n,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gstart
            FROM t),
      s AS (SELECT doc_id, n, gstart,
                   unnest(generate_series(gstart // 256, (gstart + n - 1) // 256)) AS seq_id
            FROM c WHERE n > 0)
      SELECT doc_id, seq_id,
             CAST(GREATEST(seq_id * 256 - gstart, 0) AS INT) AS tok_start,
             CAST(LEAST((seq_id + 1) * 256 - gstart, n)
                  - GREATEST(seq_id * 256 - gstart, 0) AS INT) AS tok_len
      FROM s
    """.trim)
  )

  /** Packing fragmentation report over the x_seq_pack manifest: how
    * many documents the concat-packer SPLIT across sequence boundaries
    * (the rows whose attention a boundary contaminates), pieces per
    * sequence, and the split fraction — the readout that decides
    * between stream packing and pad-to-length for a training run. The
    * manifest is checkpointed once; both rollups are manifest-sized
    * aggregations (never re-running the packing walk), shares are one
    * divide of exact counts. */
  val packStatsQ: Q = Q(
    "x_pack_stats",
    (s, d) => {
      val m = GraftPins.cut(graft.corpus.Corpus
        .packSequences(Tables.documents(s, d), seqLen = 256))
      val perDoc = m.groupBy(col("doc_id")).agg(count(lit(1)).as("pieces"))
      val a = perDoc.agg(count(lit(1)).as("n_docs"),
        sum(col("pieces")).cast("bigint").as("n_pieces"),
        sum(when(col("pieces") > 1, 1L).otherwise(0L)).cast("bigint").as("docs_split"))
      val b = m.select(col("seq_id")).distinct().agg(count(lit(1)).as("n_seqs"))
      a.crossJoin(b).select(
        col("n_docs"), col("n_seqs"), col("n_pieces"), col("docs_split"),
        round(col("docs_split").cast("double") / col("n_docs"), 6).as("split_frac"),
        round(col("n_pieces").cast("double") / col("n_seqs"), 6).as("docs_per_seq"))
    },
    Some("""
      WITH t AS (SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS n FROM documents),
      c AS (SELECT doc_id, n,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gstart
            FROM t),
      s AS (SELECT doc_id, n, gstart,
                   unnest(generate_series(gstart // 256, (gstart + n - 1) // 256)) AS seq_id
            FROM c WHERE n > 0),
      pd AS (SELECT doc_id, COUNT(*) AS pieces FROM s GROUP BY 1),
      a AS (SELECT COUNT(*) AS n_docs, CAST(SUM(pieces) AS BIGINT) AS n_pieces,
                   CAST(SUM(CASE WHEN pieces > 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_split
            FROM pd),
      b AS (SELECT COUNT(DISTINCT seq_id) AS n_seqs FROM s)
      SELECT n_docs, n_seqs, n_pieces, docs_split,
             ROUND(CAST(docs_split AS DOUBLE) / n_docs, 6) AS split_frac,
             ROUND(CAST(n_pieces AS DOUBLE) / n_seqs, 6) AS docs_per_seq
      FROM a, b
    """.trim)
  )

  /** The materialized pack: actual 256-token training sequences, each
    * window's doc pieces sliced and concatenated in doc order. Oracle
    * replays span arithmetic + list slicing + ordered string_agg. */
  val seqMaterialize: Q = Q(
    "x_seq_materialize",
    (s, d) => graft.corpus.Corpus.materializeSequences(Tables.documents(s, d), seqLen = 256),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w,
                        len(regexp_split_to_array(text, '\s+')) AS n FROM documents),
      c AS (SELECT doc_id, w, n,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gstart
            FROM t),
      s AS (SELECT doc_id, w, n, gstart,
                   unnest(generate_series(gstart // 256, (gstart + n - 1) // 256)) AS seq_id
            FROM c WHERE n > 0),
      pieces AS (SELECT seq_id, doc_id,
                        CAST(GREATEST(seq_id * 256 - gstart, 0) AS BIGINT) AS tok_start,
                        CAST(LEAST((seq_id + 1) * 256 - gstart, n)
                             - GREATEST(seq_id * 256 - gstart, 0) AS BIGINT) AS tok_len,
                        w FROM s)
      SELECT seq_id, COUNT(*) AS n_docs,
             CAST(SUM(tok_len) AS BIGINT) AS n_tokens,
             string_agg(array_to_string(w[tok_start+1 : tok_start+tok_len], ' '), ' '
                        ORDER BY doc_id) AS seq_text
      FROM pieces GROUP BY seq_id
    """.trim)
  )

  /** DSIR-style importance weighting (Corpus.dsirScore scaladoc has the
    * method + scale story). Target corpus = the src0 documents (a stand
    * -in for a curated seed set); raw = the whole table. The oracle
    * replays hashed buckets, Laplace smoothing, and the mean
    * likelihood ratio with identical arithmetic order. */
  val dsirWeights: Q = Q(
    "x_dsir_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.corpus.Corpus.dsirScore(docs, docs.filter(col("source") === "src0"))
    },
    Some("""
      WITH rb AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS b
                  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                        FROM documents)),
      tb AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS b
             FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
                   FROM documents WHERE source = 'src0')),
      cr AS (SELECT b, COUNT(*) AS cr FROM rb GROUP BY 1),
      ct AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY 1),
      nr AS (SELECT COUNT(*) AS nr FROM rb),
      nt AS (SELECT COUNT(*) AS nt FROM tb),
      r AS (SELECT cr.b,
                   CAST(ROUND(((COALESCE(ct.ct, 0) + CAST(1.0 AS DOUBLE)) / (nt + 512)) *
                              ((nr + 512) / (cr.cr + CAST(1.0 AS DOUBLE))), 6)
                        AS DECIMAL(18,6)) AS s
            FROM cr LEFT JOIN ct USING (b), nr, nt)
      SELECT doc_id, COUNT(*) AS n_toks,
             ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS dsir_score
      FROM rb JOIN r USING (b) GROUP BY 1
    """.trim)
  )

  /** kNN majority-vote labeling over the fixed 40-query eval set
    * (Similarity.knnClassify scaladoc). The oracle recomputes the
    * exact neighbor ranks and the vote argmax via a window — a
    * different argmax mechanism than the Spark side's max-struct. */
  val knnLabel: Q = Q(
    "x_knn_label",
    (s, d) => {
      val emb = coEmbeddings(s, d)
      val queries = emb.filter(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.knnClassify(emb, queries, k = 5)
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 40),
      sc AS (SELECT qid, vec_id,
                    list_dot_product(v, qv) /
                      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
             FROM e, q WHERE vec_id <> qid),
      nn AS (SELECT qid, vec_id
             FROM (SELECT qid, vec_id,
                          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
                   FROM sc) t
             WHERE rn <= 5),
      v2 AS (SELECT qid, label, COUNT(*) AS votes
             FROM nn JOIN e USING (vec_id) GROUP BY 1, 2)
      SELECT qid, label AS pred_label, votes
      FROM (SELECT qid, label, votes,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY votes DESC, label) AS rn
            FROM v2) t
      WHERE rn = 1
    """.trim)
  )

  /** Exact-substring dedup APPLICATION (Dedup.removeDupSpans scaladoc
    * has the ownership rule + scale story). The oracle reconstructs
    * every cleaned token stream independently (correlated NOT EXISTS
    * over the removed-window set vs the Spark side's array filter) and
    * must land on the same md5 digest per doc. */
  val dupSpansApply: Q = Q(
    "x_dup_spans_apply",
    (s, d) => Dedup.removeDupSpans(Tables.documents(s, d), w = 16),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      wins AS (SELECT doc_id, j,
                      ('0x' || substr(md5(array_to_string(list_slice(toks, j + 1, j + 16), ' ')), 1, 15))::BIGINT AS k
               FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 16 + 1)) AS j
                     FROM base WHERE len(toks) >= 16)),
      own AS (SELECT k, MIN(doc_id) AS owner FROM wins GROUP BY 1 HAVING COUNT(*) >= 2),
      rem AS (SELECT DISTINCT doc_id, j FROM wins JOIN own USING (k) WHERE doc_id <> owner),
      tok AS (SELECT doc_id, i, toks[i + 1] AS t
              FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM base)),
      keep AS (SELECT t.doc_id, t.i, t.t FROM tok t
               WHERE NOT EXISTS (SELECT 1 FROM rem r
                                 WHERE r.doc_id = t.doc_id
                                   AND r.j <= t.i AND r.j >= t.i - 15))
      SELECT b.doc_id, len(b.toks) AS n_toks, COUNT(k.i) AS n_kept,
             md5(COALESCE(string_agg(k.t, ' ' ORDER BY k.i), '')) AS clean_fp
      FROM base b LEFT JOIN keep k USING (doc_id)
      GROUP BY b.doc_id, len(b.toks)
    """.trim)
  )

  /** Hybrid sparse+dense retrieval fused by reciprocal rank
    * (Corpus.hybridRrf scaladoc): BM25 top-20 for the fixed term set ∪
    * exact-cosine top-20 around vec 0, fused 1/(60+rank) scores, top
    * 10. The oracle replays both rankers and the fusion. */
  val hybridRrfQ: Q = Q(
    "x_hybrid_rrf",
    (s, d) => graft.corpus.Corpus.hybridRrf(
      Tables.documents(s, d), coEmbeddings(s, d),
      Seq("spark", "merge", "vector"), queryVecId = 0L, k = 10, kCand = 20),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
                           len(regexp_split_to_array(text, '\s+')) AS dl
                    FROM documents),
      stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM base),
      tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
             WHERE tok IN ('spark', 'merge', 'vector') GROUP BY 1, 2, 3),
      dfx AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      scored AS (SELECT doc_id,
        CAST(ROUND(
          ((CAST(n AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))) *
            (tf * CAST(2.2 AS DOUBLE)) /
            (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
               + CAST(0.75 AS DOUBLE) * dl / avgdl)),
          6) AS DECIMAL(18,6)) AS s
        FROM tf JOIN dfx USING (tok), stats),
      agg AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM scored GROUP BY 1),
      bm AS (SELECT doc_id, brn
             FROM (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS brn
                   FROM agg) t
             WHERE brn <= 20),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      sc2 AS (SELECT vec_id,
                     list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
              FROM e, q WHERE vec_id <> 0),
      vn AS (SELECT vec_id AS doc_id, vrn
             FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS vrn
                   FROM sc2) t
             WHERE vrn <= 20),
      f AS (SELECT doc_id,
                   CAST(COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) / (60 + brn), 6) AS DECIMAL(18,6)), 0) +
                        COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) / (60 + vrn), 6) AS DECIMAL(18,6)), 0)
                        AS DOUBLE) AS rrf_score
            FROM bm FULL JOIN vn USING (doc_id))
      SELECT doc_id, rrf_score,
             ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rn
      FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10
    """.trim)
  )

  /** Winnowing fingerprint selection (Dedup.winnowFingerprints
    * scaladoc: MOSS's window-minimum k-gram selection). The oracle
    * replays gram hashing and per-window minima with identical
    * boundary clipping. */
  val winnowingQ: Q = Q(
    "x_winnowing",
    (s, d) => Dedup.winnowFingerprints(Tables.documents(s, d), k = 4, w = 4),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      g AS (SELECT doc_id,
                   list_transform(generate_series(1, greatest(len(toks) - 3, 1)), i ->
                     ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 15))::BIGINT) AS grams
            FROM base),
      m AS (SELECT doc_id,
                   list_distinct(list_transform(
                     generate_series(1, greatest(len(grams) - 3, 1)), j ->
                       list_min(grams[j:j+3]))) AS fps
            FROM g)
      SELECT doc_id, unnest(fps) AS fp FROM m
    """.trim)
  )

  /** Deterministic weighted priority sample (Corpus.prioritySample
    * scaladoc): q = weight / salted-uniform-draw, top 50. The oracle
    * replays the draw scaling and both divisions in order. */
  val prioritySampleQ: Q = Q(
    "x_priority_sample",
    (s, d) => graft.corpus.Corpus.prioritySample(Tables.documents(s, d), k = 50),
    Some("""
      WITH p AS (SELECT doc_id, n_chars,
                        CAST(n_chars AS DOUBLE) /
                          ((('0x' || substr(md5('prio:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)::DOUBLE
                           / 1152921504606846976.0) AS q
                 FROM documents)
      SELECT doc_id, n_chars, ROUND(q, 6) AS priority,
             ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rn
      FROM p ORDER BY q DESC, doc_id LIMIT 50
    """.trim)
  )

  /** Tokenizer-vocabulary coverage table (Corpus.vocabCoverage
    * scaladoc): top-V tokens by count with cumulative corpus coverage.
    * The oracle replays the rank, tie order, and running sum. */
  val vocabCoverageQ: Q = Q(
    "x_vocab_coverage",
    (s, d) => graft.corpus.Corpus.vocabCoverage(Tables.documents(s, d), vocabSize = 2000),
    Some("""
      WITH t AS (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents),
      c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1),
      tot AS (SELECT SUM(cnt) AS total FROM c),
      top AS (SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
              FROM c ORDER BY cnt DESC, tok LIMIT 2000)
      SELECT rank, tok, cnt,
             ROUND(CAST(SUM(cnt) OVER (ORDER BY rank) AS DOUBLE) / total, 6) AS coverage
      FROM top, tot
    """.trim)
  )

  /** Content-defined chunk fingerprints (Corpus.cdcChunks scaladoc):
    * hash-boundary chunking, shift-robust by construction. The oracle
    * replays boundary flags, the running-sum chunk ids, and every
    * chunk digest. */
  val cdcChunksQ: Q = Q(
    "x_cdc_chunks",
    (s, d) => graft.corpus.Corpus.cdcChunks(Tables.documents(s, d), avgChunk = 16),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      tok AS (SELECT doc_id, i, toks[i + 1] AS t
              FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM base)),
      f AS (SELECT doc_id, i, t,
                   CASE WHEN ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = 0 THEN 1 ELSE 0 END AS b
            FROM tok),
      c AS (SELECT doc_id, i, t,
                   CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY i) - b AS BIGINT) AS chunk_idx
            FROM f)
      SELECT doc_id, chunk_idx, COUNT(*) AS n_toks,
             md5(string_agg(t, ' ' ORDER BY i)) AS chunk_fp
      FROM c GROUP BY doc_id, chunk_idx
    """.trim)
  )

  /** Chunk-level dedup savings per source (Corpus.cdcDedupStats
    * scaladoc). The oracle recomputes the canonical choice with a
    * window rank instead of the Spark side's min-struct aggregate —
    * two independent argmin mechanisms must agree on every ratio. */
  val cdcDedupStatsQ: Q = Q(
    "x_cdc_dedup_ratio",
    (s, d) => graft.corpus.Corpus.cdcDedupStats(Tables.documents(s, d), avgChunk = 16),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      tok AS (SELECT doc_id, i, toks[i + 1] AS t
              FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM base)),
      f AS (SELECT doc_id, i, t,
                   CASE WHEN ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = 0 THEN 1 ELSE 0 END AS b
            FROM tok),
      c AS (SELECT doc_id, i, t,
                   CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY i) - b AS BIGINT) AS chunk_idx
            FROM f),
      ch AS (SELECT doc_id, chunk_idx, COUNT(*) AS n_toks,
                    md5(string_agg(t, ' ' ORDER BY i)) AS fp
             FROM c GROUP BY 1, 2),
      mk AS (SELECT doc_id, chunk_idx, n_toks,
                    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn
             FROM ch)
      SELECT source, COUNT(*) AS n_chunks,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN rn > 1 THEN n_toks ELSE 0 END) AS BIGINT) AS dup_tokens,
             ROUND(CAST(SUM(CASE WHEN rn > 1 THEN n_toks ELSE 0 END) AS DOUBLE)
                   / SUM(n_toks), 6) AS dedup_ratio
      FROM mk JOIN documents USING (doc_id) GROUP BY 1
    """.trim)
  )

  /** CCNet head/middle/tail perplexity buckets (Corpus.pplBuckets
    * scaladoc: exact distributed NTILE — range shuffle + per-partition
    * rank + broadcast offsets, never a global window). The oracle IS
    * DuckDB's NTILE over the same score/tie order. */
  val pplBucketsQ: Q = Q(
    "x_ppl_buckets",
    (s, d) => graft.corpus.Corpus.pplBuckets(Tables.documents(s, d), nBuckets = 3),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
                    FROM documents
                    WHERE len(regexp_split_to_array(text, '\s+')) >= 2),
      big AS (SELECT doc_id,
                   ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT AS h1,
                   ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT AS h2
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM base)),
      c2 AS (SELECT h2, COUNT(*) AS c2 FROM big GROUP BY 1),
      c1 AS (SELECT h1, COUNT(*) AS c1 FROM big GROUP BY 1),
      vv AS (SELECT COUNT(*) AS v FROM (SELECT DISTINCT h1 FROM big)),
      p AS (SELECT doc_id,
                  CAST(ROUND((c2 + CAST(1.0 AS DOUBLE)) / (c1 + v), 6) AS DECIMAL(18,6)) AS s
            FROM big JOIN c2 USING (h2) JOIN c1 USING (h1), vv),
      sc AS (SELECT doc_id,
                    ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS lm_score
             FROM p GROUP BY 1)
      SELECT doc_id, lm_score,
             CAST(NTILE(3) OVER (ORDER BY lm_score, doc_id) AS BIGINT) AS ppl_bucket
      FROM sc
    """.trim)
  )

  /** Data-constrained epoch allocation (Corpus.mixEpochs scaladoc):
    * sqrt-temperature budget shares converted to capped repeat
    * factors. Budget 1M tokens, cap 4 epochs. */
  val mixEpochsQ: Q = Q(
    "x_mix_epochs",
    (s, d) => graft.corpus.Corpus.mixEpochs(Tables.documents(s, d),
      budgetTokens = 1000000L, maxEpochs = 4.0),
    Some("""
      WITH c AS (SELECT source,
                        CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1),
      s AS (SELECT source, n_tokens,
                   CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS sq
            FROM c),
      z AS (SELECT SUM(sq) AS z FROM s)
      SELECT source, n_tokens,
             ROUND(CAST(sq AS DOUBLE) / CAST(z AS DOUBLE), 6) AS share,
             ROUND(LEAST(4.0,
               ROUND(CAST(sq AS DOUBLE) / CAST(z AS DOUBLE), 6) * 1000000.0 / n_tokens),
               6) AS epochs
      FROM s, z
    """.trim)
  )

  /** Personalized PageRank under the oracle: 3 iterations on the same
    * purchase graph as x_pagerank, personalized to the customer nodes
    * with custkey % 10 = 0 (node id % 20 = 0) — teleport, dangling
    * redistribution, AND the initial mass all flow to the seed set
    * only, in the same 1e-12-unit integer arithmetic. The oracle
    * unrolls all three iterations with the seed-gated CASE branches,
    * so the biased ranking is pinned exactly, not just "seed-heavy". */
  val pprQ: Q = {
    val tel = "(1000000000000 - (1000000000000 * 85) // 100) // (SELECT ns FROM sn)"
    def iter(k: Int): String = {
      val prev = s"r${k - 1}"
      s"""s$k AS (SELECT e.dst AS node, CAST(SUM(r.rank_u // d.deg) AS BIGINT) AS s
             FROM $prev r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
             GROUP BY e.dst),
      dm$k AS (SELECT CAST(COALESCE(SUM(r.rank_u), 0) AS BIGINT) AS dm
              FROM $prev r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL),
      r$k AS (SELECT nodes.node,
               (CASE WHEN sd.node IS NOT NULL THEN $tel ELSE 0 END)
               + ((COALESCE(s$k.s, 0)
                   + (CASE WHEN sd.node IS NOT NULL
                      THEN (SELECT dm FROM dm$k) // (SELECT ns FROM sn)
                      ELSE 0 END)) * 85) // 100 AS rank_u
             FROM nodes LEFT JOIN s$k ON nodes.node = s$k.node
                        LEFT JOIN seeds sd ON nodes.node = sd.node)"""
    }
    Q(
      "x_ppr",
      (s, d) => {
        // the graph rides the shared prepared purchase-graph face;
        // seeds from the cheap orders scan, NOT from the edge
        // expression (which would replay the orders x lineitem join
        // just to enumerate seed ids)
        val seeds = Tables.orders(s, d)
          .select((col("o_custkey") * 2).as("node"))
          .filter(col("node") % 20 === 0).distinct()
        PageRankOp.personalizedPageRank(coPurchaseGraph(s, d), seeds, iters = 3)
      },
      Some(s"""
      WITH e AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t),
      seeds AS (SELECT DISTINCT o_custkey * 2 AS node FROM orders
                WHERE (o_custkey * 2) % 20 = 0),
      sn AS (SELECT COUNT(*) AS ns FROM seeds),
      deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT nodes.node,
               CASE WHEN sd.node IS NOT NULL
                    THEN 1000000000000 // (SELECT ns FROM sn) ELSE 0 END AS rank_u
             FROM nodes LEFT JOIN seeds sd ON nodes.node = sd.node),
      ${iter(1)},
      ${iter(2)},
      ${iter(3)}
      SELECT node, rank_u FROM r3
    """.trim)
    )
  }

  /** Per-doc BPE encode under the oracle (Corpus.bpeEncodeStats): the
    * corpus encoded with the 3 learned merges — token count vs
    * post-merge symbol count per doc. The oracle replays the full
    * training loop (as x_bpe_merges), then the doc-level encode: the
    * concatenated per-token double-space strings leave three spaces at
    * token boundaries, so the two-space merge pattern can't cross them
    * — in both engines, by the same string. */
  val bpeEncodeQ: Q = Q(
    "x_bpe_encode",
    (s, d) => graft.corpus.Corpus.bpeEncodeStats(Tables.documents(s, d), nMerges = 3),
    Some("""
      WITH toks AS (
        SELECT ' ' || regexp_replace(token, '(.)', '\1  ', 'g') AS sp,
               COUNT(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
              FROM documents) t
        WHERE length(token) >= 1
        GROUP BY token),
      p1 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM toks) x) y
        GROUP BY 1, 2),
      b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
      t1 AS (SELECT replace(sp,
               ' ' || (SELECT a FROM b1) || '  ' || (SELECT b FROM b1) || ' ',
               ' ' || (SELECT a FROM b1) || (SELECT b FROM b1) || ' ') AS sp,
               n FROM toks),
      p2 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM t1) x) y
        GROUP BY 1, 2),
      b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
      t2 AS (SELECT replace(sp,
               ' ' || (SELECT a FROM b2) || '  ' || (SELECT b FROM b2) || ' ',
               ' ' || (SELECT a FROM b2) || (SELECT b FROM b2) || ' ') AS sp,
               n FROM t1),
      p3 AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM t2) x) y
        GROUP BY 1, 2),
      b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
      enc AS (SELECT doc_id,
               len(regexp_split_to_array(text, '\s+')) AS n_tokens,
               array_to_string(list_transform(
                 regexp_split_to_array(text, '\s+'),
                 t -> ' ' || regexp_replace(t, '(.)', '\1  ', 'g')), '') AS sp
              FROM documents),
      e1 AS (SELECT doc_id, n_tokens, replace(sp,
               ' ' || (SELECT a FROM b1) || '  ' || (SELECT b FROM b1) || ' ',
               ' ' || (SELECT a FROM b1) || (SELECT b FROM b1) || ' ') AS sp FROM enc),
      e2 AS (SELECT doc_id, n_tokens, replace(sp,
               ' ' || (SELECT a FROM b2) || '  ' || (SELECT b FROM b2) || ' ',
               ' ' || (SELECT a FROM b2) || (SELECT b FROM b2) || ' ') AS sp FROM e1),
      e3 AS (SELECT doc_id, n_tokens, replace(sp,
               ' ' || (SELECT a FROM b3) || '  ' || (SELECT b FROM b3) || ' ',
               ' ' || (SELECT a FROM b3) || (SELECT b FROM b3) || ' ') AS sp FROM e2)
      SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             CAST(len(regexp_split_to_array(trim(sp), '\s+')) AS INT) AS n_symbols
      FROM e3
    """.trim)
  )

  /** Hard-negative mining under the oracle (Similarity.hardNegatives
    * scaladoc has the recipe + scale shape): the fixed 40-query eval
    * set, top-10 by cosine INSIDE the [0.2, 0.9) band — informative
    * negatives below the near-dup ceiling. The oracle is x_knn_join's
    * exact replay with the band predicate pushed into the rank input,
    * on the UNROUNDED score (identical left-fold doubles in both
    * engines), so band boundary, ranks, and ties are all hash-pinned. */
  val hardNegativesQ: Q = Q(
    "x_hard_negatives",
    (s, d) => {
      val emb = coEmbeddings(s, d)
      val queries = emb.filter(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.hardNegatives(emb, queries, k = 10, loCos = 0.2, hiCos = 0.9)
    },
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 40),
      sc AS (SELECT qid, vec_id,
                    list_dot_product(v, qv) /
                      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
             FROM e, q WHERE vec_id <> qid)
      SELECT qid, vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT qid, vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
            FROM sc WHERE c >= 0.2 AND c < 0.9) t
      WHERE rn <= 10
    """.trim)
  )

  /** N-gram novelty under the oracle (Corpus.ngramNovelty scaladoc):
    * per doc, the fraction of its distinct 4-token window hashes with
    * corpus doc-frequency 1. The oracle replays the winnowing-family
    * 60-bit md5 window hashes, the doc-distinct gram sets, the
    * doc-frequency counts, and the one exact-integer division. */
  val ngramNoveltyQ: Q = Q(
    "x_ngram_novelty",
    (s, d) => graft.corpus.Corpus.ngramNovelty(Tables.documents(s, d), w = 4),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      g AS (SELECT doc_id, list_distinct(list_transform(
              generate_series(1, greatest(len(toks) - 3, 1)), i ->
                ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 15))::BIGINT)) AS grams
            FROM base),
      x AS (SELECT doc_id, unnest(grams) AS gr FROM g),
      df AS (SELECT gr, CAST(COUNT(*) AS BIGINT) AS dfc FROM x GROUP BY gr)
      SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN df.dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             CAST(SUM(CASE WHEN df.dfc = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
      FROM x JOIN df ON x.gr = df.gr
      GROUP BY x.doc_id
    """.trim)
  )

  /** Interpolated Kneser-Ney bigram LM scoring (Corpus.knBigramScore
    * scaladoc has the smoothing math + scale story). The oracle replays
    * the md5-60 hash construction, both N1+ continuation dictionaries
    * off the same distinct-triple type table, and the exact
    * discount arithmetic with DOUBLE-cast literals. */
  val knLmQ: Q = Q(
    "x_lm_kn",
    (s, d) => graft.corpus.Corpus.knBigramScore(Tables.documents(s, d)),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
                    FROM documents
                    WHERE len(regexp_split_to_array(text, '\s+')) >= 2),
      big AS (SELECT doc_id,
                   ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT AS h1,
                   ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT AS h2,
                   ('0x' || substr(md5(toks[i+1]), 1, 15))::BIGINT AS hc
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM base)),
      c2 AS (SELECT h2, COUNT(*) AS c2 FROM big GROUP BY 1),
      c1 AS (SELECT h1, COUNT(*) AS c1 FROM big GROUP BY 1),
      ty AS (SELECT DISTINCT h1, h2, hc FROM big),
      np AS (SELECT h1, COUNT(*) AS np FROM ty GROUP BY 1),
      nc AS (SELECT hc, COUNT(*) AS nc FROM ty GROUP BY 1),
      tt AS (SELECT COUNT(*) AS t FROM ty),
      p AS (SELECT doc_id,
              CAST(ROUND(
                (greatest(c2 - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                 + (CAST(0.75 AS DOUBLE) * np) * (CAST(nc AS DOUBLE) / t)) / c1,
              6) AS DECIMAL(18,6)) AS s
            FROM big JOIN c2 USING (h2) JOIN c1 USING (h1)
                     JOIN np USING (h1) JOIN nc USING (hc), tt)
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS kn_score
      FROM p GROUP BY 1
    """.trim)
  )

  /** Triangle count + transitivity on the part co-occurrence graph
    * (parts sharing an order; ~120 avg degree at every SF — edges and
    * triangles grow linearly with the catalog). The ENGINE counts by
    * the degree-ordered compact-forward orientation (GraphOps
    * .triangleStats scaladoc: hub-proof O(√m) fan-out); the ORACLE is
    * the independent naive a<b<c three-way join — same exact counts
    * from a different algorithm, so the check pins semantics, not
    * arithmetic replay. */
  val trianglesQ: Q = Q(
    "x_triangles",
    (s, d) => GraphOps.triangleStats(coGraphFace(s, d)),
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      deg AS (SELECT node, COUNT(*) AS deg FROM
              (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) t GROUP BY 1),
      ns AS (SELECT COUNT(*) AS n_nodes,
                    CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
      es AS (SELECT COUNT(*) AS n_edges FROM e0),
      tr AS (SELECT COUNT(*) AS n_triangles
             FROM e0 x JOIN e0 y ON y.a = x.b JOIN e0 z ON z.a = x.a AND z.b = y.b)
      SELECT n_nodes, n_edges, n_wedges, n_triangles,
             CASE WHEN n_wedges = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE ROUND((CAST(3.0 AS DOUBLE) * n_triangles) / n_wedges, 6) END AS gcc
      FROM ns, es, tr
    """.trim)
  )

  /** Deterministic synchronous label propagation, 3 rounds, on the
    * part co-occurrence graph (GraphOps.labelPropagation scaladoc has
    * the tie-break + bounded-lineage story). The oracle unrolls all 3
    * rounds with ROW_NUMBER argmax windows — a different argmax
    * mechanism than the engine's max-struct, same deterministic
    * (count desc, label asc) semantics. */
  val labelPropQ: Q = Q(
    "x_label_prop",
    (s, d) => GraphOps.labelPropagation(coGraphFace(s, d), iters = 3),
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      sym AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
      l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
      it1 AS (SELECT node, label FROM (
               SELECT v AS node, label,
                      ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
               FROM (SELECT s.v, l.label, COUNT(*) AS c
                     FROM sym s JOIN l0 l ON s.u = l.node GROUP BY 1, 2)) WHERE rn = 1),
      it2 AS (SELECT node, label FROM (
               SELECT v AS node, label,
                      ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
               FROM (SELECT s.v, l.label, COUNT(*) AS c
                     FROM sym s JOIN it1 l ON s.u = l.node GROUP BY 1, 2)) WHERE rn = 1),
      it3 AS (SELECT node, label FROM (
               SELECT v AS node, label,
                      ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
               FROM (SELECT s.v, l.label, COUNT(*) AS c
                     FROM sym s JOIN it2 l ON s.u = l.node GROUP BY 1, 2)) WHERE rn = 1)
      SELECT node, label FROM it3
    """.trim)
  )

  /** One-row structural summary of the part co-occurrence graph with
    * Newman degree assortativity (GraphOps.graphStats scaladoc has the
    * sqrt-free identical-marginals form and the DECIMAL(38,0) overflow
    * guard; the oracle carries the same integer sums in HUGEINT). */
  val graphStatsQ: Q = Q(
    "x_graph_stats",
    (s, d) => GraphOps.graphStats(coGraphFace(s, d)),
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      deg AS (SELECT node, COUNT(*) AS deg FROM
              (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) t GROUP BY 1),
      da AS (SELECT COUNT(*) AS n_nodes, MIN(deg) AS min_deg, MAX(deg) AS max_deg,
                    CAST(SUM(deg) AS BIGINT) AS sum_deg,
                    CAST(SUM(deg * deg) AS BIGINT) AS sx,
                    CAST(SUM(deg * deg * deg) AS BIGINT) AS sxx FROM deg),
      pa AS (SELECT COUNT(*) AS n_edges, CAST(SUM(x.deg * y.deg) AS BIGINT) AS sab
             FROM e0 JOIN deg x ON e0.a = x.node JOIN deg y ON e0.b = y.node)
      SELECT n_nodes, n_edges, min_deg, max_deg,
             ROUND(CAST(sum_deg AS DOUBLE) / n_nodes, 6) AS avg_deg,
             CASE WHEN CAST(2 * n_edges AS HUGEINT) * CAST(sxx AS HUGEINT)
                       - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) = 0
                  THEN CAST(0.0 AS DOUBLE)
                  ELSE ROUND(
                    CAST(CAST(2 * n_edges AS HUGEINT) * CAST(2 * sab AS HUGEINT)
                         - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)
                    / CAST(CAST(2 * n_edges AS HUGEINT) * CAST(sxx AS HUGEINT)
                           - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE), 6)
             END AS assortativity
      FROM da, pa
    """.trim)
  )

  private[ops] def invIndexFor(s: org.apache.spark.sql.SparkSession, d: String): String =
    indexFace(s, d, "invindex_saved") { path =>
      graft.corpus.Corpus.saveInvertedIndex(Tables.documents(s, d), path)
    }

  /** Probe-only BM25 over the PERSISTED inverted index — identical
    * query/parameters/result as x_bm25 (shared scoring tail), so the
    * oracle is the same replay; what changes is WHERE the corpus cost
    * is paid: the tokenize/explode/count build runs once
    * (Corpus.saveInvertedIndex), each probe reads only the query
    * terms' pushdown-pruned postings. */
  val bm25IndexedQ: Q = Q(
    "x_bm25_indexed",
    (s, d) => graft.corpus.Corpus.bm25TopDocsIndexed(
      s, invIndexFor(s, d), Seq("spark", "merge", "vector"), k = 10),
    bm25.oracle
  )

  /** First-order event-type transition matrix over the event log
    * (EventAnalytics.transitions: one lag window on the single user_id
    * exchange, event-type² rollup). */
  val transitionsQ: Q = Q(
    "x_transitions",
    (s, d) => EventAnalytics.transitions(Tables.events(s, d)),
    Some("""
      WITH p AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
               event_type
        FROM events),
      c AS (SELECT prev_type, event_type, COUNT(*) AS n
            FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, event_type, n,
             ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS prob
      FROM c
    """.trim)
  )

  /** ANALYZE-style one-pass column profile of lineitem (Profile.profile
    * scaladoc: single multi-distinct aggregate statement — one Expand,
    * one pass — unpivoted to long format driver-side). */
  val profileQ: Q = Q(
    "x_profile",
    (s, d) => Profile.profile(Tables.lineitem(s, d),
      numericCols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"),
      otherCols = Seq("l_returnflag", "l_linestatus")),
    Some("""
      SELECT 'l_orderkey' AS col_name, COUNT(*) AS n,
             CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             COUNT(DISTINCT l_orderkey) AS n_distinct,
             CAST(MIN(l_orderkey) AS DOUBLE) AS min_v,
             CAST(MAX(l_orderkey) AS DOUBLE) AS max_v FROM lineitem
      UNION ALL
      SELECT 'l_partkey', COUNT(*),
             CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT l_partkey),
             CAST(MIN(l_partkey) AS DOUBLE), CAST(MAX(l_partkey) AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_quantity', COUNT(*),
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT l_quantity),
             CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', COUNT(*),
             CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT l_extendedprice),
             CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_returnflag', COUNT(*),
             CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT l_returnflag),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'l_linestatus', COUNT(*),
             CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             COUNT(DISTINCT l_linestatus),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM lineitem
    """.trim)
  )

  /** Pearson chi-squared independence test of returnflag × linestatus
    * (Profile.chi2 scaladoc: one contingency aggregation, window-sum
    * marginals, decimal-summed cell terms). */
  val chi2Q: Q = Q(
    "x_chi2",
    (s, d) => Profile.chi2(Tables.lineitem(s, d), "l_returnflag", "l_linestatus"),
    Some("""
      WITH obs AS (SELECT l_returnflag AS a, l_linestatus AS b, COUNT(*) AS o
                   FROM lineitem GROUP BY 1, 2),
      cells AS (SELECT a, b, COALESCE(o, 0) AS o
                FROM (SELECT DISTINCT l_returnflag AS a FROM lineitem) ax
                CROSS JOIN (SELECT DISTINCT l_linestatus AS b FROM lineitem) bx
                LEFT JOIN obs USING (a, b)),
      m AS (SELECT a, b, o,
                   SUM(o) OVER (PARTITION BY a) AS ra,
                   SUM(o) OVER (PARTITION BY b) AS cb,
                   SUM(o) OVER () AS nn FROM cells),
      t AS (SELECT a, b, CAST(ROUND(
              (o - CAST(ra * cb AS DOUBLE) / nn) * (o - CAST(ra * cb AS DOUBLE) / nn)
              / (CAST(ra * cb AS DOUBLE) / nn), 6) AS DECIMAL(18,6)) AS t FROM m)
      SELECT COUNT(*) AS n_cells,
             (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
             CAST(SUM(t) AS DOUBLE) AS chi2
      FROM t
    """.trim)
  )

  /** One-pass Pearson correlation matrix over the four lineitem
    * measures (Profile.corrMatrix scaladoc: exact DECIMAL(38,0) moment
    * sums from a single aggregate, IEEE-exact sqrt/divide tail). The
    * oracle replays the identical fixed-point closed form — DuckDB's
    * own corr() is a float stream aggregate and would flake. */
  val corrMatrixQ: Q = Q(
    "x_corr_matrix",
    (s, d) => Profile.corrMatrix(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    Some {
      // generated HUGEINT replay of the identical fixed-point closed
      // form (the x_ols_fit oracle pattern): per-row products fit
      // BIGINT, sums and cross-terms live in 128-bit exact integers.
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield (cols(i), cols(j))
      def ix(c: String) = s"CAST(ROUND($c * 100) AS BIGINT)"
      val moments =
        (Seq("CAST(COUNT(*) AS HUGEINT) AS n0") ++
          cols.map(c => s"SUM(CAST(${ix(c)} AS HUGEINT)) AS s_$c") ++
          cols.map(c => s"SUM(CAST(${ix(c)} * ${ix(c)} AS HUGEINT)) AS q_$c") ++
          pairs.map { case (a, b) =>
            s"SUM(CAST(${ix(a)} * ${ix(b)} AS HUGEINT)) AS p_${a}_$b" })
          .mkString(", ")
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n0 AS BIGINT) AS n,
           ROUND(CAST(n0 * p_${a}_$b - s_$a * s_$b AS DOUBLE)
                 / (SQRT(CAST(n0 * q_$a - s_$a * s_$a AS DOUBLE))
                    * SQRT(CAST(n0 * q_$b - s_$b * s_$b AS DOUBLE))), 6) AS corr
           FROM m"""
      }.mkString("\nUNION ALL\n")
      s"WITH m AS (SELECT $moments FROM lineitem)\n$rows"
    }
  )

  /** 20-bucket equi-width histogram of l_extendedprice
    * (Profile.histogram scaladoc: bounds pass + bucket pass, IEEE-
    * exact floor((x-min)/width), closed final bucket). */
  val histogramQ: Q = Q(
    "x_histogram",
    (s, d) => Profile.histogram(Tables.lineitem(s, d), "l_extendedprice", 20),
    Some("""
      WITH b AS (SELECT MIN(l_extendedprice) AS mn,
                        (MAX(l_extendedprice) - MIN(l_extendedprice)) / 20 AS w
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
      g AS (SELECT CAST(LEAST(FLOOR((l_extendedprice - mn) / w), 19) AS INT) AS bucket,
                   COUNT(*) AS n_rows
            FROM lineitem, b WHERE l_extendedprice IS NOT NULL GROUP BY 1)
      SELECT bucket, ROUND(mn + bucket * w, 6) AS lo,
             ROUND(mn + (bucket + 1) * w, 6) AS hi,
             CAST(n_rows AS BIGINT) AS n_rows
      FROM g, b
    """.trim)
  )

  /** k-anonymity audit (DataQuality.kAnonymityViolations): customer
    * groups sharing (nation, market segment, account-balance band)
    * with fewer than k = 5 members — the re-identification risk
    * surface a compliance pass reports before releasing "anonymous"
    * attribute tables. The hash pins the exact violating combinations
    * and occupancies; the balance band is one exactly-rounded IEEE
    * divide + floor, identical in both engines. One map-side-combined
    * aggregation — output bounded by the quasi-value cross-product,
    * never the data. */
  val kAnonymityQ: Q = Q(
    "x_k_anonymity",
    (s, d) => DataQuality.kAnonymityViolations(
      Tables.customer(s, d),
      Seq(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band")),
      k = 5L),
    Some("""
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS n
      FROM customer
      GROUP BY 1, 2, 3
      HAVING COUNT(*) < 5
    """.trim)
  )

  /** l-diversity audit (DataQuality.lDiversityViolations) — the
    * homogeneity-attack check k-anonymity can't express: quasi-groups
    * (nation, balance band) where the sensitive market segment takes
    * fewer than l = 3 distinct values, i.e. membership in the group
    * (nearly) reveals the segment even when the group is large. Exact
    * integer counts and distinct-counts; one aggregation. */
  val lDiversityQ: Q = Q(
    "x_l_diversity",
    (s, d) => DataQuality.lDiversityViolations(
      Tables.customer(s, d),
      Seq(col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band")),
      sensitiveCol = col("c_mktsegment"), l = 3L),
    Some("""
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS n,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_div
      FROM customer
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT c_mktsegment) < 3
    """.trim)
  )

  /** t-closeness audit (DataQuality.tClosenessViolations) — completes
    * the privacy-audit family: quasi-groups (nation, balance band)
    * whose market-segment DISTRIBUTION sits further than t = 0.25
    * (variational distance — the categorical EMD of Li et al. 2007)
    * from the table-wide marginal, i.e. groups that leak through
    * skew even when k-anonymous and l-diverse. Exact-integer
    * numerator/denominator (DECIMAL(38,0) c·n products), one rounded
    * divide — the hash pins every group's distance. One aggregation
    * to the quasi × sensitive cell table; everything after is
    * cell-bounded. */
  val tClosenessQ: Q = Q(
    "x_t_closeness",
    (s, d) => DataQuality.tClosenessViolations(
      Tables.customer(s, d),
      Seq(col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band")),
      sensitiveCol = col("c_mktsegment"), t = 0.25),
    Some("""
      WITH cells AS (
        SELECT c_nationkey, CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               c_mktsegment AS sv, COUNT(*) AS cgv
        FROM customer GROUP BY 1, 2, 3),
      marg AS (SELECT sv, CAST(SUM(cgv) AS BIGINT) AS cv FROM cells GROUP BY 1),
      tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS n FROM marg),
      j AS (SELECT c.c_nationkey, c.bal_band, c.cgv, g.cv, t.n,
                   SUM(c.cgv) OVER (PARTITION BY c.c_nationkey, c.bal_band) AS ng,
                   SUM(g.cv) OVER (PARTITION BY c.c_nationkey, c.bal_band) AS spres
            FROM cells c JOIN marg g USING (sv) CROSS JOIN tot t),
      g2 AS (SELECT c_nationkey, bal_band,
                    CAST(MAX(ng) AS BIGINT) AS n,
                    SUM(ABS(CAST(cgv AS HUGEINT) * n - CAST(cv AS HUGEINT) * ng)) AS pres,
                    CAST(MAX(n) AS BIGINT) AS ntot,
                    CAST(MAX(n - spres) AS BIGINT) AS absent_cv
             FROM j GROUP BY 1, 2)
      SELECT * FROM (
        SELECT c_nationkey, bal_band, n,
               ROUND(CAST(pres + CAST(n AS HUGEINT) * absent_cv AS DOUBLE) /
                     (2.0 * n * ntot), 6) AS t_dist
        FROM g2)
      WHERE t_dist > 0.25
    """.trim)
  )

  /** Deequ-style declarative constraint suite over orders+lineitem
    * (DataQuality.runChecks scaladoc: one column-pruned aggregation
    * branch per check; the FK check is a LEFT ANTI on keys only). */
  val dqChecksQ: Q = Q(
    "x_dq_checks",
    (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      DataQuality.runChecks(Seq(
        DataQuality.Completeness(o, "orders", "o_custkey"),
        DataQuality.Uniqueness(o, "orders", Seq("o_orderkey")),
        DataQuality.InSet(o, "orders", "o_orderstatus", Seq("O", "F", "P")),
        DataQuality.InRange(l, "lineitem", "l_quantity", 1d, 50d),
        DataQuality.ForeignKey(l, "lineitem", "l_orderkey", o, "o_orderkey")))
    },
    Some("""
      SELECT 'completeness:orders.o_custkey' AS check_name, COUNT(*) AS total,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
      FROM orders
      UNION ALL
      SELECT 'uniqueness:orders.o_orderkey', COUNT(*),
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
             COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
      FROM orders
      UNION ALL
      SELECT 'in_set:orders.o_orderstatus', COUNT(*),
             CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT),
             SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) = 0
      FROM orders
      UNION ALL
      SELECT 'in_range:lineitem.l_quantity', COUNT(*),
             CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT),
             SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) = 0
      FROM lineitem
      UNION ALL
      SELECT 'foreign_key:lineitem.l_orderkey', COUNT(*),
             CAST(SUM(CASE WHEN NOT EXISTS
                    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
                  THEN 1 ELSE 0 END) AS BIGINT),
             SUM(CASE WHEN NOT EXISTS
                    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
                  THEN 1 ELSE 0 END) = 0
      FROM lineitem
    """.trim)
  )

  /** Rolling z-score anomaly detection over per-customer order values
    * (DataQuality.rollingZscore scaladoc: ONE exchange, exact BIGINT
    * trailing moments, double only at the final sqrt/divide). Oracle
    * replays the identical exact-integer window arithmetic. */
  val anomalyZscoreQ: Q = Q(
    "x_anomaly_zscore",
    (s, d) => DataQuality.rollingZscore(Tables.orders(s, d), "o_custkey",
      Seq("o_orderdate", "o_orderkey"), "o_totalprice",
      window = 10, minPrior = 5, threshold = 2.0)
      .select("o_custkey", "o_orderkey", "z"),
    Some("""
      WITH s AS (
        SELECT o_custkey, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
               COUNT(*) OVER w AS k,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS sm,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                   * CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS q
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
      ), z AS (
        SELECT o_custkey, o_orderkey,
               ROUND(CAST(k * x - sm AS DOUBLE)
                     / SQRT(CAST(k * q - sm * sm AS DOUBLE) * k / (k - 1.0)), 6) AS z
        FROM s WHERE k >= 5 AND (k * q - sm * sm) > 0
      )
      SELECT o_custkey, o_orderkey, z FROM z WHERE ABS(z) > 2.0
    """.trim)
  )

  /** Metric anomaly detection on the AGGREGATED daily series: each
    * event type's daily count scored against its trailing 7 days
    * (DataQuality.rollingZscore reused on a day-grained series —
    * scale=0 keeps counts as the exact integers they are; the operator
    * composes unchanged across input shapes, which is the point).
    * The log collapses to ≤ types·days rows in one map-side-combined
    * pass before any window runs. */
  val anomalyDailyQ: Q = Q(
    "x_anomaly_daily",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      DataQuality.rollingZscore(daily, "event_type", Seq("day"), "n",
        window = 7, minPrior = 3, threshold = 1.5, scale = 0)
        .select(col("event_type"), col("day"), col("z"))
    },
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
                     FROM events GROUP BY 1, 2),
      s AS (
        SELECT event_type, day,
               CAST(ROUND(n * 1) AS BIGINT) AS x,
               COUNT(*) OVER w AS k,
               SUM(CAST(ROUND(n * 1) AS BIGINT)) OVER w AS sm,
               SUM(CAST(ROUND(n * 1) AS BIGINT)
                   * CAST(ROUND(n * 1) AS BIGINT)) OVER w AS q
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      ), z AS (
        SELECT event_type, day,
               ROUND(CAST(k * x - sm AS DOUBLE)
                     / SQRT(CAST(k * q - sm * sm AS DOUBLE) * k / (k - 1.0)), 6) AS z
        FROM s WHERE k >= 3 AND (k * q - sm * sm) > 0
      )
      SELECT event_type, day, z FROM z WHERE ABS(z) > 1.5
    """.trim)
  )

  /** Benford first-digit screen of order values (DataQuality.benford
    * scaladoc: digit from the exact integer's decimal string — no
    * libm log10 — and 6-dp literal expectations). */
  val benfordQ: Q = Q(
    "x_benford",
    (s, d) => DataQuality.benford(Tables.orders(s, d), "o_totalprice"),
    Some("""
      WITH g AS (
        SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
               COUNT(*) AS n
        FROM orders WHERE o_totalprice > 0 GROUP BY 1
      ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g),
      e AS (SELECT digit, n,
                   CAST(n AS DOUBLE) / total AS freq_raw,
                   CAST(CASE digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091
                        WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691
                        WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
                        WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
                        WHEN 9 THEN 0.045757 END AS DOUBLE) AS expected
            FROM g, t)
      SELECT digit, n, ROUND(freq_raw, 6) AS freq, expected,
             ROUND(ABS(freq_raw - expected), 6) AS deviation
      FROM e
    """.trim)
  )

  /** Key-skew diagnosis of lineitem's part key (Skew.skewReport
    * scaladoc: one data-sized exchange to per-key counts, count-of-
    * counts collapse, closed-form rank-weighted Gini on the tiny
    * table — no per-key global sort). The oracle replays the identical
    * closed form in HUGEINT. */
  val skewReportQ: Q = Q(
    "x_skew_report",
    (s, d) => Skew.skewReport(Tables.lineitem(s, d), Seq("l_partkey")),
    Some("""
      WITH k AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      cc AS (SELECT cnt, COUNT(*) AS m FROM k GROUP BY 1),
      r AS (SELECT cnt, m,
              COALESCE(SUM(m) OVER (ORDER BY cnt
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
            FROM cc),
      a AS (SELECT CAST(SUM(CAST(cnt AS HUGEINT) * m) AS HUGEINT) AS s,
                   CAST(SUM(CAST(cnt AS HUGEINT) * cnt * m) AS HUGEINT) AS q,
                   CAST(SUM(m) AS BIGINT) AS n,
                   MAX(cnt) AS mx,
                   CAST(SUM(CAST(cnt AS HUGEINT) *
                        (CAST(m AS HUGEINT) * nb
                         + (CAST(m AS HUGEINT) * (m + 1)) // 2)) AS HUGEINT) AS w
            FROM r)
      SELECT CAST(s AS BIGINT) AS n_rows, n AS n_keys, mx AS max_cnt,
             ROUND(CAST(s AS DOUBLE) / n, 6) AS avg_cnt,
             ROUND(CAST(mx AS DOUBLE) / CAST(s AS DOUBLE), 6) AS top_share,
             ROUND(SQRT(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE))
                   / CAST(s AS DOUBLE), 6) AS cv,
             ROUND(CAST(2 * w - (CAST(n AS HUGEINT) + 1) * s AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * s AS DOUBLE), 6) AS gini
      FROM a
    """.trim)
  )

  /** Multi-source BFS hop distances on the part co-occurrence graph,
    * 3 fixed rounds from the ~1% seed set p_partkey ≡ 0 (mod 97)
    * (GraphOps.bfsHops scaladoc: one frontier⋈edges join per round on
    * 8-byte ids, LEFT ANTI vs visited, bounded lineage). The oracle
    * unrolls the three frontier expansions with EXCEPT sets. */
  val bfsHopsQ: Q = Q(
    "x_bfs_hops",
    (s, d) => {
      val seeds = Tables.part(s, d).select(col("p_partkey").as("node"))
        .filter(col("node") % 97 === 0)
      GraphOps.bfsHops(coGraphFace(s, d), seeds, seedCol = "node", rounds = 3)
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      sym AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
      d0 AS (SELECT p_partkey AS node FROM part WHERE p_partkey % 97 = 0),
      f1 AS (SELECT DISTINCT s.v AS node FROM sym s JOIN d0 ON s.u = d0.node
             EXCEPT SELECT node FROM d0),
      f2 AS (SELECT DISTINCT s.v AS node FROM sym s JOIN f1 ON s.u = f1.node
             EXCEPT (SELECT node FROM d0 UNION ALL SELECT node FROM f1)),
      f3 AS (SELECT DISTINCT s.v AS node FROM sym s JOIN f2 ON s.u = f2.node
             EXCEPT (SELECT node FROM d0 UNION ALL SELECT node FROM f1
                     UNION ALL SELECT node FROM f2))
      SELECT node, 0 AS hop FROM d0
      UNION ALL SELECT node, 1 FROM f1
      UNION ALL SELECT node, 2 FROM f2
      UNION ALL SELECT node, 3 FROM f3
    """.trim)
  )

  /** Exponentially time-decayed per-type activity counters
    * (EventAnalytics.decayedCounts scaladoc: integer 2^(h−step)
    * weights, DECIMAL mass sums, one final divide by the exact double
    * 2^h — no libm). The oracle replays the identical integer weighting
    * in HUGEINT, with power(2, k) exact for k ≤ 53 before the cast. */
  val decayedCountsQ: Q = Q(
    "x_decayed_counts",
    (s, d) => EventAnalytics.decayedCounts(Tables.events(s, d), horizon = 40),
    Some("""
      WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS r FROM events),
      aged AS (SELECT event_type,
                      CAST(FLOOR(date_diff('day', CAST(ts AS DATE), r) / 1) AS INT) AS step,
                      CAST(ROUND(value * 100) AS BIGINT) AS cents
               FROM events, ref),
      ps AS (SELECT event_type, step, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents
             FROM aged WHERE step BETWEEN 0 AND 40 GROUP BY 1, 2),
      ag AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events,
                    CAST(SUM(CAST(n AS HUGEINT)
                             * CAST(power(2, 40 - step) AS HUGEINT)) AS HUGEINT) AS wn,
                    CAST(SUM(CAST(cents AS HUGEINT)
                             * CAST(power(2, 40 - step) AS HUGEINT)) AS HUGEINT) AS wv
             FROM ps GROUP BY 1)
      SELECT event_type, n_events,
             ROUND(CAST(wn AS DOUBLE) / power(2, 40), 6) AS decayed_count,
             ROUND(CAST(wv AS DOUBLE) / power(2, 40) / 100.0, 6) AS decayed_value
      FROM ag
    """.trim)
  )

  /** MMR diversified retrieval (Similarity.mmrTopK scaladoc: the
    * distributed cost is the brute-force shortlist; the greedy runs on
    * the bounded driver-collected shortlist with engine-mirrored
    * arithmetic). The oracle unrolls all five greedy selections — each
    * step an argmax of λ·rel − (1−λ)·max-sim-to-selected with the
    * identical double arithmetic (λ = 0.75 so both weights are
    * binary-exact) — the PageRank unrolled-fixed-point precedent. */
  val mmrQ: Q = Q(
    "x_mmr_rerank",
    (s, d) => Similarity.mmrTopK(coEmbeddings(s, d), queryId = 0L,
      k = 5, kCand = 30),
    Some("""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      sc AS (SELECT vec_id, v,
                    list_dot_product(v, qv) /
                      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS rel
             FROM e, q WHERE vec_id <> 0),
      sl AS (SELECT vec_id, v, rel FROM sc ORDER BY rel DESC, vec_id LIMIT 30),
      s1 AS (SELECT vec_id, v, rel FROM sl ORDER BY rel DESC, vec_id LIMIT 1),
      s2 AS (SELECT c.vec_id, c.v, c.rel FROM sl c, s1
             WHERE c.vec_id <> s1.vec_id
             ORDER BY 0.75 * c.rel - 0.25 *
               (list_dot_product(c.v, s1.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s1.v, s1.v))))
               DESC, c.vec_id LIMIT 1),
      s3 AS (SELECT c.vec_id, c.v, c.rel FROM sl c, s1, s2
             WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id)
             ORDER BY 0.75 * c.rel - 0.25 * greatest(
               list_dot_product(c.v, s1.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s1.v, s1.v))),
               list_dot_product(c.v, s2.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s2.v, s2.v))))
               DESC, c.vec_id LIMIT 1),
      s4 AS (SELECT c.vec_id, c.v, c.rel FROM sl c, s1, s2, s3
             WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id)
             ORDER BY 0.75 * c.rel - 0.25 * greatest(
               list_dot_product(c.v, s1.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s1.v, s1.v))),
               list_dot_product(c.v, s2.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s2.v, s2.v))),
               list_dot_product(c.v, s3.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s3.v, s3.v))))
               DESC, c.vec_id LIMIT 1),
      s5 AS (SELECT c.vec_id, c.v, c.rel FROM sl c, s1, s2, s3, s4
             WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id, s4.vec_id)
             ORDER BY 0.75 * c.rel - 0.25 * greatest(
               list_dot_product(c.v, s1.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s1.v, s1.v))),
               list_dot_product(c.v, s2.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s2.v, s2.v))),
               list_dot_product(c.v, s3.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s3.v, s3.v))),
               list_dot_product(c.v, s4.v) /
                (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s4.v, s4.v))))
               DESC, c.vec_id LIMIT 1)
      SELECT 1 AS rank, vec_id, ROUND(rel, 6) AS cos_sim FROM s1
      UNION ALL SELECT 2, vec_id, ROUND(rel, 6) FROM s2
      UNION ALL SELECT 3, vec_id, ROUND(rel, 6) FROM s3
      UNION ALL SELECT 4, vec_id, ROUND(rel, 6) FROM s4
      UNION ALL SELECT 5, vec_id, ROUND(rel, 6) FROM s5
    """.trim)
  )

  /** Cross-source shared-content matrix (Dedup.crossSourceSharing
    * scaladoc: min-shingle anchors as 60-bit longs, checkpointed
    * count-table self-join — never corpus-sized). The oracle replays
    * the anchor construction hash-for-hash. */
  val crossSourceQ: Q = Q(
    "x_cross_source",
    (s, d) => Dedup.crossSourceSharing(Tables.documents(s, d)),
    Some("""
      WITH w AS (SELECT source, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      sh AS (SELECT source, ('0x' || substr(list_min(list_transform(
               list_distinct(list_transform(
                 generate_series(1, greatest(len(toks) - 2, 1)),
                 i -> array_to_string(toks[i:i+2], ' '))),
               g -> md5(g))), 1, 15))::BIGINT AS anchor FROM w),
      c AS (SELECT anchor, source AS src, COUNT(*) AS c FROM sh GROUP BY 1, 2)
      SELECT a.src AS source_a, b.src AS source_b,
             COUNT(*) AS n_shared_anchors,
             CAST(SUM(a.c * b.c) AS BIGINT) AS n_doc_pairs
      FROM c a JOIN c b ON a.anchor = b.anchor AND a.src < b.src
      GROUP BY 1, 2
    """.trim)
  )

  /** Exact join-size prediction for lineitem ⋈ orders on orderkey
    * without running the join (Skew.joinSizeEstimate scaladoc: two
    * checkpointed key-count tables, key-sized count join, DECIMAL
    * products). */
  val joinSizeQ: Q = Q(
    "x_join_size_est",
    (s, d) => Skew.joinSizeEstimate(Tables.lineitem(s, d), "l_orderkey",
      Tables.orders(s, d), "o_orderkey"),
    Some("""
      WITH lc AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
      rc AS (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
      lt AS (SELECT CAST(SUM(c) AS BIGINT) AS left_rows, COUNT(*) AS left_keys FROM lc),
      rt AS (SELECT CAST(SUM(c) AS BIGINT) AS right_rows, COUNT(*) AS right_keys FROM rc),
      j AS (SELECT COUNT(*) AS matched_keys,
                   COALESCE(CAST(SUM(CAST(lc.c AS HUGEINT) * rc.c) AS HUGEINT), 0) AS est,
                   COALESCE(CAST(MAX(CAST(lc.c AS HUGEINT) * rc.c) AS HUGEINT), 0) AS mx
            FROM lc JOIN rc ON lc.k = rc.k)
      SELECT left_rows, left_keys, right_rows, right_keys, matched_keys,
             CAST(est AS BIGINT) AS est_rows, CAST(mx AS BIGINT) AS max_key_rows,
             CASE WHEN est > 0 THEN ROUND(CAST(mx AS DOUBLE) / CAST(est AS DOUBLE), 6)
                  ELSE CAST(0.0 AS DOUBLE) END AS top_share
      FROM lt, rt, j
    """.trim)
  )

  /** Hashing-trick featurization of documents into k=64 sparse count
    * triples (Corpus.featureHash scaladoc: map-side combine caps the
    * exchange at k triples per doc; md5Hash60 replayed by the oracle
    * bit-for-bit). */
  val featureHashQ: Q = Q(
    "x_feature_hash",
    (s, d) => graft.corpus.Corpus.featureHash(Tables.documents(s, d), k = 64),
    Some("""
      WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                 FROM documents),
      f AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket
            FROM t WHERE length(tok) > 0)
      SELECT doc_id, bucket, COUNT(*) AS n FROM f GROUP BY 1, 2
    """.trim)
  )

  /** Rank-based quantile normalization of event values per type — the
    * distribution-free feature scaling (percent_rank = (rank−1)/(n−1):
    * exact integer ranks, ONE correctly-rounded division — immune to
    * the outliers that wreck min-max scaling, identical in any
    * engine). Rides Relational.groupedPercentRank's two-phase value
    * grid: the original `Window.partitionBy(event_type)` plan put each
    * type's millions of rows through ONE task's sort and measured 3.7×
    * at 10× data; the replacement is parallel in the data, not in the
    * type count (A/B in BENCH_SCALE.md). Ties share a rank by grid
    * construction, so the result needs no id tiebreak. */
  val quantileNormQ: Q = Q(
    "x_quantile_norm",
    (s, d) => Relational.groupedPercentRank(
        Tables.events(s, d).select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value", "qnorm")
      .select(col("event_id"), col("event_type"), round(col("qnorm"), 6).as("qnorm")),
    Some("""
      SELECT event_id, event_type,
             ROUND(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value), 6) AS qnorm
      FROM events
    """.trim)
  )

  /** Welch two-sample t-test between click and purchase values
    * (DataQuality.welchT scaladoc: exact conditional moments in one
    * pass, the whole double chain in one mirrored operation order,
    * t computed entirely in cents). */
  val abTtestQ: Q = Q(
    "x_ab_ttest",
    (s, d) => DataQuality.welchT(Tables.events(s, d), "event_type", "value",
      groupA = "click", groupB = "purchase"),
    Some("""
      WITH b AS (SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS x
                 FROM events WHERE event_type IN ('click', 'purchase')),
      a AS (SELECT
              CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
              CAST(SUM(CASE WHEN g = 'click' THEN x ELSE 0 END) AS HUGEINT) AS s1,
              CAST(SUM(CASE WHEN g = 'click' THEN x * x ELSE 0 END) AS HUGEINT) AS q1,
              CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
              CAST(SUM(CASE WHEN g = 'purchase' THEN x ELSE 0 END) AS HUGEINT) AS s2,
              CAST(SUM(CASE WHEN g = 'purchase' THEN x * x ELSE 0 END) AS HUGEINT) AS q2
            FROM b),
      c AS (SELECT n1, n2, s1, s2,
              CAST(n1 * q1 - s1 * s1 AS DOUBLE) / CAST(n1 * (n1 - 1) AS DOUBLE)
                / CAST(n1 AS DOUBLE) AS a1,
              CAST(n2 * q2 - s2 * s2 AS DOUBLE) / CAST(n2 * (n2 - 1) AS DOUBLE)
                / CAST(n2 AS DOUBLE) AS a2,
              CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
              CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2
            FROM a)
      SELECT 'click' AS group_a, 'purchase' AS group_b, n1 AS n_a, n2 AS n_b,
             ROUND(m1 / 100.0, 6) AS mean_a, ROUND(m2 / 100.0, 6) AS mean_b,
             ROUND((m1 - m2) / SQRT(a1 + a2), 6) AS t_stat,
             ROUND((a1 + a2) * (a1 + a2) /
                   (a1 * a1 / CAST(n1 - 1 AS DOUBLE)
                    + a2 * a2 / CAST(n2 - 1 AS DOUBLE)), 6) AS dof
      FROM c
    """.trim)
  )

  /** Top-20 session journey paths (EventAnalytics.topPaths scaladoc:
    * one user_id exchange end-to-end, maxLen-capped path keys,
    * deterministic sort_array ordered collect, TakeOrderedAndProject
    * top-k). The oracle replays session numbering + ordered STRING_AGG
    * with the identical (ts, event_id) total order. */
  val topPathsQ: Q = Q(
    "x_top_paths",
    (s, d) => EventAnalytics.topPaths(Tables.events(s, d), gapSec = 1800L,
      k = 20, maxLen = 10),
    Some("""
      WITH m AS (
        SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS ts_us,
               CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS newf
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT *, SUM(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM m),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess
              ORDER BY ts, event_id) AS rn FROM s),
      p AS (SELECT user_id, sess, STRING_AGG(event_type, '>' ORDER BY rn) AS path
            FROM r WHERE rn <= 10 GROUP BY 1, 2),
      c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
      SELECT path, n_sessions,
             ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rn
      FROM c ORDER BY n_sessions DESC, path LIMIT 20
    """.trim)
  )

  /** Support-thresholded association rules (minCount = 2) with the
    * Apriori item pre-prune IN the plan (EventAnalytics
    * .associationRules scaladoc: the membership table is semi-joined
    * to items in ≥ minCount baskets BEFORE the pair self-join —
    * downward closure makes that lossless; here the co-occurrence
    * item counts are near-uniform ~30 so the prune passes everything
    * and the n_ab filter does the work, but the plan is the one a
    * power-law basket log needs). The oracle replays the item prune,
    * the pair threshold and the identical round-then-rank arithmetic. */
  val assocRulesPrunedQ: Q = Q(
    "x_assoc_rules_pruned",
    (s, d) => EventAnalytics.associationRules(
      coMembership(s, d), "l_orderkey", "l_partkey", k = 20, assumeDistinct = true,
      minCount = 2L),
    Some("""
      WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      nn AS (SELECT COUNT(DISTINCT bk) AS n FROM bi),
      ic AS (SELECT it, COUNT(*) AS c FROM bi GROUP BY 1),
      bif AS (SELECT bk, it FROM bi WHERE it IN (SELECT it FROM ic WHERE c >= 2)),
      pc AS (SELECT x.it AS a, y.it AS b, COUNT(*) AS n_ab
             FROM bif x JOIN bif y ON x.bk = y.bk AND x.it < y.it GROUP BY 1, 2
             HAVING COUNT(*) >= 2),
      sc AS (SELECT a, b, n_ab,
                    ROUND(CAST(n_ab AS DOUBLE) / n, 6) AS support,
                    ROUND(CAST(n_ab AS DOUBLE) / ca.c, 6) AS confidence,
                    ROUND(CAST(n * n_ab AS DOUBLE) / (ca.c * cb.c), 6) AS lift
             FROM pc JOIN ic ca ON pc.a = ca.it JOIN ic cb ON pc.b = cb.it, nn)
      SELECT a, b, n_ab, support, confidence, lift,
             ROW_NUMBER() OVER (ORDER BY lift DESC, a, b) AS rn
      FROM sc ORDER BY lift DESC, a, b LIMIT 20
    """.trim)
  )

  /** Top-20 association rules by lift over order baskets
    * (EventAnalytics.associationRules scaladoc: exact-count rational
    * support/confidence/lift, total-order ranking, TakeOrderedAndProject
    * top-k). Oracle replays the count joins and the identical
    * round-then-rank arithmetic. */
  val assocRulesQ: Q = Q(
    "x_assoc_rules",
    (s, d) => EventAnalytics.associationRules(
      coMembership(s, d), "l_orderkey", "l_partkey", k = 20, assumeDistinct = true),
    Some("""
      WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      nn AS (SELECT COUNT(DISTINCT bk) AS n FROM bi),
      ic AS (SELECT it, COUNT(*) AS c FROM bi GROUP BY 1),
      pc AS (SELECT x.it AS a, y.it AS b, COUNT(*) AS n_ab
             FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it GROUP BY 1, 2),
      sc AS (SELECT a, b, n_ab,
                    ROUND(CAST(n_ab AS DOUBLE) / n, 6) AS support,
                    ROUND(CAST(n_ab AS DOUBLE) / ca.c, 6) AS confidence,
                    ROUND(CAST(n * n_ab AS DOUBLE) / (ca.c * cb.c), 6) AS lift
             FROM pc JOIN ic ca ON pc.a = ca.it JOIN ic cb ON pc.b = cb.it, nn)
      SELECT a, b, n_ab, support, confidence, lift,
             ROW_NUMBER() OVER (ORDER BY lift DESC, a, b) AS rn
      FROM sc ORDER BY lift DESC, a, b LIMIT 20
    """.trim)
  )

  /** Fixed-round k-core peeling trajectory (k=80, 3 rounds) on the
    * part co-occurrence graph (GraphOps.kcorePeel scaladoc has the
    * bounded-rounds rationale). At sf0.01 the trajectory is mid-
    * cascade (108821 → 106882 → 105861 edges), so the oracle pins
    * three genuinely different peeling states, not a fixpoint. */
  val kcoreQ: Q = Q(
    "x_kcore",
    (s, d) => GraphOps.kcorePeel(coGraphFace(s, d), k = 80, rounds = 3),
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      d1 AS (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) t GROUP BY 1),
      k1 AS (SELECT node FROM d1 WHERE deg >= 80),
      e1 AS (SELECT a, b FROM e0 WHERE a IN (SELECT node FROM k1)
                                   AND b IN (SELECT node FROM k1)),
      d2 AS (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) t GROUP BY 1),
      k2 AS (SELECT node FROM d2 WHERE deg >= 80),
      e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT node FROM k2)
                                   AND b IN (SELECT node FROM k2)),
      d3 AS (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) t GROUP BY 1),
      k3 AS (SELECT node FROM d3 WHERE deg >= 80),
      e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT node FROM k3)
                                   AND b IN (SELECT node FROM k3))
      SELECT 1 AS round,
             (SELECT COUNT(DISTINCT node) FROM
              (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) t) AS n_nodes,
             (SELECT COUNT(*) FROM e1) AS n_edges
      UNION ALL SELECT 2,
             (SELECT COUNT(DISTINCT node) FROM
              (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) t),
             (SELECT COUNT(*) FROM e2)
      UNION ALL SELECT 3,
             (SELECT COUNT(DISTINCT node) FROM
              (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) t),
             (SELECT COUNT(*) FROM e3)
    """.trim)
  )

  /** Iterate-to-fixpoint k-core (GraphOps.kcoreFixpoint scaladoc: the
    * peel loop run until a round removes nothing, convergence tested on
    * the 1-row stats collect each round already does — no extra job;
    * fail-loud at maxRounds). At sf0.01 / k=80 the cascade stabilizes
    * at round 6 (1857 nodes, 105232 edges, round 6 == round 5), so the
    * oracle is the peel UNROLLED six rounds — the x_binseg unrolled-
    * round pattern — pinning the whole trajectory including the
    * stability-witness repeat row. */
  val kcoreFixpointQ: Q = Q(
    "x_kcore_fixpoint",
    (s, d) => GraphOps.kcoreFixpoint(coGraphFace(s, d), k = 80, maxRounds = 50)._1,
    Some("""
      WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      e0 AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      d1 AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) t GROUP BY 1),
      e1 AS MATERIALIZED (SELECT a, b FROM e0 WHERE a IN (SELECT node FROM d1 WHERE deg >= 80)
                                   AND b IN (SELECT node FROM d1 WHERE deg >= 80)),
      d2 AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) t GROUP BY 1),
      e2 AS MATERIALIZED (SELECT a, b FROM e1 WHERE a IN (SELECT node FROM d2 WHERE deg >= 80)
                                   AND b IN (SELECT node FROM d2 WHERE deg >= 80)),
      d3 AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) t GROUP BY 1),
      e3 AS MATERIALIZED (SELECT a, b FROM e2 WHERE a IN (SELECT node FROM d3 WHERE deg >= 80)
                                   AND b IN (SELECT node FROM d3 WHERE deg >= 80)),
      d4 AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) t GROUP BY 1),
      e4 AS MATERIALIZED (SELECT a, b FROM e3 WHERE a IN (SELECT node FROM d4 WHERE deg >= 80)
                                   AND b IN (SELECT node FROM d4 WHERE deg >= 80)),
      d5 AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4) t GROUP BY 1),
      e5 AS MATERIALIZED (SELECT a, b FROM e4 WHERE a IN (SELECT node FROM d5 WHERE deg >= 80)
                                   AND b IN (SELECT node FROM d5 WHERE deg >= 80)),
      d6 AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
             (SELECT a AS node FROM e5 UNION ALL SELECT b FROM e5) t GROUP BY 1),
      e6 AS MATERIALIZED (SELECT a, b FROM e5 WHERE a IN (SELECT node FROM d6 WHERE deg >= 80)
                                   AND b IN (SELECT node FROM d6 WHERE deg >= 80)),
      st AS (
        SELECT 1 AS round,
               (SELECT COUNT(DISTINCT node) FROM
                (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) t) AS n_nodes,
               (SELECT COUNT(*) FROM e1) AS n_edges
        UNION ALL SELECT 2,
               (SELECT COUNT(DISTINCT node) FROM
                (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) t),
               (SELECT COUNT(*) FROM e2)
        UNION ALL SELECT 3,
               (SELECT COUNT(DISTINCT node) FROM
                (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) t),
               (SELECT COUNT(*) FROM e3)
        UNION ALL SELECT 4,
               (SELECT COUNT(DISTINCT node) FROM
                (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4) t),
               (SELECT COUNT(*) FROM e4)
        UNION ALL SELECT 5,
               (SELECT COUNT(DISTINCT node) FROM
                (SELECT a AS node FROM e5 UNION ALL SELECT b FROM e5) t),
               (SELECT COUNT(*) FROM e5)
        UNION ALL SELECT 6,
               (SELECT COUNT(DISTINCT node) FROM
                (SELECT a AS node FROM e6 UNION ALL SELECT b FROM e6) t),
               (SELECT COUNT(*) FROM e6))
      SELECT CAST(round AS INT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes,
             CAST(n_edges AS BIGINT) AS n_edges
      FROM st
    """.trim)
  )

  /** Mergeable-sketch distinct counting: HLL(p=8) distinct orderkeys
    * per (returnflag, linestatus), exact count computed alongside as
    * the visible-error baseline (Hll.hllDistinct scaladoc has the
    * register algebra, the exact-integer harmonic sum, and the
    * raw-regime contract). The oracle replays the md5-60 bucketing,
    * bin()-length rho, BIGINT register sum, and the identical
    * alpha-expression arithmetic. */
  val hllDistinctQ: Q = Q(
    "x_hll_distinct",
    (s, d) => Hll.hllDistinct(Tables.lineitem(s, d),
      Seq("l_returnflag", "l_linestatus"), "l_orderkey"),
    Some("""
      WITH h0 AS (SELECT l_returnflag, l_linestatus,
                         ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h,
                         l_orderkey
                  FROM lineitem),
      hb AS (SELECT l_returnflag, l_linestatus, l_orderkey,
                    h // 4503599627370496 AS bucket, h % 4503599627370496 AS w
             FROM h0),
      hr AS (SELECT l_returnflag, l_linestatus, l_orderkey, bucket,
                    CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
             FROM hb),
      regs AS (SELECT l_returnflag, l_linestatus, bucket, MAX(rho) AS mj
               FROM hr GROUP BY 1, 2, 3),
      sk AS (SELECT l_returnflag, l_linestatus,
                    COUNT(*) AS n_buckets_hit,
                    CAST(SUM(1::BIGINT << (53 - mj)) AS BIGINT) AS sp
             FROM regs GROUP BY 1, 2),
      est AS (SELECT l_returnflag, l_linestatus, n_buckets_hit,
                     ROUND(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
                           * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)
                           / CAST(sp + (256 - n_buckets_hit) * 9007199254740992 AS DOUBLE), 6)
                       AS hll_distinct
              FROM sk),
      ex AS (SELECT l_returnflag, l_linestatus, COUNT(DISTINCT l_orderkey) AS exact_distinct
             FROM h0 GROUP BY 1, 2)
      SELECT ex.l_returnflag, ex.l_linestatus, exact_distinct, n_buckets_hit, hll_distinct
      FROM ex JOIN est USING (l_returnflag, l_linestatus)
    """.trim)
  )

  /** Gap-based sessionization over the event log (EventAnalytics
    * .sessionize scaladoc has the scale story: one user_id exchange,
    * lag/running-sum windows and the per-session rollup all reuse it).
    * The oracle replays the identical two-window construction in
    * microsecond-integer epoch arithmetic. */
  val sessionizeQ: Q = Q(
    "x_sessionize",
    (s, d) => EventAnalytics.sessionize(Tables.events(s, d), gapSec = 1800L),
    Some("""
      WITH m AS (
        SELECT user_id, event_id, ts, value, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000
                    THEN 1 ELSE 0 END AS nw
        FROM events),
      s AS (SELECT user_id, ts_us, value,
                   SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM m)
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM s GROUP BY 1, 2
    """.trim)
  )

  /** Ordered-step conversion funnel view → click → purchase
    * (EventAnalytics.funnel: chained min-when windows over ONE user_id
    * exchange — the log is never self-joined). The oracle chains the
    * same strict-after min windows through CTEs. */
  val funnelQ: Q = Q(
    "x_funnel",
    (s, d) => EventAnalytics.funnel(Tables.events(s, d),
      Seq("view", "click", "purchase")),
    Some("""
      WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      s0 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
                         OVER (PARTITION BY user_id) AS t0 FROM b),
      s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t0 IS NOT NULL AND ts_us > t0
                                THEN ts_us END) OVER (PARTITION BY user_id) AS t1 FROM s0),
      s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL AND ts_us > t1
                                THEN ts_us END) OVER (PARTITION BY user_id) AS t2 FROM s1),
      u AS (SELECT user_id, MAX(t0) AS t0, MAX(t1) AS t1, MAX(t2) AS t2 FROM s2 GROUP BY 1)
      SELECT 1 AS step_idx, 'view' AS step, COUNT(t0) AS n_users FROM u
      UNION ALL SELECT 2, 'click', COUNT(t1) FROM u
      UNION ALL SELECT 3, 'purchase', COUNT(t2) FROM u
    """.trim)
  )

  /** Funnel time-to-convert (EventAnalytics.funnelTiming scaladoc:
    * same min-time chain + single user_id exchange as x_funnel; exact
    * microsecond gaps, one IEEE divide for the mean). The oracle
    * replays the chain and the gap aggregates. */
  val funnelTimingQ: Q = Q(
    "x_funnel_time",
    (s, d) => EventAnalytics.funnelTiming(Tables.events(s, d),
      Seq("view", "click", "purchase")),
    Some("""
      WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      s0 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
                         OVER (PARTITION BY user_id) AS t0 FROM b),
      s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t0 IS NOT NULL AND ts_us > t0
                                THEN ts_us END) OVER (PARTITION BY user_id) AS t1 FROM s0),
      s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL AND ts_us > t1
                                THEN ts_us END) OVER (PARTITION BY user_id) AS t2 FROM s1),
      u AS (SELECT user_id, MAX(t0) AS t0, MAX(t1) AS t1, MAX(t2) AS t2 FROM s2 GROUP BY 1)
      SELECT 2 AS step_idx, 'click' AS step, COUNT(t1) AS n_converted,
             MIN(t1 - t0) AS min_gap_us, MAX(t1 - t0) AS max_gap_us,
             ROUND(CAST(CAST(SUM(t1 - t0) AS BIGINT) AS DOUBLE) / COUNT(t1), 6) AS avg_gap_us
      FROM u
      UNION ALL
      SELECT 3, 'purchase', COUNT(t2), MIN(t2 - t1), MAX(t2 - t1),
             ROUND(CAST(CAST(SUM(t2 - t1) AS BIGINT) AS DOUBLE) / COUNT(t2), 6)
      FROM u
    """.trim)
  )

  /** Daily engagement trio (EventAnalytics.stickiness scaladoc: WAU by
    * sequence-explode of each activity pair onto its 7 servable days —
    * no range join; exact distinct counts, one divide). */
  val stickinessQ: Q = Q(
    "x_dau_wau",
    (s, d) => EventAnalytics.stickiness(Tables.events(s, d)),
    Some("""
      WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
      wx AS (SELECT DISTINCT CAST(gs AS DATE) AS day, user_id
             FROM du, unnest(generate_series(CAST(day AS TIMESTAMP),
                    CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS t(gs)),
      wau AS (SELECT day, COUNT(*) AS wau FROM wx GROUP BY 1)
      SELECT day, dau, wau,
             ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
      FROM dau JOIN wau USING (day)
    """.trim)
  )

  /** Batch last-touch attribution (EventAnalytics.lastTouchAttribution
    * scaladoc: one max-struct window on the single user_id exchange,
    * no self-join). The oracle encodes the struct-max as a HUGEINT
    * (ts_us·10⁹ + event_id — same (ts, id) order) window maximum. */
  val attributionQ: Q = Q(
    "x_attribution",
    (s, d) => EventAnalytics.lastTouchAttribution(Tables.events(s, d)),
    Some("""
      WITH b AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
      w AS (SELECT *, MAX(CASE WHEN event_type = 'view'
                          THEN CAST(ts_us AS HUGEINT) * 1000000000 + event_id END)
                        OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
            FROM b)
      SELECT user_id, event_id AS purchase_id, ts_us AS p_ts_us,
             CAST(lv % 1000000000 AS BIGINT) AS view_id,
             CAST(lv // 1000000000 AS BIGINT) AS v_ts_us,
             CAST(ts_us - lv // 1000000000 AS BIGINT) AS gap_us
      FROM w
      WHERE event_type = 'purchase' AND lv IS NOT NULL
        AND ts_us - lv // 1000000000 <= 3600000000
    """.trim)
  )

  /** Incremental materialized-view maintenance (Relational
    * .mergeDistributive scaladoc: name-declared distributive algebra,
    * one agg-sized union + re-aggregation, raw history never re-read).
    * The oracle is the DIRECT aggregation over all orders — passing
    * proves the merge law end-to-end. */
  val aggMergeQ: Q = Q(
    "x_agg_merge",
    (s, d) => {
      val o = Tables.orders(s, d)
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderpriority")).agg(
          count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("sum_total"),
          min(col("o_totalprice")).as("min_total"),
          max(col("o_totalprice")).as("max_total"))
      val prev = aggOf(o.filter(col("o_orderdate") < "1997-01-01"))
      val delta = aggOf(o.filter(col("o_orderdate") >= "1997-01-01"))
      Relational.mergeDistributive(prev, delta, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("cnt"),
          col("sum_total").cast("double").as("sum_total"),
          col("min_total"), col("max_total"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total,
             MIN(o_totalprice) AS min_total, MAX(o_totalprice) AS max_total
      FROM orders GROUP BY 1
    """.trim)
  )

  /** Seasonality profile: the day-of-week × hour activity heatmap with
    * each cell's share of total traffic — the periodic structure a
    * changepoint or anomaly readout must be interpreted against. ONE
    * map-side-combined pass to the ≤168-cell grid; shares are one
    * divide of exact counts over a window on that grid. Day-of-week is
    * ISO (1 = Monday) via the engine-portable date_format('E') →
    * explicit mapping on the Spark side and isodow() in DuckDB. */
  val seasonalityQ: Q = Q(
    "x_seasonality",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, d)
        .groupBy(
          weekday(to_date(col("ts"))).cast("int").+(1).as("dow"), // weekday(): 0 = Monday
          hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy()), 6))
    },
    Some("""
      WITH g AS (SELECT CAST(isodow(ts) AS INT) AS dow,
                        CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
                        COUNT(*) AS n
                 FROM events GROUP BY 1, 2)
      SELECT dow, hr, n,
             ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
      FROM g
    """.trim)
  )

  /** Daily changepoint (EventAnalytics.changepointDaily scaladoc:
    * exact exhaustive single split on the tiny daily table; BIGINT
    * prefix sums, two final divides). The oracle replays the identical
    * prefix arithmetic and tie order. */
  val changepointQ: Q = Q(
    "x_changepoint",
    (s, d) => EventAnalytics.changepointDaily(Tables.events(s, d)),
    Some("""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1),
      tot AS (SELECT COUNT(*) AS nd, CAST(SUM(c) AS BIGINT) AS st FROM daily),
      p AS (SELECT day,
                   COUNT(*) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nb,
                   CAST(SUM(c) OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sb
            FROM daily),
      sc AS (SELECT day, nb, sb, nd, st,
                    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
                    CAST(st - sb AS DOUBLE) / CAST(nd - nb AS DOUBLE) AS ma
             FROM p, tot WHERE nb < nd)
      SELECT day AS split_day, nb AS n_days_before,
             CAST(nd - nb AS BIGINT) AS n_days_after,
             ROUND(mb, 6) AS mean_before, ROUND(ma, 6) AS mean_after,
             ROUND(ABS(mb - ma), 6) AS delta
      FROM sc ORDER BY ABS(mb - ma) DESC, day LIMIT 1
    """.trim)
  )

  /** Weekly cohort retention (EventAnalytics.retention: cohort = min-ts
    * window over the same single user_id exchange, Monday-truncated
    * weeks, integer week offsets). */
  val retentionQ: Q = Q(
    "x_retention",
    (s, d) => EventAnalytics.retention(Tables.events(s, d)),
    Some("""
      WITH f AS (SELECT user_id, ts, MIN(ts) OVER (PARTITION BY user_id) AS fts FROM events),
      wk AS (SELECT DISTINCT user_id,
                    strftime(date_trunc('week', fts), '%Y-%m-%d') AS cohort_week,
                    CAST(datediff('day', date_trunc('week', fts), date_trunc('week', ts)) // 7
                         AS INT) AS week_offset
             FROM f)
      SELECT cohort_week, week_offset, COUNT(*) AS n_users FROM wk GROUP BY 1, 2
    """.trim)
  )

  /** Daily-series autocorrelation at lags 1..7 (EventAnalytics
    * .acfDaily scaladoc: one data-sized exchange to the day grid,
    * integer-centered deviations N·x−S so the mean never floats, one
    * final divide). The oracle replays the identical centered-integer
    * estimator in HUGEINT. */
  val acfQ: Q = Q(
    "x_acf",
    (s, d) => EventAnalytics.acfDaily(Tables.events(s, d), maxLag = 7),
    Some {
      val lags = 1 to 7
      val lagCols = lags.map(k => s"LAG(dcent, $k) OVER (ORDER BY day) AS l$k").mkString(", ")
      val branches = lags.map(k =>
        s"SELECT CAST($k AS BIGINT) AS lag, dcent * l$k AS prod FROM l").mkString("\nUNION ALL\n")
      s"""
      WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(c) AS BIGINT) AS st FROM daily),
      b AS (SELECT day, CAST(nd * c - st AS HUGEINT) AS dcent FROM daily, tot),
      den AS (SELECT SUM(dcent * dcent) AS den FROM b),
      l AS (SELECT dcent, $lagCols FROM b),
      s AS ($branches)
      SELECT lag, CAST(COUNT(prod) AS BIGINT) AS n_pairs,
             ROUND(CAST(SUM(prod) AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
      FROM s, den GROUP BY lag, den
      """.trim
    }
  )

  /** Calendar-spine gap fill (Relational.calendarFillDaily scaladoc:
    * distributed sequence()-explode spine from a 1-row bounds sidecar,
    * grid⋈grid zero-fill join, decimal revenue). The oracle builds the
    * same spine with generate_series. */
  val gapFillQ: Q = Q(
    "x_gap_fill",
    (s, d) => Relational.calendarFillDaily(Tables.orders(s, d)),
    Some("""
      WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                        MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      days AS (SELECT CAST(gs AS DATE) AS day
               FROM b, unnest(generate_series(CAST(d0 AS TIMESTAMP),
                      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS t(gs)),
      p AS (SELECT DISTINCT o_orderpriority FROM orders),
      agg AS (SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
                     COUNT(*) AS n, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
              FROM orders GROUP BY 1, 2)
      SELECT day, o_orderpriority,
             CAST(COALESCE(n, 0) AS BIGINT) AS n_orders,
             CAST(COALESCE(rev, 0) AS DOUBLE) AS revenue
      FROM days CROSS JOIN p LEFT JOIN agg USING (day, o_orderpriority)
    """.trim)
  )

  /** Exact bitmap distinct counting (Relational.bitmapDistinct
    * scaladoc: (group, id⟫5) one-hot words OR-merged, popcount
    * rollup — exact AND mergeable, unlike COUNT(DISTINCT)). The
    * oracle is the direct COUNT(DISTINCT) — passing proves the bitmap
    * decomposition exactly reproduces it. */
  val bitmapDistinctQ: Q = Q(
    "x_bitmap_distinct",
    (s, d) => Relational.bitmapDistinct(Tables.events(s, d), "event_type", "user_id"),
    Some("""
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id // 32) AS BIGINT) AS n_words,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
      FROM events GROUP BY 1
    """.trim)
  )

  /** RFM segmentation cube (Relational.rfmSegments scaladoc: customer
    * metric collapse + three exactNtile range-shuffles, integer-cents
    * monetary). The oracle replays the three quintiles with DuckDB's
    * NTILE over the identical total tie order — the exactNtile
    * definition is NTILE's, so they agree row-for-row. */
  val rfmQ: Q = Q(
    "x_rfm",
    (s, d) => Relational.rfmSegments(Tables.orders(s, d)),
    Some("""
      WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      c AS (SELECT o_custkey,
                   datediff('day', MAX(CAST(o_orderdate AS DATE)), d1) AS rec,
                   COUNT(*) AS freq,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders, mx GROUP BY o_custkey, d1),
      q AS (SELECT *,
                   NTILE(5) OVER (ORDER BY rec, o_custkey) AS r_q,
                   NTILE(5) OVER (ORDER BY freq, o_custkey) AS f_q,
                   NTILE(5) OVER (ORDER BY cents, o_custkey) AS m_q
            FROM c)
      SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_customers,
             ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS total_revenue
      FROM q GROUP BY 1, 2, 3
    """.trim)
  )

  /** Time-bounded window funnel (EventAnalytics.windowFunnel
    * scaladoc: funnel's min-time chain + the t0+window ceiling on one
    * user_id exchange; histogram of per-user MAX levels). 3-day
    * window on view→click→purchase — the constraint binds (the
    * unbounded funnel converts everyone at sf0.01; median end-to-end
    * is ~3.7 days). The oracle replays the chain with the identical
    * window predicate. */
  val windowFunnelQ: Q = Q(
    "x_window_funnel",
    (s, d) => EventAnalytics.windowFunnel(Tables.events(s, d),
      Seq("view", "click", "purchase"), windowUs = 259200000000L),
    Some("""
      WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      s0 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_us END)
                         OVER (PARTITION BY user_id) AS t0 FROM b),
      s1 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND t0 IS NOT NULL AND ts_us > t0
                                     AND ts_us <= t0 + 259200000000
                                THEN ts_us END) OVER (PARTITION BY user_id) AS t1 FROM s0),
      s2 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND t1 IS NOT NULL AND ts_us > t1
                                     AND ts_us <= t0 + 259200000000
                                THEN ts_us END) OVER (PARTITION BY user_id) AS t2 FROM s1),
      u AS (SELECT user_id, MAX(t0) AS t0, MAX(t1) AS t1, MAX(t2) AS t2 FROM s2 GROUP BY 1),
      lv AS (SELECT CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2
                         WHEN t0 IS NOT NULL THEN 1 END AS level FROM u)
      SELECT level, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM lv WHERE level IS NOT NULL GROUP BY 1
    """.trim)
  )

  /** Cohort LTV matrix (Relational.ltvCohort scaladoc: cohort month
    * as a window min on one custkey exchange, exact integer month
    * indexes, decimal revenue with a grid-sized cumulative window).
    * The oracle replays the identical month arithmetic. */
  val ltvCohortQ: Q = Q(
    "x_ltv_cohort",
    (s, d) => Relational.ltvCohort(Tables.orders(s, d)),
    Some("""
      WITH b AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                        CAST(o_totalprice AS DECIMAL(18,4)) AS price FROM orders),
      c AS (SELECT *, year(d) * 12 + month(d) - 1 AS m FROM b),
      c2 AS (SELECT *, MIN(m) OVER (PARTITION BY o_custkey) AS cm FROM c),
      g AS (SELECT cm, m - cm AS month_offset,
                   COUNT(DISTINCT o_custkey) AS n_active, SUM(price) AS rev
            FROM c2 GROUP BY 1, 2),
      w AS (SELECT *, SUM(rev) OVER (PARTITION BY cm ORDER BY month_offset) AS cum FROM g)
      SELECT printf('%04d-%02d', cm // 12, cm % 12 + 1) AS cohort_month,
             month_offset, CAST(n_active AS BIGINT) AS n_active,
             ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
             ROUND(CAST(cum AS DOUBLE), 2) AS cum_revenue
      FROM w
    """.trim)
  )

  /** Item-item collaborative filtering (Recs.itemCf scaladoc:
    * basket-blocked self-join pair generator with the maxBasket skew
    * fuse, exact basket counts, one IEEE divide+sqrt the oracle
    * replays bit-identically, per-item top-k window). */
  val itemCfQ: Q = Q(
    "x_item_cf",
    (s, d) => Recs.itemCf(coMembership(s, d), assumeDistinct = true),
    Some("""
      WITH bi0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
      big AS (SELECT ok FROM bi0 GROUP BY ok HAVING COUNT(*) > 256),
      bi AS (SELECT * FROM bi0 WHERE ok NOT IN (SELECT ok FROM big)),
      cnt AS (SELECT item, COUNT(*) AS c FROM bi GROUP BY 1),
      p AS (SELECT a.item AS ia, b.item AS ib, COUNT(*) AS co
            FROM bi a JOIN bi b ON a.ok = b.ok AND a.item < b.item
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      sym AS (SELECT ia, ib, co FROM p UNION ALL SELECT ib, ia, co FROM p),
      sc AS (SELECT ia, ib, co,
                    CAST(co AS DOUBLE) / sqrt(CAST(ca.c * cb.c AS DOUBLE)) AS cosine
             FROM sym JOIN cnt ca ON ca.item = sym.ia JOIN cnt cb ON cb.item = sym.ib),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ia ORDER BY cosine DESC, ib) AS rank
            FROM sc)
      SELECT ia AS item, CAST(rank AS INT) AS rank, ib AS neighbor,
             CAST(co AS BIGINT) AS n_co, ROUND(cosine, 6) AS cosine
      FROM r WHERE rank <= 5
    """.trim)
  )

  /** Robust daily-series center/spread (DataQuality.madDaily scaladoc:
    * checkpointed day grid, exact doubled-integer medians — the /2
    * and /4 tails are exact binary scalings, zero float rounding).
    * The oracle replays the two rank-window medians in HUGEINT. */
  val madDailyQ: Q = Q(
    "x_mad_daily",
    (s, d) => DataQuality.madDaily(Tables.events(s, d)),
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
                     FROM events GROUP BY 1, 2),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, day) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n FROM daily),
      m AS (SELECT event_type, MAX(n) AS n_days,
                   SUM(CASE WHEN rn = (n + 1) // 2 THEN c END) +
                   SUM(CASE WHEN rn = (n + 2) // 2 THEN c END) AS median2
            FROM r GROUP BY 1),
      d AS (SELECT daily.event_type, day, ABS(2 * c - median2) AS dd
            FROM daily JOIN m USING (event_type)),
      r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dd, day) AS rn,
                    COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
      m2 AS (SELECT event_type,
                    SUM(CASE WHEN rn = (n + 1) // 2 THEN dd END) +
                    SUM(CASE WHEN rn = (n + 2) // 2 THEN dd END) AS mad4
             FROM r2 GROUP BY 1)
      SELECT m.event_type, CAST(n_days AS BIGINT) AS n_days,
             CAST(median2 AS DOUBLE) / 2 AS median_daily,
             CAST(mad4 AS DOUBLE) / 4 AS mad_daily
      FROM m JOIN m2 USING (event_type)
    """.trim)
  )

  /** Theil–Sen robust daily trend (DataQuality.theilSenDaily scaladoc:
    * exact-integer pairwise slopes under one double divide, rank-
    * selected median under the (slope, d1, d2) total order, NULL
    * witness for single-day types). The oracle replays the pair build
    * and the dual middle-rank selection. */
  val theilSenQ: Q = Q(
    "x_theil_sen",
    (s, d) => DataQuality.theilSenDaily(Tables.events(s, d)),
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
                     FROM events GROUP BY 1, 2),
      dd AS (SELECT event_type, day - DATE '1970-01-01' AS d, c FROM daily),
      pr AS (SELECT a.event_type, a.d AS d1, b.d AS d2,
                    CAST(b.c - a.c AS DOUBLE) / (b.d - a.d) AS slope
             FROM dd a JOIN dd b ON a.event_type = b.event_type AND a.d < b.d),
      rk AS (SELECT event_type, slope,
                    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope, d1, d2) AS rn,
                    COUNT(*) OVER (PARTITION BY event_type) AS n
             FROM pr),
      med AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                     (SUM(CASE WHEN rn = (n + 1) // 2 THEN slope END) +
                      SUM(CASE WHEN rn = (n + 2) // 2 THEN slope END)) / 2 AS m
              FROM rk GROUP BY 1),
      nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM dd GROUP BY 1)
      SELECT nd.event_type, n_days,
             COALESCE(n_pairs, 0) AS n_pairs,
             ROUND(m, 6) AS ts_slope
      FROM nd LEFT JOIN med USING (event_type)
    """.trim)
  )

  /** Conjunctive boolean retrieval over the persisted inverted index
    * (Corpus.booleanSearchIndexed scaladoc: pushdown-pruned postings
    * probe, count==nTerms IS the set intersection, TakeOrdered top-k).
    * Same index directory as x_bm25_indexed — one build serves both
    * probe shapes. The oracle replays the intersection from the raw
    * documents with the identical whitespace tokenizer. */
  val boolSearchQ: Q = Q(
    "x_bool_search",
    (s, d) => graft.corpus.Corpus.booleanSearchIndexed(
      s, invIndexFor(s, d), Seq("spark", "merge", "vector"), k = 20),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
                           len(regexp_split_to_array(text, '\s+')) AS dl
                    FROM documents),
      tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
             WHERE tok IN ('spark', 'merge', 'vector') GROUP BY 1, 2, 3),
      hits AS (SELECT doc_id, dl, SUM(tf) AS total_tf
               FROM tf GROUP BY 1, 2 HAVING COUNT(*) = 3)
      SELECT doc_id, dl, CAST(total_tf AS BIGINT) AS total_tf
      FROM hits ORDER BY total_tf DESC, doc_id LIMIT 20
    """.trim)
  )

  /** SES forecast of the per-type daily series (EventAnalytics
    * .sesForecastDaily scaladoc: α=3/10 recursion entirely in integer
    * micro-units — (7·s6 + 3·x6 + 5) div 10 — so a recursive CTE
    * replays it bit-for-bit; per-type day-array fold, never a
    * data-sized window). */
  val sesForecastQ: Q = Q(
    "x_ses_forecast",
    (s, d) => EventAnalytics.sesForecastDaily(Tables.events(s, d)),
    Some("""
      WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
                    COUNT(*) OVER (PARTITION BY event_type) AS n FROM daily),
      rec AS (
        SELECT event_type, rn, n, c * 1000000 AS s6, CAST(0 AS BIGINT) AS err6
        FROM rk WHERE rn = 1
        UNION ALL
        SELECT rk.event_type, rk.rn, rk.n,
               (rec.s6 * 7 + rk.c * 3000000 + 5) // 10,
               rec.err6 + ABS(rk.c * 1000000 - rec.s6)
        FROM rec JOIN rk ON rk.event_type = rec.event_type AND rk.rn = rec.rn + 1)
      SELECT event_type, CAST(n AS BIGINT) AS n_days,
             ROUND(CAST(s6 AS DOUBLE) / 1000000, 6) AS level,
             CASE WHEN n > 1
                  THEN ROUND(CAST(err6 AS DOUBLE) / 1000000 / (n - 1), 6) END AS mae
      FROM rec WHERE rn = n
    """.trim)
  )

  /** Peak session concurrency (EventAnalytics.peakConcurrency
    * scaladoc: sessionize intervals → ±1 boundary deltas → exact
    * distributed two-phase prefix sum, max + first attainment). The
    * oracle replays the sweep with a single global running-sum window
    * — tractable there, the very thing the engine's two-phase split
    * avoids at scale. */
  val concurrencyQ: Q = Q(
    "x_concurrency",
    (s, d) => EventAnalytics.peakConcurrency(Tables.events(s, d), gapSec = 1800L),
    Some("""
      WITH m AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000
                    THEN 1 ELSE 0 END AS nw
        FROM events),
      s AS (SELECT user_id, ts_us,
                   SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM m),
      sess AS (SELECT user_id, session_idx, MIN(ts_us) AS t0, MAX(ts_us) AS t1
               FROM s GROUP BY 1, 2),
      d AS (SELECT t0 AS t, 1 AS dd FROM sess UNION ALL SELECT t1 + 1, -1 FROM sess),
      g AS (SELECT t, SUM(dd) AS net FROM d GROUP BY 1),
      r AS (SELECT t, SUM(net) OVER (ORDER BY t) AS conc FROM g),
      p AS (SELECT MAX(conc) AS pk FROM r)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
             CAST(pk AS BIGINT) AS peak_concurrency,
             (SELECT MIN(t) FROM r, p WHERE conc = pk) AS peak_at_us
      FROM p
    """.trim)
  )

  /** ABC / Pareto classification (Relational.abcClassification
    * scaladoc: per-part collapse, distributed prefixSum over
    * (revenue desc, partkey), exact cross-multiplied integer-cents
    * cuts). The oracle replays the cumulative share with one global
    * window — tractable in SQL, the thing prefixSum avoids at scale. */
  val abcQ: Q = Q(
    "x_abc_class",
    (s, d) => Relational.abcClassification(Tables.lineitem(s, d)),
    Some("""
      WITH rev AS (SELECT l_partkey,
                          CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
                   FROM lineitem GROUP BY 1),
      c AS (SELECT *, SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum FROM rev),
      t AS (SELECT MAX(cum) AS tot FROM c)
      SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                  WHEN cum * 20 <= tot * 19 THEN 'B' ELSE 'C' END AS abc_class,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS revenue,
             ROUND(CAST(SUM(cents) AS DOUBLE) / tot, 6) AS share
      FROM c, t GROUP BY 1, tot
    """.trim)
  )

  /** Inter-order purchase cadence (Relational.interOrderGapProfile
    * scaladoc: one custkey lag exchange, integer-day frequency grid,
    * rank statistics off running counts — never a sort of the gap
    * table). The oracle replays the same grid and rank definitions. */
  val interOrderGapQ: Q = Q(
    "x_interorder_gap",
    (s, d) => Relational.interOrderGapProfile(Tables.orders(s, d)),
    Some("""
      WITH g AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders),
      l AS (SELECT datediff('day', lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey), d) AS gap
            FROM g),
      gg AS (SELECT gap, COUNT(*) AS cnt FROM l WHERE gap IS NOT NULL GROUP BY 1),
      r AS (SELECT *, SUM(cnt) OVER (ORDER BY gap) AS rc FROM gg),
      t AS (SELECT MAX(rc) AS n, SUM(gap * cnt) AS gs FROM r)
      SELECT CAST(n AS BIGINT) AS n_gaps,
             ROUND(CAST(gs AS DOUBLE) / n, 6) AS mean_gap,
             CAST((SELECT MIN(gap) FROM r, t WHERE rc >= (n + 1) // 2) +
                  (SELECT MIN(gap) FROM r, t WHERE rc >= (n + 2) // 2) AS DOUBLE) / 2 AS median_gap,
             CAST((SELECT MIN(gap) FROM r, t WHERE rc * 10 >= n * 9) AS INT) AS p90_gap
      FROM t
    """.trim)
  )

  /** Eventually-follows matrix (EventAnalytics.seqPairs scaladoc:
    * per-session per-type (min, max) envelopes on the session-marking
    * exchange, domain²-bounded in-row pair generation — never an
    * event self-join). The oracle joins the envelope table with the
    * same strict a.t0 < b.t1 precedence predicate. */
  val seqPairsQ: Q = Q(
    "x_seq_pairs",
    (s, d) => EventAnalytics.seqPairs(Tables.events(s, d), gapSec = 1800L),
    Some("""
      WITH m AS (
        SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000
                    THEN 1 ELSE 0 END AS nw
        FROM events),
      s AS (SELECT user_id, event_type, ts_us,
                   SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM m),
      env AS (SELECT user_id, session_idx, event_type,
                     MIN(ts_us) AS t0, MAX(ts_us) AS t1
              FROM s GROUP BY 1, 2, 3),
      ns AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, session_idx FROM env)),
      p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_sessions
            FROM env a JOIN env b
              ON a.user_id = b.user_id AND a.session_idx = b.session_idx
             AND a.event_type <> b.event_type AND a.t0 < b.t1
            GROUP BY 1, 2)
      SELECT type_a, type_b, n_sessions,
             ROUND(CAST(n_sessions AS DOUBLE) / n, 6) AS support
      FROM p, ns
    """.trim)
  )

  /** Multi-touch attribution depth (EventAnalytics.multiTouch
    * scaladoc: strict-past RANGE-frame view count on one user_id
    * exchange — the log is never self-joined; decimal value mass). */
  val multiTouchQ: Q = Q(
    "x_multi_touch",
    (s, d) => EventAnalytics.multiTouch(Tables.events(s, d), horizonSec = 3600L),
    Some("""
      WITH b AS (SELECT user_id, event_type, value, epoch_us(ts) AS ts_us FROM events),
      k AS (SELECT *, SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts_us
                              RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING) AS kk
            FROM b)
      SELECT CAST(COALESCE(kk, 0) AS BIGINT) AS n_touches, CAST(COUNT(*) AS BIGINT) AS n_purchases,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value
      FROM k WHERE event_type = 'purchase' GROUP BY 1
    """.trim)
  )

  /** Two-sample KS drift gate (DataQuality.ksDrift scaladoc: shared
    * value grid, exact cross-multiplied integer ECDF gaps, one final
    * divide; smallest attaining value reported). */
  val ksDriftQ: Q = Q(
    "x_ks_drift",
    (s, d) => DataQuality.ksDrift(Tables.documents(s, d), "src0", "src1"),
    Some("""
      WITH g AS (SELECT n_chars AS v,
                        SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
                        SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
                 FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
      r AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS ra, SUM(cb) OVER (ORDER BY v) AS rb FROM g),
      t AS (SELECT MAX(ra) AS na, MAX(rb) AS nb FROM r),
      gp AS (SELECT v, ABS(ra * nb - rb * na) AS dnum, na, nb FROM r, t),
      m AS (SELECT MAX(dnum) AS mx FROM gp)
      SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
             ROUND(CAST(MAX(dnum) AS DOUBLE) / (MAX(na) * MAX(nb)), 6) AS ks_d,
             MIN(v) AS ks_at
      FROM gp, m WHERE dnum = mx
    """.trim)
  )

  /** Kaplan–Meier customer-lifetime survival (Relational.kmSurvival
    * scaladoc: right-censoring at 30 days, grid at-risk counts,
    * scaled-integer product recursion (2·s9·(n−d)+n) div (2n) that the
    * recursive-CTE oracle replays bit-for-bit). */
  val survivalQ: Q = Q(
    "x_survival",
    (s, d) => Relational.kmSurvival(Tables.orders(s, d), censorDays = 30),
    Some("""
      WITH RECURSIVE pc AS (SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
                                   MAX(CAST(o_orderdate AS DATE)) AS l
                            FROM orders GROUP BY 1),
      h AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
      life AS (SELECT datediff('day', f, l) AS t,
                      CASE WHEN datediff('day', l, dmax) > 30 THEN 1 ELSE 0 END AS ev
               FROM pc, h),
      grid AS (SELECT t, COUNT(*) AS tot, SUM(ev) AS d FROM life GROUP BY 1),
      nn AS (SELECT COUNT(*) AS n FROM life),
      rk AS (SELECT t, d,
                    n - COALESCE(SUM(tot) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS risk
             FROM grid, nn),
      e AS (SELECT t, risk, d, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM rk WHERE d > 0),
      rec AS (
        SELECT t, risk, d, rn,
               (2 * 1000000000 * (risk - d) + risk) // (2 * risk) AS s9
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.t, e.risk, e.d, e.rn,
               (2 * rec.s9 * (e.risk - e.d) + e.risk) // (2 * e.risk)
        FROM rec JOIN e ON e.rn = rec.rn + 1)
      SELECT t AS duration_days, CAST(risk AS BIGINT) AS n_risk,
             CAST(d AS BIGINT) AS n_events,
             ROUND(CAST(s9 AS DOUBLE) / 1000000000, 6) AS survival
      FROM rec
    """.trim)
  )

  /** New-vs-returning daily split (EventAnalytics.newVsReturning
    * scaladoc: distinct (user, day) + first-day window on one user_id
    * exchange — never a first-seen self-join). */
  val newVsReturningQ: Q = Q(
    "x_new_returning",
    (s, d) => EventAnalytics.newVsReturning(Tables.events(s, d)),
    Some("""
      WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      m AS (SELECT *, MIN(day) OVER (PARTITION BY user_id) AS fd FROM du)
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(COUNT(*) - SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
             ROUND(CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS new_share
      FROM m GROUP BY 1
    """.trim)
  )

  /** Top day-over-day movers (EventAnalytics.topMovers scaladoc: grid
    * lag + TakeOrdered total order (|Δ| desc, day, type)). */
  val topMoversQ: Q = Q(
    "x_top_movers",
    (s, d) => EventAnalytics.topMovers(Tables.events(s, d), k = 10),
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
                     FROM events GROUP BY 1, 2),
      l AS (SELECT *, lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n FROM daily)
      SELECT day, event_type, CAST(prev_n AS BIGINT) AS prev_n, CAST(n AS BIGINT) AS n,
             CAST(n - prev_n AS BIGINT) AS delta
      FROM l WHERE prev_n IS NOT NULL
      ORDER BY ABS(n - prev_n) DESC, day, event_type LIMIT 10
    """.trim)
  )

  /** Holt linear-trend forecast (EventAnalytics.holtForecastDaily
    * scaladoc: both recursions in integer micro-units with a PORTABLE
    * floor((t+5)/10) built from the non-negative remainder, because
    * trend can be negative and both engines' div truncates). The
    * oracle unwinds both state updates per step in a recursive CTE. */
  val holtQ: Q = Q(
    "x_holt",
    (s, d) => EventAnalytics.holtForecastDaily(Tables.events(s, d)),
    Some("""
      WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
                    COUNT(*) OVER (PARTITION BY event_type) AS n FROM daily),
      rec AS (
        SELECT event_type, rn, n, c * 1000000 AS l6, CAST(0 AS BIGINT) AS b6
        FROM rk WHERE rn = 1
        UNION ALL
        SELECT event_type, rn, n, l6p,
               ((2 * (l6p - l0) + 8 * b0 + 5)
                - (((2 * (l6p - l0) + 8 * b0 + 5) % 10 + 10) % 10)) // 10
        FROM (
          SELECT rk.event_type, rk.rn, rk.n, rec.l6 AS l0, rec.b6 AS b0,
                 ((3000000 * rk.c + 7 * (rec.l6 + rec.b6) + 5)
                  - (((3000000 * rk.c + 7 * (rec.l6 + rec.b6) + 5) % 10 + 10) % 10)) // 10 AS l6p
          FROM rec JOIN rk ON rk.event_type = rec.event_type AND rk.rn = rec.rn + 1))
      SELECT event_type, CAST(n AS BIGINT) AS n_days,
             ROUND(CAST(l6 AS DOUBLE) / 1000000, 6) AS level,
             ROUND(CAST(b6 AS DOUBLE) / 1000000, 6) AS trend,
             ROUND(CAST(l6 + 7 * b6 AS DOUBLE) / 1000000, 6) AS forecast_7
      FROM rec WHERE rn = n
    """.trim)
  )

  /** Bloom semi-join reduction (Relational.bloomPrunedJoin scaladoc:
    * small-side key bloom probed on the big side BEFORE the exchange;
    * no false negatives, so the result — and therefore this oracle —
    * is exactly the plain join). */
  val bloomJoinQ: Q = Q(
    "x_bloom_join",
    (s, d) => {
      val quarter = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderpriority"))
      Relational.bloomPrunedJoin(Tables.lineitem(s, d), quarter,
          "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("revenue"))
    },
    Some("""
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY 1
    """.trim)
  )

  /** Incremental join maintenance (Relational.joinDeltaRows scaladoc:
    * Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB). Both tables split into
    * base/delta (orders by date, customers by key residue), the view
    * maintained incrementally; the oracle is the DIRECT join of the
    * full tables — passing proves the delta algebra reconstructs it
    * exactly. */
  val joinDeltaQ: Q = Q(
    "x_join_delta",
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val cut = lit("1999-01-01").cast("timestamp")
      val (aOld, aDelta) = (o.filter(col("o_orderdate") < cut),
        o.filter(col("o_orderdate") >= cut))
      val (bOld, bDelta) = (c.filter(col("c_custkey") % 10 =!= 0),
        c.filter(col("c_custkey") % 10 === 0))
      val v0 = aOld.join(bOld, col("o_custkey") === col("c_custkey"))
      val maintained = v0.unionByName(Relational.joinDeltaRows(
        aOld, aDelta, bOld, bDelta, "o_custkey", "c_custkey"))
      maintained.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
    },
    Some("""
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    """.trim)
  )

  /** Watermark-sizing profile (EventAnalytics.watermarkProfile
    * scaladoc: arrival-order high-water mark via the distributed
    * prefixMax — never a single-partition window over the log —
    * then rank stats off the bounded seconds grid). */
  val watermarkQ: Q = Q(
    "x_watermark_profile",
    (s, d) => EventAnalytics.watermarkProfile(Tables.events(s, d)),
    Some("""
      WITH b AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
      r AS (SELECT ts_us, MAX(ts_us) OVER (ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm FROM b),
      g AS (SELECT (hwm - ts_us) // 1000000 AS late_s, COUNT(*) AS cnt FROM r GROUP BY 1),
      rr AS (SELECT *, SUM(cnt) OVER (ORDER BY late_s) AS rc FROM g),
      t AS (SELECT MAX(rc) AS n FROM rr)
      SELECT CAST(MAX(n) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN late_s > 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_late,
             MAX(late_s) AS max_late_s,
             MIN(CASE WHEN rc * 100 >= n * 99 THEN late_s END) AS p99_late_s,
             MIN(CASE WHEN rc * 1000 >= n * 999 THEN late_s END) AS p999_late_s
      FROM rr, t
    """.trim)
  )

  /** Trailing-7-day exact p90 per type (EventAnalytics.rollingP90Daily
    * scaladoc: constant-frame in-row sort, rank ⌈0.9n⌉). The oracle
    * replays the frame with a window array_agg + list_sort. */
  val rollingP90Q: Q = Q(
    "x_rolling_p90",
    (s, d) => EventAnalytics.rollingP90Daily(Tables.events(s, d), window = 7),
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
                     FROM events GROUP BY 1, 2),
      w AS (SELECT event_type, day,
                   list_sort(array_agg(c) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
            FROM daily)
      SELECT event_type, day, CAST(len(arr) AS BIGINT) AS n_window,
             arr[CAST(ceil(0.9 * len(arr)) AS INT)] AS p90
      FROM w
    """.trim)
  )

  /** Calendar-correct week-over-week growth (EventAnalytics.wowGrowth
    * scaladoc: grid⋈grid self-join on day−7 — a positional lag(7)
    * would silently skip gaps; NULL discloses a missing comparison). */
  val wowGrowthQ: Q = Q(
    "x_wow_growth",
    (s, d) => EventAnalytics.wowGrowth(Tables.events(s, d)),
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
                     FROM events GROUP BY 1, 2)
      SELECT a.event_type, a.day, a.n, b.n AS prev_week_n,
             ROUND(CAST(a.n - b.n AS DOUBLE) * 100 / b.n, 6) AS growth_pct
      FROM daily a LEFT JOIN daily b
        ON a.event_type = b.event_type AND b.day = a.day - INTERVAL 7 DAY
    """.trim)
  )

  /** Per-source governance report (Corpus.sourceReport scaladoc: one
    * fingerprint exchange with an on-partition duplicate-count window,
    * one source rollup; cross-source copies count in every carrying
    * source). */
  val sourceReportQ: Q = Q(
    "x_source_report",
    (s, d) => graft.corpus.Corpus.sourceReport(Tables.documents(s, d)),
    Some("""
      WITH b AS (SELECT source, md5(text) AS fp,
                        len(regexp_split_to_array(text, '\s+')) AS nt FROM documents),
      m AS (SELECT *, COUNT(*) OVER (PARTITION BY fp) AS fpc FROM b)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
             CAST(SUM(CASE WHEN fpc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             ROUND(CAST(SUM(CASE WHEN fpc > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_share
      FROM m GROUP BY 1
    """.trim)
  )

  /** Token-budget waterfilling (Corpus.tokenWaterfill scaladoc:
    * max-min-fair source caps from exact integer arithmetic on the
    * sorted source grid; the oracle replays the boundary scan with
    * the identical sandwich condition). Budget 20000 < the sf0.01
    * corpus (~27k tokens) so the cap binds. */
  val waterfillQ: Q = Q(
    "x_token_waterfill",
    (s, d) => graft.corpus.Corpus.tokenWaterfill(Tables.documents(s, d), budget = 20000L),
    Some("""
      WITH t AS (SELECT source,
                        CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS tok
                 FROM documents GROUP BY 1),
      g AS (SELECT *, ROW_NUMBER() OVER (ORDER BY tok, source) AS rn,
                   SUM(tok) OVER (ORDER BY tok, source) AS pre,
                   COALESCE(LAG(tok) OVER (ORDER BY tok, source), 0) AS ptok,
                   COUNT(*) OVER () AS n, SUM(tok) OVER () AS total FROM t),
      c AS (SELECT MIN((20000 - (pre - tok)) // (n - rn + 1)) AS cap
            FROM g WHERE total > 20000
              AND (20000 - (pre - tok)) // (n - rn + 1) >= ptok
              AND (20000 - (pre - tok)) // (n - rn + 1) < tok)
      SELECT source, tok AS tokens,
             CAST(CASE WHEN total <= 20000 THEN tok ELSE LEAST(tok, cap) END AS BIGINT) AS alloc,
             (total > 20000 AND tok > cap) AS capped
      FROM g, c
    """.trim)
  )

  /** Per-segment mean with 95% CI (Relational.segmentCi scaladoc:
    * exact integer-cents moments, one IEEE sqrt/divide tail the
    * oracle mirrors operation-for-operation). */
  val segmentCiQ: Q = Q(
    "x_segment_ci",
    (s, d) => Relational.segmentCi(Tables.orders(s, d)),
    Some("""
      WITH b AS (SELECT o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
                 FROM orders),
      g AS (SELECT o_orderpriority, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2
            FROM b GROUP BY 1)
      SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
             ROUND(CAST(s1 AS DOUBLE) / n / 100.0, 2) AS mean,
             CASE WHEN n > 1 THEN ROUND(CAST(s1 AS DOUBLE) / n / 100.0
               - 1.96 * sqrt((CAST(n * s2 - s1 * s1 AS DOUBLE)
                              / CAST(n * (n - 1) AS DOUBLE)) / CAST(n AS DOUBLE)) / 100.0, 2)
             END AS ci_lo,
             CASE WHEN n > 1 THEN ROUND(CAST(s1 AS DOUBLE) / n / 100.0
               + 1.96 * sqrt((CAST(n * s2 - s1 * s1 AS DOUBLE)
                              / CAST(n * (n - 1) AS DOUBLE)) / CAST(n AS DOUBLE)) / 100.0, 2)
             END AS ci_hi
      FROM g
    """.trim)
  )

  /** Behavior-set segmentation (EventAnalytics.behaviorProfiles
    * scaladoc: per-user type sets on one exchange, canonical in-row
    * label, ≤2^types grid). */
  val behaviorQ: Q = Q(
    "x_behavior_profiles",
    (s, d) => EventAnalytics.behaviorProfiles(Tables.events(s, d)),
    Some("""
      WITH u AS (SELECT user_id,
                        list_sort(list_distinct(array_agg(event_type))) AS ts
                 FROM events GROUP BY 1)
      SELECT array_to_string(ts, '+') AS behavior,
             CAST(len(ts) AS INT) AS n_types,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM u GROUP BY 1, 2
    """.trim)
  )

  /** Revenue mix by part price decile (Relational.priceDecileMix
    * scaladoc: exactNtile on the part table — no single-partition
    * NTILE — then a broadcast dimension join; DuckDB's NTILE over the
    * identical total order replays the cut). */
  val priceDecileQ: Q = Q(
    "x_price_decile_mix",
    (s, d) => Relational.priceDecileMix(Tables.lineitem(s, d), Tables.part(s, d)),
    Some("""
      WITH dec AS (SELECT p_partkey,
                          NTILE(10) OVER (ORDER BY p_retailprice, p_partkey) AS price_decile
                   FROM part),
      j AS (SELECT price_decile, l_partkey, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem JOIN dec ON l_partkey = p_partkey)
      SELECT price_decile, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS revenue
      FROM j GROUP BY 1
    """.trim)
  )

  /** Exact customer-revenue Gini (Relational.giniRevenue scaladoc:
    * integer-cents collapse, globalRank two-phase rank — no
    * single-partition sort — exact DECIMAL(38,0) moment sums, mirrored
    * IEEE tail). The oracle replays rank and formula identically. */
  val giniQ: Q = Q(
    "x_gini_customers",
    (s, d) => Relational.giniRevenue(Tables.orders(s, d)),
    Some("""
      WITH rev AS (SELECT o_custkey,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
      rk AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS r FROM rev),
      t AS (SELECT COUNT(*) AS n, SUM(cents) AS s, SUM(r * cents) AS w FROM rk)
      SELECT CAST(n AS BIGINT) AS n_customers,
             ROUND(CAST(s AS DOUBLE) / 100, 2) AS total_revenue,
             ROUND(2.0 * CAST(w AS DOUBLE) / (n * CAST(s AS DOUBLE))
                   - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
      FROM t
    """.trim)
  )

  /** Theil T inequality over customer revenue (Relational.theilRevenue
    * scaladoc: exact cent base, exact decimal total, per-term
    * ROUND-then-DECIMAL before summing so the one transcendental — ln —
    * never rides an order-dependent double fold). */
  val theilQ: Q = Q(
    "x_theil",
    (s, d) => Relational.theilRevenue(Tables.orders(s, d)),
    Some("""
      WITH rev AS (SELECT o_custkey,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
      pos AS (SELECT * FROM rev WHERE cents > 0),
      tot AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS DECIMAL(38,0)) AS s FROM pos),
      terms AS (SELECT n,
                       CAST(ROUND((CAST(cents AS DOUBLE) * n / CAST(s AS DOUBLE)) *
                                  LN(CAST(cents AS DOUBLE) * n / CAST(s AS DOUBLE)), 6)
                            AS DECIMAL(18,6)) AS term
                FROM pos, tot)
      SELECT CAST(n AS BIGINT) AS n_customers,
             ROUND(CAST(SUM(term) AS DOUBLE) / n, 6) AS theil,
             ROUND(CAST(SUM(term) AS DOUBLE) / n / LN(CAST(n AS DOUBLE)), 6) AS theil_norm
      FROM terms GROUP BY n
    """.trim)
  )

  /** Markov removal-effect attribution (EventAnalytics
    * .markovAttribution scaladoc: journeys truncated at first
    * conversion, variant-keyed matrix with removal redirects,
    * fixed-point DECIMAL(18,12) chain arithmetic, L-step absorption).
    * The oracle unrolls all `steps` propagation rounds as generated
    * CTEs over the identical variant-keyed matrix — every rounding
    * point in the chain algebra is hash-pinned. */
  val markovAttributionQ: Q = {
    val steps = 8
    val iterCtes = (1 to steps).map { n =>
      s"""v$n AS (SELECT v${n - 1}.v, mx.j AS state,
             CAST(ROUND(SUM(v${n - 1}.m * mx.p), 12) AS DECIMAL(18,12)) AS m
      FROM v${n - 1} JOIN mx ON v${n - 1}.v = mx.v AND v${n - 1}.state = mx.i
      GROUP BY 1, 2)"""
    }.mkString(",\n      ")
    Q(
      "x_markov_attribution",
      (s, d) => EventAnalytics.markovAttribution(Tables.events(s, d),
        convType = "purchase", steps = steps),
      Some(s"""
      WITH b AS (SELECT user_id, event_id, ts, event_type,
                        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                 FROM events),
      fc AS (SELECT user_id, MIN(rn) AS crn FROM b
             WHERE event_type = 'purchase' GROUP BY 1),
      jn AS (SELECT b.user_id, rn, crn,
                    CASE WHEN event_type = 'purchase' THEN '_CONV'
                         ELSE event_type END AS state
             FROM b LEFT JOIN fc ON b.user_id = fc.user_id
             WHERE crn IS NULL OR rn <= crn),
      tr AS (SELECT COALESCE(lag(state) OVER (PARTITION BY user_id ORDER BY rn),
                             '_START') AS i,
                    state AS j
             FROM jn
             UNION ALL
             SELECT arg_max(state, rn) AS i, '_NULL' AS j
             FROM jn WHERE crn IS NULL GROUP BY user_id),
      cnt AS (SELECT i, j, COUNT(*) AS c FROM tr GROUP BY 1, 2),
      prob AS (SELECT i, j,
                      CAST(ROUND(CAST(c AS DOUBLE) / tot, 12) AS DECIMAL(18,12)) AS p
               FROM cnt JOIN (SELECT i, SUM(c) AS tot FROM cnt GROUP BY 1) t USING (i)),
      ch AS (SELECT DISTINCT s FROM
               (SELECT i AS s FROM cnt UNION ALL SELECT j AS s FROM cnt)
             WHERE s NOT IN ('_START', '_CONV', '_NULL')),
      vid AS (SELECT s AS v FROM ch UNION ALL SELECT '' AS v),
      mx AS (SELECT v, i, j, CAST(SUM(p) AS DECIMAL(18,12)) AS p FROM (
               SELECT vid.v, prob.i,
                      CASE WHEN vid.v <> '' AND prob.j = vid.v THEN '_NULL'
                           ELSE prob.j END AS j,
                      p
               FROM prob, vid WHERE vid.v = '' OR prob.i <> vid.v)
             GROUP BY 1, 2, 3
             UNION ALL
             SELECT v, s AS i, s AS j, CAST(1.0 AS DECIMAL(18,12)) AS p
             FROM vid, (SELECT unnest(['_CONV', '_NULL']) AS s)),
      v0 AS (SELECT v, '_START' AS state, CAST(1.0 AS DECIMAL(18,12)) AS m FROM vid),
      $iterCtes,
      pc AS (SELECT v, m AS pcv FROM v$steps WHERE state = '_CONV'),
      p0 AS (SELECT COALESCE(MAX(pcv), CAST(0 AS DECIMAL(18,12))) AS p0
             FROM pc WHERE v = ''),
      eff AS (SELECT ch.s AS channel,
                     COALESCE(pc.pcv, CAST(0 AS DECIMAL(18,12))) AS pcv, p0.p0
              FROM ch LEFT JOIN pc ON ch.s = pc.v, p0)
      SELECT channel,
             ROUND(CAST(p0 AS DOUBLE), 6) AS p_conv,
             ROUND(CAST(pcv AS DOUBLE), 6) AS p_conv_removed,
             CASE WHEN p0 > 0
                  THEN ROUND(CAST(p0 - pcv AS DOUBLE) / CAST(p0 AS DOUBLE), 6)
             END AS removal_effect,
             CASE WHEN t.tre > 0
                  THEN ROUND(CAST(p0 - pcv AS DOUBLE) / CAST(t.tre AS DOUBLE), 6)
             END AS share
      FROM eff, (SELECT SUM(p0 - pcv) AS tre FROM eff) t
    """.trim)
    )
  }

  /** PMI collocations (Corpus.pmiCollocations scaladoc: exact counts
    * on md5-60 keys, driver-scalar totals, one fixed-parenthesization
    * double PMI rounded before ranking, (ha, hb) tiebreaks). The
    * oracle replays the pair/unigram counts and the identical
    * arithmetic. */
  val pmiPairsQ: Q = Q(
    "x_pmi_pairs",
    (s, d) => graft.corpus.Corpus.pmiCollocations(Tables.documents(s, d),
      minCount = 5L, k = 20),
    Some("""
      WITH base AS (SELECT regexp_split_to_array(text, '\s+') AS toks FROM documents),
      uni AS (SELECT ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS h
              FROM (SELECT toks, unnest(range(0, len(toks))) AS i FROM base)),
      cu AS (SELECT h, COUNT(*) AS c FROM uni GROUP BY 1),
      tu AS (SELECT COUNT(*) AS t FROM uni),
      bg AS (SELECT ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS ha,
                    ('0x' || substr(md5(toks[i + 2]), 1, 15))::BIGINT AS hb
             FROM (SELECT toks, unnest(range(0, len(toks) - 1)) AS i FROM base
                   WHERE len(toks) >= 2)),
      cp AS (SELECT ha, hb, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2),
      tp AS (SELECT COUNT(*) AS t FROM bg),
      sc AS (SELECT ha, hb,
                    CAST(n_pair AS BIGINT) AS n_pair,
                    CAST(a.c AS BIGINT) AS n_a, CAST(b.c AS BIGINT) AS n_b,
                    ROUND(LN((CAST(n_pair AS DOUBLE) * tu.t * tu.t) /
                             (CAST(tp.t AS DOUBLE) * a.c * b.c)), 6) AS pmi
             FROM cp JOIN cu a ON cp.ha = a.h JOIN cu b ON cp.hb = b.h, tu, tp
             WHERE n_pair >= 5)
      SELECT ha, hb, n_pair, n_a, n_b, pmi, rn
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, ha, hb) AS rn FROM sc) t
      WHERE rn <= 20
    """.trim)
  )

  /** Comparative recall@20 — label-IVF and trained kmeans-IVF probes
    * vs the brute-force exact top-20 (Similarity.annRecall, the
    * retrieval tier's eval-harness face). The oracle composes the
    * x_knn_cosine, x_ann_ivf and x_ann_ivf_kmeans pipelines and counts
    * both intersections, so the recall VALUES are hash-pinned. */
  val annRecallQ: Q = Q(
    "x_ann_recall",
    (s, d) => Similarity.annRecall(coEmbeddings(s, d), queryId = 0L, dim = 64,
      k = 20, nLists = 4, iters = 2),
    Some(s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      bsc AS (SELECT vec_id,
                     list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
              FROM e, q WHERE vec_id <> 0),
      bf AS (SELECT vec_id FROM (SELECT vec_id,
                    ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rn FROM bsc) t
             WHERE rn <= 20),
      comps AS (SELECT label, i AS pos, round(v[i], 6) AS x
                FROM e, (SELECT unnest(generate_series(1, 64)) AS i) idx),
      cent AS (SELECT label, pos,
                      CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS c
               FROM comps GROUP BY label, pos),
      lcv AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
      nearest AS (SELECT label AS probe_list, qv FROM lcv, q
                  ORDER BY list_dot_product(cv, qv) /
                           (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) DESC,
                           label
                  LIMIT 1),
      isc AS (SELECT vec_id,
                     list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
              FROM e JOIN nearest ON e.label = nearest.probe_list
              WHERE vec_id <> 0),
      ivf AS (SELECT vec_id FROM (SELECT vec_id,
                    ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rn FROM isc) t
              WHERE rn <= 20),
      ${kmeansCtesSql(4, 2)},
      knearest AS (SELECT list AS kprobe_list, qv FROM cv2, q
                   ORDER BY list_dot_product(cv, qv) /
                            (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))) DESC,
                            list
                   LIMIT 1),
      ksc AS (SELECT a.vec_id,
                     list_dot_product(a.v, qv) /
                       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv))) AS c
              FROM asgf a JOIN knearest ON a.list = knearest.kprobe_list
              WHERE a.vec_id <> 0),
      kvf AS (SELECT vec_id FROM (SELECT vec_id,
                    ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS rn FROM ksc) t
              WHERE rn <= 20),
      ni AS (SELECT COUNT(*) AS n FROM ivf SEMI JOIN bf USING (vec_id)),
      nk AS (SELECT COUNT(*) AS n FROM kvf SEMI JOIN bf USING (vec_id))
      SELECT CAST(20 AS BIGINT) AS k,
             CAST(ni.n AS BIGINT) AS n_hits_ivf,
             ROUND(CAST(ni.n AS DOUBLE) / 20, 6) AS recall_ivf,
             CAST(nk.n AS BIGINT) AS n_hits_kmeans,
             ROUND(CAST(nk.n AS DOUBLE) / 20, 6) AS recall_kmeans
      FROM ni, nk
    """.trim)
  )

  /** Heaps'-law vocabulary-growth curve (Corpus.vocabGrowth scaladoc:
    * 60-bit md5 types, globalRank stream positions, integer checkpoint
    * arithmetic, P-row broadcast fan-out). The oracle replays the
    * (doc_id, pos) total order, the ceil-div checkpoints and the
    * first-occurrence counts. */
  val vocabGrowthQ: Q = Q(
    "x_vocab_growth",
    (s, d) => graft.corpus.Corpus.vocabGrowth(Tables.documents(s, d), nPoints = 8),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
                    FROM documents),
      tk AS (SELECT doc_id, i AS pos,
                    ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS h
             FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM base)),
      rk AS (SELECT h, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS gpos FROM tk),
      fo AS (SELECT h, MIN(gpos) AS f FROM rk GROUP BY 1),
      tt AS (SELECT COUNT(*) AS t FROM rk),
      pt AS (SELECT p, (p * t + 7) // 8 AS n_prefix
             FROM (SELECT unnest(generate_series(1, 8)) AS p), tt)
      SELECT CAST(p AS BIGINT) AS point, CAST(n_prefix AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             ROUND(CAST(COUNT(*) AS DOUBLE) / n_prefix, 6) AS ttr
      FROM fo, pt WHERE f <= n_prefix GROUP BY p, n_prefix
    """.trim)
  )

  /** PSI drift per source vs reference src0 (DataQuality.psiDrift
    * scaladoc: reference-decile order-statistic boundaries via
    * globalRank, v > b_k bucketing, Laplace (c+1)/(n+B) shares,
    * ROUND-then-DECIMAL terms). The oracle replays the integer
    * boundary ranks, the list_filter bucketing and the smoothing. */
  val psiDriftQ: Q = Q(
    "x_psi_drift",
    (s, d) => DataQuality.psiDrift(Tables.documents(s, d), refSource = "src0"),
    Some("""
      WITH v AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents),
      ref AS (SELECT doc_id, x FROM v WHERE source = 'src0'),
      rk AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, doc_id) AS r FROM ref),
      nt AS (SELECT COUNT(*) AS n FROM ref),
      kk AS (SELECT unnest(generate_series(1, 9)) AS k),
      bd AS (SELECT k, x AS bv FROM rk, nt, kk WHERE r = (k * n + 9) // 10),
      ba AS (SELECT list(bv ORDER BY k) AS bounds FROM bd),
      bk AS (SELECT source, 1 + len(list_filter(bounds, bb -> x > bb)) AS bucket
             FROM v, ba),
      cnt AS (SELECT source, bucket, COUNT(*) AS c FROM bk GROUP BY 1, 2),
      tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM v GROUP BY 1),
      grid AS (SELECT t.source, g.bucket, COALESCE(c.c, 0) AS c, t.ns
               FROM tot t
               CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS bucket) g
               LEFT JOIN cnt c ON c.source = t.source AND c.bucket = g.bucket),
      sh AS (SELECT source, bucket, ns,
                    CAST(c + 1 AS DOUBLE) / (ns + 10) AS p
             FROM grid),
      rq AS (SELECT bucket, p AS q FROM sh WHERE source = 'src0'),
      terms AS (SELECT s.source, s.ns,
                       CAST(ROUND((s.p - r.q) * LN(s.p / r.q), 6) AS DECIMAL(18,6)) AS term
                FROM sh s JOIN rq r USING (bucket) WHERE s.source <> 'src0')
      SELECT source, ns AS n_rows,
             ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi
      FROM terms GROUP BY 1, 2
    """.trim)
  )

  /** Session entry/exit/bounce report (EventAnalytics.entryExit
    * scaladoc: sessionize windows on ONE user exchange, struct-argmin/
    * argmax session ends with event_id tiebreaks, entry+exit role rows
    * rolled up on the tiny type key). The oracle replays the marking,
    * the asc/desc ROW_NUMBER ends, and the role union. */
  val entryExitQ: Q = Q(
    "x_entry_exit",
    (s, d) => EventAnalytics.entryExit(Tables.events(s, d), gapSec = 1800L),
    Some("""
      WITH m AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000
                    THEN 1 ELSE 0 END AS nw
        FROM events),
      s AS (SELECT user_id, event_id, event_type, ts_us,
                   SUM(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM m),
      r AS (SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY ts_us, event_id) AS ra,
                   ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY ts_us DESC, event_id DESC) AS rd
            FROM s),
      sess AS (SELECT user_id, sid,
                      MIN(CASE WHEN ra = 1 THEN event_type END) AS entry_type,
                      MIN(CASE WHEN rd = 1 THEN event_type END) AS exit_type,
                      COUNT(*) AS ne
               FROM r GROUP BY 1, 2),
      u AS (SELECT entry_type AS event_type, 1 AS e, 0 AS x,
                   CASE WHEN ne = 1 THEN 1 ELSE 0 END AS b FROM sess
            UNION ALL
            SELECT exit_type, 0, 1, 0 FROM sess)
      SELECT event_type, CAST(SUM(e) AS BIGINT) AS n_entries,
             CAST(SUM(x) AS BIGINT) AS n_exits,
             CAST(SUM(b) AS BIGINT) AS n_bounces
      FROM u GROUP BY 1
    """.trim)
  )

  /** Per-label embedding centroid drift vs the global centroid
    * (Similarity.embedDrift scaladoc: ROUND-then-DECIMAL components,
    * exact decimal centroid sums, left-fold cosine). The oracle
    * rebuilds both centroids with the kmeans-CTE idiom and scores with
    * list_dot_product. */
  val embedDriftQ: Q = Q(
    "x_embed_drift",
    (s, d) => Similarity.embedDrift(coEmbeddings(s, d)),
    Some("""
      WITH comps AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS pos,
                            CAST(ROUND(v[i], 6) AS DECIMAL(18,6)) AS x
                     FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
                          (SELECT unnest(generate_series(1, 64)) AS i) idx),
      ls AS (SELECT label, pos, SUM(x) AS sx, COUNT(*) AS cnt FROM comps GROUP BY 1, 2),
      la AS (SELECT label, list(CAST(sx AS DOUBLE) / cnt ORDER BY pos) AS v,
                    MAX(cnt) AS n_vecs
             FROM ls GROUP BY 1),
      g AS (SELECT pos, CAST(SUM(sx) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS gc
            FROM ls GROUP BY 1),
      ga AS (SELECT list(gc ORDER BY pos) AS gv FROM g)
      SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
             ROUND(list_dot_product(v, gv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(gv, gv))), 6) AS cos_to_global
      FROM la, ga
    """.trim)
  )

  /** Poisson-bootstrap percentile CI (Relational.bootstrapCiPoisson
    * scaladoc: one-pass ×64 map-side expansion, integer-threshold
    * inverse-CDF Poisson draws off the md5-52bit uniform, exact
    * decimal per-rep sums, rank-picked percentile over the 64-row
    * grid). */
  val bootstrapCiQ: Q = Q(
    "x_bootstrap_ci",
    (s, d) => Relational.bootstrapCiPoisson(Tables.orders(s, d), b = 64),
    Some("""
      WITH base AS (SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders),
      h AS (SELECT cents, blk,
                   md5(CAST(o_orderkey AS VARCHAR) || '_' ||
                       CAST(blk AS VARCHAR)) AS hx
            FROM base, (SELECT unnest(generate_series(0, 31)) AS blk) blks),
      e AS (SELECT cents, 2 * blk AS rep,
                   ('0x' || substr(hx, 1, 13))::BIGINT AS u FROM h
            UNION ALL
            SELECT cents, 2 * blk + 1 AS rep,
                   ('0x' || substr(hx, 17, 13))::BIGINT AS u FROM h),
      c AS (SELECT rep, cents,
                   CASE WHEN u < 1656781714176973 THEN 0
                        WHEN u < 3313563428353947 THEN 1
                        WHEN u < 4141954285442434 THEN 2
                        WHEN u < 4418084571138597 THEN 3
                        WHEN u < 4487117142562637 THEN 4
                        WHEN u < 4500923656847445 THEN 5
                        WHEN u < 4503224742561580 THEN 6
                        WHEN u < 4503553469092171 THEN 7
                        ELSE 8 END AS k
            FROM e),
      g AS (SELECT rep, SUM(CAST(k AS DECIMAL(38,0))) AS m,
                   SUM(CAST(k AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS s
            FROM c GROUP BY 1),
      mb AS (SELECT rep, CAST(s AS DOUBLE) / CAST(m AS DOUBLE) / 100.0 AS mean_b
             FROM g WHERE m > 0),
      r AS (SELECT mean_b, ROW_NUMBER() OVER (ORDER BY mean_b, rep) AS rn,
                   COUNT(*) OVER () AS g FROM mb),
      ci AS (SELECT MAX(CASE WHEN rn = GREATEST(
                      CAST(CEIL(CAST(0.025 AS DOUBLE) * g) AS BIGINT), 1)
                    THEN mean_b END) AS lo,
                    MAX(CASE WHEN rn = CAST(CEIL(CAST(0.975 AS DOUBLE) * g) AS BIGINT)
                    THEN mean_b END) AS hi FROM r),
      t AS (SELECT COUNT(*) AS n_rows, SUM(CAST(cents AS HUGEINT)) AS s1 FROM base)
      SELECT CAST(n_rows AS BIGINT) AS n_rows, CAST(64 AS BIGINT) AS n_reps,
             ROUND(CAST(s1 AS DOUBLE) / n_rows / 100.0, 6) AS mean,
             ROUND(lo, 6) AS ci_lo, ROUND(hi, 6) AS ci_hi
      FROM t, ci
    """.trim)
  )

  /** TextRank keywords (Corpus.textRankKeywords scaladoc: md5-60
    * token nodes gated at count ≥ 5, DISTINCT bidirectional adjacency
    * edges, PageRankOp's 1e-12 fixed-point walk). The oracle rebuilds
    * the token graph with the x_pmi_pairs tokenization and replays the
    * x_pagerank unrolled 3-iteration integer recursion over it, so
    * every keyword rank is pinned exactly. */
  val textRankQ: Q = Q(
    "x_textrank",
    (s, d) => graft.corpus.Corpus.textRankKeywords(Tables.documents(s, d),
      minCount = 5L, k = 20, iters = 3),
    Some("""
      WITH base AS (SELECT regexp_split_to_array(text, '\s+') AS toks FROM documents),
      uni AS (SELECT ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS h
              FROM (SELECT toks, unnest(range(0, len(toks))) AS i FROM base)),
      vocab AS (SELECT h FROM (SELECT h, COUNT(*) AS c FROM uni GROUP BY 1) t
                WHERE c >= 5),
      bg AS (SELECT ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS ha,
                    ('0x' || substr(md5(toks[i + 2]), 1, 15))::BIGINT AS hb
             FROM (SELECT toks, unnest(range(0, len(toks) - 1)) AS i FROM base
                   WHERE len(toks) >= 2)),
      ed AS (SELECT DISTINCT ha, hb FROM bg
             WHERE ha <> hb AND ha IN (SELECT h FROM vocab)
               AND hb IN (SELECT h FROM vocab)),
      e AS (SELECT ha AS src, hb AS dst FROM ed
            UNION SELECT hb AS src, ha AS dst FROM ed),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS rank_u
             FROM nodes),
      s1 AS (SELECT e.dst AS node, CAST(SUM(r.rank_u // d.deg) AS BIGINT) AS s
             FROM r0 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
             GROUP BY e.dst),
      dm1 AS (SELECT CAST(COALESCE(SUM(r.rank_u), 0) AS BIGINT) AS dm
              FROM r0 r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL),
      r1 AS (SELECT nodes.node,
               (1000000000000 - (1000000000000 * 85) // 100)
                 // (SELECT n FROM nn)
               + ((COALESCE(s1.s, 0)
                   + (SELECT dm FROM dm1) // (SELECT n FROM nn)) * 85) // 100
                 AS rank_u
             FROM nodes LEFT JOIN s1 ON nodes.node = s1.node),
      s2 AS (SELECT e.dst AS node, CAST(SUM(r.rank_u // d.deg) AS BIGINT) AS s
             FROM r1 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
             GROUP BY e.dst),
      dm2 AS (SELECT CAST(COALESCE(SUM(r.rank_u), 0) AS BIGINT) AS dm
              FROM r1 r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL),
      r2 AS (SELECT nodes.node,
               (1000000000000 - (1000000000000 * 85) // 100)
                 // (SELECT n FROM nn)
               + ((COALESCE(s2.s, 0)
                   + (SELECT dm FROM dm2) // (SELECT n FROM nn)) * 85) // 100
                 AS rank_u
             FROM nodes LEFT JOIN s2 ON nodes.node = s2.node),
      s3 AS (SELECT e.dst AS node, CAST(SUM(r.rank_u // d.deg) AS BIGINT) AS s
             FROM r2 r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
             GROUP BY e.dst),
      dm3 AS (SELECT CAST(COALESCE(SUM(r.rank_u), 0) AS BIGINT) AS dm
              FROM r2 r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL),
      r3 AS (SELECT nodes.node,
               (1000000000000 - (1000000000000 * 85) // 100)
                 // (SELECT n FROM nn)
               + ((COALESCE(s3.s, 0)
                   + (SELECT dm FROM dm3) // (SELECT n FROM nn)) * 85) // 100
                 AS rank_u
             FROM nodes LEFT JOIN s3 ON nodes.node = s3.node)
      SELECT node, rank_u, rn
      FROM (SELECT node, rank_u,
                   ROW_NUMBER() OVER (ORDER BY rank_u DESC, node) AS rn
            FROM r3) t
      WHERE rn <= 20
    """.trim)
  )

  /** Split-conformal 90% prediction band around the x_ols_fit length
    * model (Ols.conformal2 scaladoc: md5-parity split, exact-integer
    * Cramer fit on the train half, rank-picked ⌈0.9·(n+1)⌉-th absolute
    * residual on the calibration half, unrounded-q̂ coverage readout).
    * The oracle replays the split, the HUGEINT Cramer solve, the
    * residual chain and the rank pick end to end. */
  val conformalQ: Q = Q(
    "x_conformal",
    (s, d) => {
      val toks = split(col("text"), "\\s+")
      Ols.conformal2(
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars").as("y"), size(toks).as("x1"),
            size(array_distinct(toks)).as("x2")),
        col("doc_id"), col("y"), col("x1"), col("x2"), q = 0.9)
    },
    Some("""
      WITH f0 AS (
        SELECT doc_id, n_chars AS y,
               len(regexp_split_to_array(text, '\s+')) AS x1,
               len(list_distinct(regexp_split_to_array(text, '\s+'))) AS x2,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 2 = 1) AS cal
        FROM documents),
      m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s00,
               CAST(SUM(x1) AS BIGINT) AS s01, CAST(SUM(x2) AS BIGINT) AS s02,
               CAST(SUM(x1*x1) AS BIGINT) AS s11,
               CAST(SUM(x1*x2) AS BIGINT) AS s12,
               CAST(SUM(x2*x2) AS BIGINT) AS s22,
               CAST(SUM(y) AS BIGINT) AS t0,
               CAST(SUM(x1*y) AS BIGINT) AS t1,
               CAST(SUM(x2*y) AS BIGINT) AS t2
        FROM f0 WHERE NOT cal),
      h AS (
        SELECT s00,
               CAST(s00 AS HUGEINT) AS a, CAST(s01 AS HUGEINT) AS b,
               CAST(s02 AS HUGEINT) AS c, CAST(s11 AS HUGEINT) AS e,
               CAST(s12 AS HUGEINT) AS f, CAST(s22 AS HUGEINT) AS g,
               CAST(t0 AS HUGEINT) AS u, CAST(t1 AS HUGEINT) AS v,
               CAST(t2 AS HUGEINT) AS w
        FROM m),
      dets AS (
        SELECT s00,
          a*(e*g - f*f) - b*(b*g - f*c) + c*(b*f - e*c) AS det,
          u*(e*g - f*f) - b*(v*g - f*w) + c*(v*f - e*w) AS det0,
          a*(v*g - f*w) - u*(b*g - f*c) + c*(b*w - v*c) AS det1,
          a*(e*w - v*f) - b*(b*w - v*c) + u*(b*f - e*c) AS det2
        FROM h),
      bb AS (
        SELECT s00 AS ntr,
               CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) AS b0,
               CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) AS b1,
               CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) AS b2
        FROM dets),
      r AS (
        SELECT doc_id, cal,
               ABS(CAST(y AS DOUBLE) - (b0 + b1 * CAST(x1 AS DOUBLE)
                                           + b2 * CAST(x2 AS DOUBLE))) AS resid
        FROM f0, bb),
      calr AS (SELECT doc_id, resid FROM r WHERE cal),
      nc AS (SELECT COUNT(*) AS n_cal FROM calr),
      qr AS (SELECT n_cal,
                    GREATEST(1, LEAST(n_cal,
                      CAST(CEIL(0.9 * (n_cal + 1)) AS BIGINT))) AS q_rank
             FROM nc),
      rk AS (SELECT resid, ROW_NUMBER() OVER (ORDER BY resid, doc_id) AS rn
             FROM calr),
      qh AS (SELECT resid AS qv FROM rk, qr WHERE rn = q_rank)
      SELECT CAST(bb.ntr AS BIGINT) AS n_train, CAST(qr.n_cal AS BIGINT) AS n_cal,
             CAST(qr.q_rank AS BIGINT) AS q_rank, ROUND(qh.qv, 6) AS q_hat,
             ROUND(CAST(SUM(CASE WHEN r.resid <= qh.qv THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 6) AS train_coverage
      FROM r, bb, qr, qh
      WHERE NOT r.cal
      GROUP BY bb.ntr, qr.n_cal, qr.q_rank, qh.qv
    """.trim)
  )

  /** Per-language split-conformal bands (Ols.conformalPerGroup
    * scaladoc: Mondrian/group-conditional conformal — per-group
    * md5-parity split + exact-integer Cramer fit + grid-exact rank
    * pick, group-conditional ≥0.9 coverage). The oracle replays every
    * group's fit, residual chain and strict (resid, doc_id) row-number
    * rank — an independent rank mechanism from the engine's value-grid
    * pick, same value by the tie-run argument. */
  val conformalGroupedQ: Q = Q(
    "x_conformal_grouped",
    (s, d) => {
      val toks = split(col("text"), "\\s+")
      Ols.conformalPerGroup(
        Tables.documents(s, d)
          .select(col("lang"), col("doc_id"), col("n_chars").as("y"),
            size(toks).as("x1"), size(array_distinct(toks)).as("x2")),
        col("lang"), col("doc_id"), col("y"), col("x1"), col("x2"), q = 0.9)
        .withColumnRenamed("grp", "lang")
    },
    Some("""
      WITH f0 AS (
        SELECT lang, doc_id, n_chars AS y,
               len(regexp_split_to_array(text, '\s+')) AS x1,
               len(list_distinct(regexp_split_to_array(text, '\s+'))) AS x2,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 2 = 1) AS cal
        FROM documents),
      m AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS s00,
               CAST(SUM(x1) AS BIGINT) AS s01, CAST(SUM(x2) AS BIGINT) AS s02,
               CAST(SUM(x1*x1) AS BIGINT) AS s11,
               CAST(SUM(x1*x2) AS BIGINT) AS s12,
               CAST(SUM(x2*x2) AS BIGINT) AS s22,
               CAST(SUM(y) AS BIGINT) AS t0,
               CAST(SUM(x1*y) AS BIGINT) AS t1,
               CAST(SUM(x2*y) AS BIGINT) AS t2
        FROM f0 WHERE NOT cal GROUP BY lang),
      h AS (
        SELECT lang, s00,
               CAST(s00 AS HUGEINT) AS a, CAST(s01 AS HUGEINT) AS b,
               CAST(s02 AS HUGEINT) AS c, CAST(s11 AS HUGEINT) AS e,
               CAST(s12 AS HUGEINT) AS f, CAST(s22 AS HUGEINT) AS g,
               CAST(t0 AS HUGEINT) AS u, CAST(t1 AS HUGEINT) AS v,
               CAST(t2 AS HUGEINT) AS w
        FROM m),
      dets AS (
        SELECT lang, s00,
          a*(e*g - f*f) - b*(b*g - f*c) + c*(b*f - e*c) AS det,
          u*(e*g - f*f) - b*(v*g - f*w) + c*(v*f - e*w) AS det0,
          a*(v*g - f*w) - u*(b*g - f*c) + c*(b*w - v*c) AS det1,
          a*(e*w - v*f) - b*(b*w - v*c) + u*(b*f - e*c) AS det2
        FROM h),
      bb AS (
        SELECT lang, s00 AS ntr,
               CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) AS b0,
               CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) AS b1,
               CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) AS b2
        FROM dets),
      r AS (
        SELECT f0.lang, doc_id, cal,
               ABS(CAST(y AS DOUBLE) - (b0 + b1 * CAST(x1 AS DOUBLE)
                                           + b2 * CAST(x2 AS DOUBLE))) AS resid
        FROM f0 JOIN bb ON f0.lang = bb.lang),
      calr AS (SELECT lang, doc_id, resid FROM r WHERE cal),
      qr AS (SELECT lang, n_cal,
                    GREATEST(1, LEAST(n_cal,
                      CAST(CEIL(CAST(0.9 AS DOUBLE) * (n_cal + 1)) AS BIGINT))) AS q_rank
             FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_cal
                   FROM calr GROUP BY lang)),
      rk AS (SELECT lang, resid,
                    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY resid, doc_id) AS rn
             FROM calr),
      qh AS (SELECT rk.lang, rk.resid AS qv
             FROM rk JOIN qr ON rk.lang = qr.lang WHERE rk.rn = qr.q_rank)
      SELECT r.lang, CAST(bb.ntr AS BIGINT) AS n_train,
             CAST(qr.n_cal AS BIGINT) AS n_cal,
             CAST(qr.q_rank AS BIGINT) AS q_rank, ROUND(qh.qv, 6) AS q_hat,
             ROUND(CAST(SUM(CASE WHEN r.resid <= qh.qv THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 6) AS train_coverage
      FROM r
      JOIN bb ON r.lang = bb.lang
      JOIN qr ON r.lang = qr.lang
      JOIN qh ON r.lang = qh.lang
      WHERE NOT r.cal
      GROUP BY r.lang, bb.ntr, qr.n_cal, qr.q_rank, qh.qv
    """.trim)
  )

  /** Sample-ratio-mismatch guard (EventAnalytics.srmCheck scaladoc:
    * the cupedAb md5-parity arms audited by a χ²₁ GOF against the
    * 50/50 design; one IEEE divide for the statistic, the 95% flag in
    * pure exact-integer DECIMAL arithmetic — no float boundary). The
    * oracle replays the parity split and the HUGEINT flag compare. */
  val srmCheckQ: Q = Q(
    "x_srm_check",
    (s, d) => EventAnalytics.srmCheck(Tables.events(s, d)),
    Some("""
      WITH u AS (SELECT DISTINCT user_id FROM events),
      a AS (SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
                    % 2 = 0) AS arm_a FROM u),
      s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a
            FROM a)
      SELECT n_users, n_a, n_users - n_a AS n_b,
             ROUND(CAST(CAST(2*n_a - n_users AS HUGEINT)
                        * CAST(2*n_a - n_users AS HUGEINT) AS DOUBLE) / n_users, 6) AS chi2,
             CAST(2*n_a - n_users AS HUGEINT) * CAST(2*n_a - n_users AS HUGEINT) * 1000000
               > 3841459 * CAST(n_users AS HUGEINT) AS srm
      FROM s
    """.trim)
  )

  /** Jensen–Shannon vocabulary drift between the reference source and
    * the rest of the corpus (DataQuality.jsDivergence scaladoc: md5-60
    * token hashes, combined-count vocabulary floor with renormalized
    * totals, pinned p/q/m double chains, ROUND(…,10)-then-DECIMAL term
    * sums — the transcendental never rides an order-dependent fold).
    * The oracle replays digests, floor, and every chain. */
  val jsDivergenceQ: Q = Q(
    "x_js_divergence",
    (s, d) => DataQuality.jsDivergence(Tables.documents(s, d), refSource = "src0"),
    Some("""
      WITH t AS (SELECT (source = 'src0') AS ref,
                        unnest(regexp_split_to_array(text, '\s+')) AS tok
                 FROM documents),
      c AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h,
                   CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                   CAST(SUM(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cq
            FROM t GROUP BY 1 HAVING COUNT(*) >= 5),
      tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
                    CAST(SUM(cp) AS BIGINT) AS tp,
                    CAST(SUM(cq) AS BIGINT) AS tq FROM c),
      terms AS (SELECT n_vocab, tp, tq,
        CAST(ROUND(CASE WHEN cp > 0 THEN (CAST(cp AS DOUBLE) / tp)
          * ln((CAST(cp AS DOUBLE) / tp)
               / ((CAST(cp AS DOUBLE) / tp + CAST(cq AS DOUBLE) / tq) / 2.0))
          ELSE 0.0 END, 10) AS DECIMAL(28,10)) AS tp_term,
        CAST(ROUND(CASE WHEN cq > 0 THEN (CAST(cq AS DOUBLE) / tq)
          * ln((CAST(cq AS DOUBLE) / tq)
               / ((CAST(cp AS DOUBLE) / tp + CAST(cq AS DOUBLE) / tq) / 2.0))
          ELSE 0.0 END, 10) AS DECIMAL(28,10)) AS tq_term
        FROM c, tt)
      SELECT n_vocab, tp AS n_tok_ref, tq AS n_tok_other,
             ROUND(CAST(SUM(tp_term) AS DOUBLE), 6) AS kl_ref,
             ROUND(CAST(SUM(tq_term) AS DOUBLE), 6) AS kl_other,
             ROUND((CAST(SUM(tp_term) AS DOUBLE) + CAST(SUM(tq_term) AS DOUBLE)) / 2.0, 6) AS jsd
      FROM terms GROUP BY 1, 2, 3
    """.trim)
  )

  /** CUPED variance-reduced A/B readout (EventAnalytics.cupedAb
    * scaladoc: md5-parity arms, integer-micros midpoint pre/post
    * split, exact-cent per-user covariate/metric, mirrored θ/ρ²
    * chains, ROUND-then-DECIMAL adjusted terms, one-double-expression
    * variance tails). The oracle replays every stage. */
  val cupedQ: Q = Q(
    "x_cuped",
    (s, d) => EventAnalytics.cupedAb(Tables.events(s, d)),
    Some("""
      WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us,
                        CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
      mm AS (SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) // 2 AS mid FROM b),
      u0 AS (SELECT user_id,
                    COALESCE(SUM(CASE WHEN ts_us < mid THEN c ELSE 0 END), 0) AS x,
                    COALESCE(SUM(CASE WHEN NOT (ts_us < mid) THEN c ELSE 0 END), 0) AS y
             FROM b, mm GROUP BY user_id),
      u AS (SELECT x, y,
                   (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
                     % 2 = 0) AS arm_a
            FROM u0),
      p AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(y AS HUGEINT)) AS sy,
                   SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
                   SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                   SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
            FROM u),
      th AS (SELECT CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
                    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
                    CAST(n * sxy - sx * sy AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)) AS rho2
             FROM p),
      a0 AS (SELECT arm_a, y, theta, rho2,
                    CAST(ROUND(CAST(y AS DOUBLE)
                               - theta * (CAST(x AS DOUBLE) - xbar), 6)
                         AS DECIMAL(28,6)) AS term,
                    CAST(ROUND((CAST(y AS DOUBLE)
                                - theta * (CAST(x AS DOUBLE) - xbar))
                               * (CAST(y AS DOUBLE)
                                  - theta * (CAST(x AS DOUBLE) - xbar)), 6)
                         AS DECIMAL(28,6)) AS term2
             FROM u, th),
      g AS (SELECT arm_a, CAST(COUNT(*) AS BIGINT) AS ng,
                   SUM(CAST(y AS HUGEINT)) AS sg,
                   SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS qg,
                   SUM(term) AS sa, SUM(term2) AS qa,
                   MAX(theta) AS theta, MAX(rho2) AS rho2
            FROM a0 GROUP BY 1),
      w AS (SELECT
              MAX(CASE WHEN arm_a THEN ng END) AS na,
              MAX(CASE WHEN arm_a THEN sg END) AS sga,
              MAX(CASE WHEN arm_a THEN qg END) AS qga,
              MAX(CASE WHEN arm_a THEN sa END) AS saa,
              MAX(CASE WHEN arm_a THEN qa END) AS qaa,
              MAX(CASE WHEN NOT arm_a THEN ng END) AS nb,
              MAX(CASE WHEN NOT arm_a THEN sg END) AS sgb,
              MAX(CASE WHEN NOT arm_a THEN qg END) AS qgb,
              MAX(CASE WHEN NOT arm_a THEN sa END) AS sab,
              MAX(CASE WHEN NOT arm_a THEN qa END) AS qab,
              MAX(theta) AS theta, MAX(rho2) AS rho2
            FROM g)
      SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             ROUND(theta, 6) AS theta,
             ROUND((CAST(sga AS DOUBLE) / CAST(na AS DOUBLE)
                    - CAST(sgb AS DOUBLE) / CAST(nb AS DOUBLE))
                   / SQRT((CAST(na AS DOUBLE) * CAST(qga AS DOUBLE)
                           - CAST(sga AS DOUBLE) * CAST(sga AS DOUBLE))
                          / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
                          / CAST(na AS DOUBLE)
                        + (CAST(nb AS DOUBLE) * CAST(qgb AS DOUBLE)
                           - CAST(sgb AS DOUBLE) * CAST(sgb AS DOUBLE))
                          / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
                          / CAST(nb AS DOUBLE)), 6) AS z_unadj,
             ROUND((CAST(saa AS DOUBLE) / CAST(na AS DOUBLE)
                    - CAST(sab AS DOUBLE) / CAST(nb AS DOUBLE))
                   / SQRT((CAST(na AS DOUBLE) * CAST(qaa AS DOUBLE)
                           - CAST(saa AS DOUBLE) * CAST(saa AS DOUBLE))
                          / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
                          / CAST(na AS DOUBLE)
                        + (CAST(nb AS DOUBLE) * CAST(qab AS DOUBLE)
                           - CAST(sab AS DOUBLE) * CAST(sab AS DOUBLE))
                          / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
                          / CAST(nb AS DOUBLE)), 6) AS z_cuped,
             ROUND(rho2, 6) AS var_reduction
      FROM w
    """.trim)
  )

  /** k-truss peeling trajectory (GraphOps.ktrussPeel scaladoc: per
    * round one degree-oriented triangle enumeration — packed sorted
    * forward adjacencies, each triangle materialized once — rolled up
    * into per-edge support, peel at support < k−2; Σsup = 3Δ supplies
    * n_triangles with no second pass). The oracle unrolls all three
    * rounds with the x_triangles naive three-way-join enumeration, so
    * every round's edge/triangle/removal count is pinned exactly. */
  val ktrussQ: Q = Q(
    "x_ktruss",
    (s, d) => GraphOps.ktrussPeel(coGraphFaceR(s, d), k = 4, rounds = 3),
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                  WHERE l_returnflag = 'R'),
      e0 AS MATERIALIZED (SELECT DISTINCT x.pk AS a, y.pk AS b
             FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      t1 AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             FROM e0 e1 JOIN e0 e2 ON e2.a = e1.b
                        JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
      s1 AS MATERIALIZED (SELECT a, b, COUNT(*) AS sup FROM (
               SELECT x AS a, y AS b FROM t1
               UNION ALL SELECT x AS a, z AS b FROM t1
               UNION ALL SELECT y AS a, z AS b FROM t1) u
             GROUP BY 1, 2),
      e1 AS MATERIALIZED (SELECT e0.a, e0.b FROM e0 LEFT JOIN s1 USING (a, b)
             WHERE COALESCE(sup, 0) >= 2),
      r1 AS (SELECT 1 AS round, (SELECT COUNT(*) FROM e0) AS n_edges,
                    (SELECT COALESCE(SUM(sup), 0) // 3 FROM s1) AS n_triangles,
                    (SELECT COUNT(*) FROM e0) - (SELECT COUNT(*) FROM e1) AS n_removed),
      t2 AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             FROM e1 JOIN e1 e2 ON e2.a = e1.b
                     JOIN e1 e3 ON e3.a = e1.a AND e3.b = e2.b),
      s2 AS MATERIALIZED (SELECT a, b, COUNT(*) AS sup FROM (
               SELECT x AS a, y AS b FROM t2
               UNION ALL SELECT x AS a, z AS b FROM t2
               UNION ALL SELECT y AS a, z AS b FROM t2) u
             GROUP BY 1, 2),
      e2x AS MATERIALIZED (SELECT e1.a, e1.b FROM e1 LEFT JOIN s2 USING (a, b)
              WHERE COALESCE(sup, 0) >= 2),
      r2 AS (SELECT 2 AS round, (SELECT COUNT(*) FROM e1) AS n_edges,
                    (SELECT COALESCE(SUM(sup), 0) // 3 FROM s2) AS n_triangles,
                    (SELECT COUNT(*) FROM e1) - (SELECT COUNT(*) FROM e2x) AS n_removed),
      t3 AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             FROM e2x e1 JOIN e2x e2 ON e2.a = e1.b
                         JOIN e2x e3 ON e3.a = e1.a AND e3.b = e2.b),
      s3 AS MATERIALIZED (SELECT a, b, COUNT(*) AS sup FROM (
               SELECT x AS a, y AS b FROM t3
               UNION ALL SELECT x AS a, z AS b FROM t3
               UNION ALL SELECT y AS a, z AS b FROM t3) u
             GROUP BY 1, 2),
      e3x AS MATERIALIZED (SELECT e2x.a, e2x.b FROM e2x LEFT JOIN s3 USING (a, b)
              WHERE COALESCE(sup, 0) >= 2),
      r3 AS (SELECT 3 AS round, (SELECT COUNT(*) FROM e2x) AS n_edges,
                    (SELECT COALESCE(SUM(sup), 0) // 3 FROM s3) AS n_triangles,
                    (SELECT COUNT(*) FROM e2x) - (SELECT COUNT(*) FROM e3x) AS n_removed)
      SELECT CAST(round AS INT) AS round, CAST(n_edges AS BIGINT) AS n_edges,
             CAST(n_triangles AS BIGINT) AS n_triangles,
             CAST(n_removed AS BIGINT) AS n_removed
      FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3) z
    """.trim)
  )

  /** Holt–Winters additive weekly forecast (EventAnalytics
    * .holtWintersDaily scaladoc: α=3/10 β=2/10 γ=2/10 m=7, the triple
    * recursion in integer micro-units with the portable
    * negative-operand floor, zero seasonal init). The oracle's
    * recursive CTE carries the seven seasonal states as columns and
    * replays every step bit-for-bit. */
  val holtWintersQ: Q = Q(
    "x_holt_winters",
    (s, d) => EventAnalytics.holtWintersDaily(Tables.events(s, d)),
    Some("""
      WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
                    COUNT(*) OVER (PARTITION BY event_type) AS n FROM daily),
      rec AS (
        SELECT event_type, rn, n, c * 1000000 AS l6, CAST(0 AS BIGINT) AS b6,
               CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
               CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
               CAST(0 AS BIGINT) AS w4, CAST(0 AS BIGINT) AS w5,
               CAST(0 AS BIGINT) AS w6
        FROM rk WHERE rn = 1
        UNION ALL
        SELECT event_type, rn, n, l6p,
               ((2 * (l6p - l0) + 8 * b0 + 5)
                - (((2 * (l6p - l0) + 8 * b0 + 5) % 10 + 10) % 10)) // 10,
               CASE WHEN j = 0 THEN wn ELSE w0 END,
               CASE WHEN j = 1 THEN wn ELSE w1 END,
               CASE WHEN j = 2 THEN wn ELSE w2 END,
               CASE WHEN j = 3 THEN wn ELSE w3 END,
               CASE WHEN j = 4 THEN wn ELSE w4 END,
               CASE WHEN j = 5 THEN wn ELSE w5 END,
               CASE WHEN j = 6 THEN wn ELSE w6 END
        FROM (
          SELECT *,
                 ((2 * (x6 - l6p) + 8 * wj + 5)
                  - (((2 * (x6 - l6p) + 8 * wj + 5) % 10 + 10) % 10)) // 10 AS wn
          FROM (
            SELECT *,
                   ((3 * (x6 - wj) + 7 * (l0 + b0) + 5)
                    - (((3 * (x6 - wj) + 7 * (l0 + b0) + 5) % 10 + 10) % 10)) // 10 AS l6p
            FROM (
              SELECT rk.event_type, rk.rn, rk.n, rec.l6 AS l0, rec.b6 AS b0,
                     rec.w0, rec.w1, rec.w2, rec.w3, rec.w4, rec.w5, rec.w6,
                     (rk.rn - 1) % 7 AS j, rk.c * 1000000 AS x6,
                     CASE (rk.rn - 1) % 7
                       WHEN 0 THEN rec.w0 WHEN 1 THEN rec.w1 WHEN 2 THEN rec.w2
                       WHEN 3 THEN rec.w3 WHEN 4 THEN rec.w4 WHEN 5 THEN rec.w5
                       ELSE rec.w6 END AS wj
              FROM rec JOIN rk ON rk.event_type = rec.event_type
                              AND rk.rn = rec.rn + 1) q1) q2) q3)
      SELECT event_type, CAST(n AS BIGINT) AS n_days,
             ROUND(CAST(l6 AS DOUBLE) / 1000000, 6) AS level,
             ROUND(CAST(b6 AS DOUBLE) / 1000000, 6) AS trend,
             ROUND(CAST(wnext AS DOUBLE) / 1000000, 6) AS season_next7,
             ROUND(CAST(l6 + 7 * b6 + wnext AS DOUBLE) / 1000000, 6) AS forecast_7
      FROM (SELECT *, CASE (n + 6) % 7
                        WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2
                        WHEN 3 THEN w3 WHEN 4 THEN w4 WHEN 5 THEN w5
                        ELSE w6 END AS wnext
            FROM rec WHERE rn = n) t
    """.trim)
  )

  /** Mann–Kendall monotone-trend significance per event type
    * (DataQuality.mannKendallDaily scaladoc: exact integer S and
    * tie-corrected variance numerators over the day grid, one
    * long-over-18 divide, continuity-corrected z, NULL z on an
    * all-tied series). */
  val mannKendallQ: Q = Q(
    "x_mann_kendall",
    (s, d) => DataQuality.mannKendallDaily(Tables.events(s, d)),
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
                     FROM events GROUP BY 1, 2),
      dd AS (SELECT event_type, day - DATE '1970-01-01' AS d, c FROM daily),
      st AS (SELECT a.event_type,
                    CAST(SUM(CASE WHEN b.c > a.c THEN 1
                                  WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
             FROM dd a JOIN dd b ON a.event_type = b.event_type AND a.d < b.d
             GROUP BY 1),
      ti AS (SELECT event_type, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
             FROM (SELECT event_type, c, COUNT(*) AS t FROM dd GROUP BY 1, 2) g
             GROUP BY 1),
      b AS (SELECT nd.event_type, nd.n AS n_days, COALESCE(st.s_stat, 0) AS s_stat,
                   CAST(nd.n * (nd.n - 1) * (2 * nd.n + 5) - ti.tt AS DOUBLE)
                     / 18.0 AS var_s
            FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
                  FROM dd GROUP BY 1) nd
            LEFT JOIN st USING (event_type) JOIN ti USING (event_type))
      SELECT event_type, n_days, s_stat, ROUND(var_s, 6) AS var_s,
             CASE WHEN var_s > 0 THEN
               ROUND(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / SQRT(var_s)
                          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / SQRT(var_s)
                          ELSE 0.0 END, 6) END AS z
      FROM b
    """.trim)
  )

  /** STL-lite daily decomposition (EventAnalytics.stlDecomposeDaily
    * scaladoc: exact integer t7/d7, epoch-day-mod-7 weekday, one
    * exact divide per seasonal, full-neighborhood validity witness,
    * mirrored trend/residual chains). */
  val stlQ: Q = Q(
    "x_stl_decompose",
    (s, d) => EventAnalytics.stlDecomposeDaily(Tables.events(s, d)),
    Some("""
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
                     FROM events GROUP BY 1, 2),
      dd AS (SELECT event_type, day, day - DATE '1970-01-01' AS d, c FROM daily),
      tr AS (SELECT *,
                    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS t7,
                    COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
             FROM dd),
      v AS (SELECT event_type, day, CAST(((d % 7) + 7) % 7 AS INT) AS dow, c, t7,
                   7 * c - t7 AS d7
            FROM tr WHERE nw = 7),
      se AS (SELECT event_type, dow,
                    CAST(SUM(d7) AS DOUBLE) / CAST(7 * COUNT(*) AS DOUBLE) AS seasonal
             FROM v GROUP BY 1, 2)
      SELECT v.event_type, v.day, CAST(v.c AS BIGINT) AS n_events,
             ROUND(CAST(v.t7 AS DOUBLE) / 7.0, 6) AS trend,
             ROUND(se.seasonal, 6) AS seasonal,
             ROUND(CAST(v.c AS DOUBLE) - CAST(v.t7 AS DOUBLE) / 7.0
                   - se.seasonal, 6) AS residual
      FROM v JOIN se ON v.event_type = se.event_type AND v.dow = se.dow
    """.trim)
  )

  /** LSH tuning curve (Dedup.lshTuningCurve scaladoc: measured
    * candidate expansion of the md5 banding next to the exact
    * 1−(1−s^r)^b S-curve, integer exponents expanded into literal
    * multiplication chains — no libm pow). The oracle replays the
    * banding hash-for-hash and mirrors the chains. */
  val lshCurveQ: Q = Q(
    "x_lsh_curve",
    (s, d) => Dedup.lshTuningCurve(Tables.documents(s, d), k = 16, rowsPerBand = 2),
    Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w),
      ab AS (SELECT doc_id, list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs),
      g AS (SELECT b, s, COUNT(*) AS sz FROM bands GROUP BY 1, 2),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
               FROM (SELECT b, s FROM g WHERE sz >= 2) bc
               JOIN bands x ON x.b = bc.b AND x.s = bc.s
               JOIN bands y ON y.b = bc.b AND y.s = bc.s
                           AND x.doc_id < y.doc_id),
      st AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_buckets,
                    (SELECT CAST(MAX(sz) AS BIGINT) FROM g) AS max_bucket,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidate_pairs),
      samp AS (SELECT doc_id, shl FROM sh0
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 200),
      tp AS (SELECT x.doc_id AS id1, y.doc_id AS id2
             FROM samp x JOIN samp y ON x.doc_id < y.doc_id
             WHERE CAST(len(list_intersect(x.shl, y.shl)) AS DOUBLE)
                   / (len(x.shl) + len(y.shl) - len(list_intersect(x.shl, y.shl)))
                   >= CAST(0.7 AS DOUBLE)),
      rc AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_true_pairs,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM tp
                     WHERE EXISTS (SELECT 1 FROM cand c
                                   WHERE c.id1 = tp.id1 AND c.id2 = tp.id2))
                      AS n_true_caught)
      SELECT ROUND(i / 20.0, 2) AS s,
             ROUND(1.0 - y*y*y*y*y*y*y*y, 6) AS p_collide,
             n_docs, n_buckets, max_bucket, n_candidate_pairs,
             n_true_pairs, n_true_caught,
             CASE WHEN n_true_pairs = 0 THEN NULL
                  ELSE ROUND(CAST(n_true_caught AS DOUBLE) / n_true_pairs, 6)
             END AS recall
      FROM (SELECT i, 1.0 - (i / 20.0) * (i / 20.0) AS y
            FROM (SELECT unnest(generate_series(1, 19)) AS i) gr) q, st, rc
    """.trim)
  )

  def all: Seq[Q] = Seq(dedupExact, dedupExact128, dedupMinhash, dedupSimhash, dedupClusters,
    dedupIncremental, dedupIncrementalBloom, dedupIncrementalBloomSharded,
    dedupIncrementalNearDup, dedupIncrementalNearDupPersisted, dedupIndexMerged,
    seqPack, seqMaterialize, packStatsQ,
    ngramJaccard, containmentPairs,
    knnCosine, knnQuantized, annLsh, annIvf, annIvfKmeans, annPqQ, annPqPersistedQ,
    cosineNearDups,
    dedupSemantic, dedupSemanticLsh, dedupSemanticScored, sampleSemantic, embedQuantize,
    knnJoinBatch, knnJoinLshBatch, knnJoinLshMultiBandQ,
    knnJoinIvfBatch, knnJoinIvfMultiProbe,
    knnJoinIvfPersistedQ,
    clusterReps, dedupApply, textChunks,
    mmMetadata, mmFeatures, mmChunks, mmPhashDups, mmVideoPhash, mmVideoPhashMulti, mmPhashIndexProbe,
    asofJoin, asofForward, rangeJoin, tumblingWindow, corpusPipeline,
    contamination, stratifiedSample, sampleFixedKQ, corpusShuffleQ, corpusMix,
    corpusMixTemperature, shardPack, adaptiveFilter,
    splitAssign, splitLeakageFree, tfidf, bm25, bigramLm, dupSpansQ, lineDedup, sourceCap,
    heavyHittersQ, skewSaltedJoin, zorderValues, overlapJoinQ, fuzzyJoinQ, scd2MergeQ,
    pageRankQ, bpeMergesQ, bpeVocabQ, olsQualityQ, olsPerGroupQ,
    dsirWeights, knnLabel, dupSpansApply, dupSpanFamiliesQ, hybridRrfQ, winnowingQ, prioritySampleQ,
    vocabCoverageQ, cdcChunksQ, cdcDedupStatsQ, pplBucketsQ, mixEpochsQ,
    hardNegativesQ, ngramNoveltyQ, bpeEncodeQ, pprQ,
    sessionizeQ, funnelQ, funnelTimingQ, stickinessQ, attributionQ, aggMergeQ,
    changepointQ, seasonalityQ, retentionQ, knLmQ,
    trianglesQ, labelPropQ, graphStatsQ,
    hllDistinctQ, kcoreQ, kcoreFixpointQ, assocRulesQ, assocRulesPrunedQ, bm25IndexedQ, transitionsQ, profileQ, chi2Q,
    corrMatrixQ, histogramQ, dqChecksQ, kAnonymityQ, lDiversityQ, tClosenessQ, anomalyZscoreQ, anomalyDailyQ, benfordQ, skewReportQ,
    bfsHopsQ, decayedCountsQ, topPathsQ, joinSizeQ, featureHashQ, crossSourceQ, mmrQ, embedOutliersQ, quantileNormQ, abTtestQ,
    acfQ, gapFillQ, bitmapDistinctQ, rfmQ,
    windowFunnelQ, ltvCohortQ, itemCfQ, madDailyQ,
    boolSearchQ, sesForecastQ, concurrencyQ,
    abcQ, interOrderGapQ, seqPairsQ, multiTouchQ,
    ksDriftQ, survivalQ, newVsReturningQ, topMoversQ, holtQ, bloomJoinQ,
    joinDeltaQ, watermarkQ, rollingP90Q, wowGrowthQ, sourceReportQ, waterfillQ,
    segmentCiQ, behaviorQ, priceDecileQ, giniQ, theilQ, entryExitQ, embedDriftQ,
    psiDriftQ, vocabGrowthQ, annRecallQ, pmiPairsQ, markovAttributionQ,
    theilSenQ, jaroBlockedQ, erClustersQ, tokenSetErQ, decileMigrationQ, hhiQ, binsegQ,
    woeIvQ, spearmanQ, mannWhitneyQ, seqTriplesQ, kendallQ, segmentedTrendQ,
    cusumQ, cramersVQ, fdCheckQ, zipfSlopeQ, theilDecompQ, bootstrapCiQ, textRankQ,
    conformalQ, conformalGroupedQ, cupedQ, ktrussQ, holtWintersQ, mannKendallQ, stlQ,
    lshCurveQ, srmCheckQ, jsDivergenceQ)
}
