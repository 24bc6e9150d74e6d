package graft.ops
package catalog

import graft.{Q, Tables}
import graft.dedup.{Banding, Dedup}
import graft.ops.ExtensionQueries.{coNdPairs, coNdClusters, coNdCorpusIndex, ndIndexFor, ndMergeIndexFor}
import org.apache.spark.sql.functions._

/** Dedup rows: exact, MinHash/SimHash near-dup, incremental (bloom,
  * sharded, near-dup index), clusters and their application, duplicate
  * spans, fuzzy entity resolution. */
object DedupCatalog {

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
    * verification construction hash-for-hash. */
  val dedupMinhash: Q = Q(
    "x_dedup_minhash",
    (s, d) => coNdPairs(s, d),
    Some(s"""
      WITH ${OracleSql.minhashBandCtes()},
      ${OracleSql.bandCandidateCtes},
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
    Some(s"""
      WITH RECURSIVE ${OracleSql.nearDupPairCtes},
      ${OracleSql.pairClosureCtes}
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
    dedupIncremental.oracle
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
    dedupIncremental.oracle
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
    Some(s"""
      WITH ${OracleSql.minhashBandCtes()},
      exg AS (SELECT b, s FROM bands WHERE doc_id % 5 <> 0
              GROUP BY b, s HAVING COUNT(*) <= 64),
      cand AS (SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
               FROM exg g JOIN bands i ON i.b = g.b AND i.s = g.s
                          JOIN bands e ON e.b = g.b AND e.s = g.s
                                      AND e.doc_id % 5 <> 0
               WHERE i.doc_id % 5 = 0),
      ${OracleSql.probeUnmatchedSql}
    """.trim)
  )

  /** Probe-only incremental near-dup dedup over the PERSISTED corpus
    * index: the corpus-side shingling/signatures/band grouping — the
    * part that grows with the corpus, and the reason the in-flight form
    * scales with |corpus| per batch — materializes once
    * ([[Banding.Index.save]]); each ingest batch then pays only
    * batch-proportional work. Identical parameters and result as
    * x_dedup_incremental_neardup, so the oracle is the same replay —
    * what changes is WHERE the corpus cost is paid. */
  val dedupIncrementalNearDupPersisted: Q = Q(
    "x_dedup_incremental_neardup_persisted",
    (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dedupAgainstCorpusNearDupIndexed(
        incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        index = Banding.Index.load(s, ndIndexFor(s, d)),
        threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    },
    dedupIncrementalNearDup.oracle
  )

  /** Incremental near-dup dedup against a MERGED index: the persisted
    * corpus index (docs with id%5 ∈ {1,2,3}, built once) plus an
    * in-flight DELTA fragment for yesterday's batch (id%5 = 4), merged
    * at delta cost ([[Banding.Index.merge]] — no rescan of
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
      val merged = Banding.Index.load(s, ndMergeIndexFor(s, d)).merge(Dedup.nearDupIndex(
        docs.filter(pmod(col("doc_id"), lit(5)) === 4), maxBucketSize = Some(64)))
      Dedup.dedupAgainstCorpusNearDupIndexed(
        incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        index = merged, threshold = 0.5)
        .select(col("doc_id"), col("lang"))
    },
    Some(s"""
      WITH ${OracleSql.minhashBandCtes()},
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
      ${OracleSql.probeUnmatchedSql}
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
    * oracle-checked bit-for-bit. */
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
    Some(s"""
      WITH ${OracleSql.shingleOverlapCtes}
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
    Some(s"""
      WITH ${OracleSql.shingleOverlapCtes}
      SELECT id1, id2, n_common,
             CAST(n_common AS DOUBLE) / LEAST(n1, n2) AS containment
      FROM common
      JOIN (SELECT doc_id AS id1j, n AS n1 FROM sizes) s1 ON id1 = id1j
      JOIN (SELECT doc_id AS id2j, n AS n2 FROM sizes) s2 ON id2 = id2j
      WHERE CAST(n_common AS DOUBLE) / LEAST(n1, n2) >= 0.5
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
    Some(s"""
      WITH RECURSIVE ${OracleSql.nearDupPairCtes},
      ${OracleSql.pairClosureCtes},
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
    Some(s"""
      WITH RECURSIVE ${OracleSql.nearDupPairCtes},
      ${OracleSql.pairClosureCtes},
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

  /** LSH tuning curve (Dedup.lshTuningCurve scaladoc: measured
    * candidate expansion of the md5 banding next to the exact
    * 1−(1−s^r)^b S-curve, integer exponents expanded into literal
    * multiplication chains — no libm pow). The oracle replays the
    * banding hash-for-hash and mirrors the chains. */
  val lshCurveQ: Q = Q(
    "x_lsh_curve",
    (s, d) => Dedup.lshTuningCurve(Tables.documents(s, d), k = 16, rowsPerBand = 2),
    Some(s"""
      WITH ${OracleSql.minhashBandCtes(abShl = false)},
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
    dedupIncremental, dedupIncrementalBloom, dedupIncrementalBloomSharded, dedupIncrementalNearDup,
    dedupIncrementalNearDupPersisted, dedupIndexMerged, ngramJaccard, containmentPairs, clusterReps,
    dedupApply, dupSpansQ, fuzzyJoinQ, dupSpansApply, dupSpanFamiliesQ, winnowingQ, crossSourceQ,
    jaroBlockedQ, erClustersQ, tokenSetErQ, lshCurveQ)
}
