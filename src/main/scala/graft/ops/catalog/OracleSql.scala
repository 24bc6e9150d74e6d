package graft.ops
package catalog

import graft.sim.Similarity

/** DuckDB CTEs shared by the catalog's oracle SQL: each CTE that
  * more than one row replays is written here once.
  *
  * ORACLE TYPING RULE (load-bearing against the oracle gate's hash
  * normalization, not just compare.py): any integer output column that
  * reaches DuckDB's SELECT list through a window SUM, a plain SUM, or
  * a COALESCE over either is HUGEINT there and stringifies as `0.0`
  * vs Spark's BIGINT `0` — always wrap it `CAST(... AS BIGINT)`.
  * Swept r10: every window-SUM-derived output column in the catalog is
  * either cast or internal-only.
  */
object OracleSql {

  /** The k-means training run (seeds -> `iters` assign/update rounds ->
    * final assignment `asgf` over centroid CTE `cv<iters>`) unrolled as
    * DuckDB CTEs — shared by every IVF-kmeans oracle. Expects an `e`
    * CTE (vec_id, v) to precede it. */
  private[catalog] def kmeansCtesSql(nLists: Int, iters: Int, dim: Int = 64,
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

  /** DuckDB replay of the adaptive banded-LSH construction over the
    * `e` CTE (vec_id, v): CTEs `p` (adaptive band width from the
    * corpus's own count — `b` bits iff n <= target·2^b, ascending
    * first-match, the exact integer form of
    * Similarity.adaptiveBitsPerBand) and `bands` (vec_id, v, band,
    * bucket — hyperplane sign bits at a fixed stride per band).
    * Shared by x_cosine_neardups and x_dedup_semantic_lsh (target 8,
    * the near-dup prefilter) and x_knn_join_lsh_mb (target 64). */
  private[catalog] def lshBandCtesSql(nBands: Int, target: Long = 8L): String = {
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
    s"""p AS (SELECT $bitsSql AS bits FROM (SELECT COUNT(*) AS n FROM e)),
      bands AS (
      $bandsSql
      )"""
  }

  /** Word-3-gram shingle sets over `documents`: CTEs `w` (doc_id, w —
    * the whitespace-split words) and `sh0` (doc_id, shl — the distinct
    * shingles). */
  private[catalog] val shingleCtes: String =
    """w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      sh0 AS (SELECT doc_id, list_distinct(list_transform(
                generate_series(1, greatest(len(w) - 2, 1)),
                i -> array_to_string(w[i:i+2], ' '))) AS shl FROM w)"""

  /** The md5-family MinHash band chain (Dedup.minhashNearDupsMd5):
    * [[shingleCtes]], then `ab` (each shingle's two 56-bit md5 halves),
    * `sigs0` (16 hashes a + j·b per doc) and `bands` (doc_id, b, s — 8
    * bands of 2 rows). `abShl` keeps `shl` on `ab`. */
  private[catalog] def minhashBandCtes(abShl: Boolean = true): String =
    shingleCtes + s""",
      ab AS (SELECT doc_id, ${if (abShl) "shl, " else ""}list_transform(shl, g ->
                      [('0x' || substr(md5(g), 1, 14))::BIGINT,
                       ('0x' || substr(md5(g), 17, 14))::BIGINT]) AS hp FROM sh0),
      sigs0 AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
                       list_min(list_transform(hp, p -> p[1] + j * p[2]))) AS sl
                FROM ab),
      bands AS (SELECT doc_id, b,
                       array_to_string(sl[2*b+1:2*b+2], ',') AS s
                FROM sigs0, (SELECT unnest(generate_series(0, 7)) AS b) bs)"""

  /** Band-collision candidates over [[minhashBandCtes]]: `bc` (band
    * groups of 2 to 64 docs, the maxBucketSize cap) and `cand` (id1 <
    * id2 sharing a group). */
  private[catalog] val bandCandidateCtes: String =
    """bc AS (SELECT b, s FROM bands GROUP BY b, s HAVING COUNT(*) BETWEEN 2 AND 64),
      cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
               FROM bc JOIN bands x ON x.b = bc.b AND x.s = bc.s
                       JOIN bands y ON y.b = bc.b AND y.s = bc.s
                                   AND x.doc_id < y.doc_id)"""

  /** The near-dup pair table the `ndpairs` face holds: the band chain,
    * its candidates, and `pairs` (id1, id2) — candidates whose shingle
    * Jaccard is at least 0.5. */
  private[catalog] val nearDupPairCtes: String =
    minhashBandCtes() + ",\n      " + bandCandidateCtes + """,
      pairs AS (SELECT id1, id2
                FROM (SELECT id1, id2,
                             len(list_intersect(x.shl, y.shl)) AS nc,
                             len(x.shl) AS n1, len(y.shl) AS n2
                      FROM cand
                      JOIN sh0 x ON id1 = x.doc_id
                      JOIN sh0 y ON id2 = y.doc_id) t
                WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5)"""

  /** Transitive closure of `pairs` (needs `WITH RECURSIVE`): `edges`
    * (both directions) and `reach(a, b)` — every b reachable from a, so
    * `LEAST(a, MIN(b))` is a's component label. */
  private[catalog] val pairClosureCtes: String =
    """edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
      reach(a, b) AS (SELECT a, b FROM edges
                      UNION
                      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)"""

  /** The incremental near-dup probe's tail over a `cand` (in_id, ex_id)
    * CTE: `matched` (ingest docs, id % 5 = 0, with a verified Jaccard ≥
    * 0.5 corpus match) and the select of the ingest docs not matched. */
  private[catalog] val probeUnmatchedSql: String =
    """matched AS (SELECT DISTINCT in_id FROM (
                  SELECT in_id,
                         len(list_intersect(x.shl, y.shl)) AS nc,
                         len(x.shl) AS n1, len(y.shl) AS n2
                  FROM cand
                  JOIN sh0 x ON in_id = x.doc_id
                  JOIN sh0 y ON ex_id = y.doc_id) t
                  WHERE CAST(nc AS DOUBLE) / (n1 + n2 - nc) >= 0.5)
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id % 5 = 0
        AND d.doc_id NOT IN (SELECT in_id FROM matched)"""

  /** The shingle-overlap join of x_ngram_jaccard / x_containment_pairs
    * over [[shingleCtes]]: `hh` (doc_id, hl — md5-60 shingle keys), `sh`
    * (one row per key), `sizes`, `capped` (keys in at most 64 docs) and
    * `common` (id1 < id2, n_common over capped keys). */
  private[catalog] val shingleOverlapCtes: String =
    shingleCtes + """,
      hh AS (SELECT doc_id, list_distinct(list_transform(shl,
                g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS hl FROM sh0),
      sh AS (SELECT doc_id, unnest(hl) AS g FROM hh),
      sizes AS (SELECT doc_id, len(hl) AS n FROM hh),
      capped AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 64),
      common AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_common
                 FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                 JOIN capped c ON a.g = c.g
                 GROUP BY 1, 2)"""

  /** PageRankOp's fixed-point walk over an `e` (src, dst) CTE, unrolled
    * in the same 1e-12-unit integer arithmetic: `nodes`, `nn` (node
    * count), `deg` (out-degree), `r0` (uniform start), then per round k
    * `s<k>` (rank pushed along out-edges), `dm<k>` (dangling mass) and
    * `r<k>` (damping 0.85). The final ranks are CTE `r<iters>`. */
  private[catalog] def pageRankCtes(iters: Int): String = {
    def round(k: Int): String =
      s"""s$k AS (SELECT e.dst AS node, CAST(SUM(r.rank_u // d.deg) AS BIGINT) AS s
             FROM r${k - 1} r JOIN deg d ON r.node = d.src JOIN e ON e.src = r.node
             GROUP BY e.dst),
      dm$k AS (SELECT CAST(COALESCE(SUM(r.rank_u), 0) AS BIGINT) AS dm
              FROM r${k - 1} r LEFT JOIN deg d ON r.node = d.src
              WHERE d.src IS NULL),
      r$k AS (SELECT nodes.node,
               (1000000000000 - (1000000000000 * 85) // 100)
                 // (SELECT n FROM nn)
               + ((COALESCE(s$k.s, 0)
                   + (SELECT dm FROM dm$k) // (SELECT n FROM nn)) * 85) // 100
                 AS rank_u
             FROM nodes LEFT JOIN s$k ON nodes.node = s$k.node)"""
    s"""nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS rank_u
             FROM nodes),
      ${(1 to iters).map(round).mkString(",\n      ")}"""
  }

  /** Merge `b<k>` (a one-row CTE: a, b) applied to the double-space
    * symbol string `sp`: the greedy non-overlapping replace of
    * Corpus.learnBpeMerges. */
  private[catalog] def bpeApplySql(k: Int): String =
    s"""replace(sp,
               ' ' || (SELECT a FROM b$k) || '  ' || (SELECT b FROM b$k) || ' ',
               ' ' || (SELECT a FROM b$k) || (SELECT b FROM b$k) || ' ')"""

  /** Corpus.learnBpeMerges replayed for `nMerges` rounds: `toks` (sp, n
    * — the weighted word dictionary, symbols double-space separated),
    * then per round k `p<k>` (pair counts), `b<k>` (the
    * count-then-lexicographic argmax) and, before the next round, `t<k>`
    * (the dictionary with merge k applied). `applyLast` also emits
    * `t<nMerges>`. */
  private[catalog] def bpeMergeCtes(nMerges: Int, applyLast: Boolean = false): String = {
    def round(k: Int): String = {
      val in = if (k == 1) "toks" else s"t${k - 1}"
      val pb = s"""p$k AS (
        SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM (SELECT n, unnest(list_transform(
                generate_series(1, len(s) - 1), i -> [s[i], s[i+1]])) AS pr
              FROM (SELECT string_split(trim(sp), '  ') AS s, n FROM $in) x) y
        GROUP BY 1, 2),
      b$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1)"""
      if (k < nMerges || applyLast)
        pb + s""",
      t$k AS (SELECT ${bpeApplySql(k)} AS sp,
               n FROM $in)"""
      else pb
    }
    """toks AS (
        SELECT ' ' || regexp_replace(token, '(.)', '\1  ', 'g') AS sp,
               COUNT(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
              FROM documents) t
        WHERE length(token) >= 1
        GROUP BY token),
      """ + (1 to nMerges).map(round).mkString(",\n      ")
  }

  /** Ols.fit2's exact normal-equation solve over a CTE of (y, x1, x2):
    * `m` (the nine BIGINT moment sums over `from`), `h` (the moments as
    * HUGEINT a..g, u..w) and `dets` (Cramer's determinants det and
    * det0..det2). `key` ("lang, " for a per-group fit) leads every
    * select list; `hKeep` names the `m` columns `h` carries through. */
  private[catalog] def olsDetCtes(from: String, key: String = "",
                                  hKeep: String = "s00"): String =
    s"""m AS (
        SELECT ${key}CAST(COUNT(*) AS BIGINT) AS s00,
               CAST(SUM(x1) AS BIGINT) AS s01, CAST(SUM(x2) AS BIGINT) AS s02,
               CAST(SUM(x1*x1) AS BIGINT) AS s11,
               CAST(SUM(x1*x2) AS BIGINT) AS s12,
               CAST(SUM(x2*x2) AS BIGINT) AS s22,
               CAST(SUM(y) AS BIGINT) AS t0,
               CAST(SUM(x1*y) AS BIGINT) AS t1,
               CAST(SUM(x2*y) AS BIGINT) AS t2
        FROM $from),
      h AS (
        SELECT $key$hKeep,
               CAST(s00 AS HUGEINT) AS a, CAST(s01 AS HUGEINT) AS b,
               CAST(s02 AS HUGEINT) AS c, CAST(s11 AS HUGEINT) AS e,
               CAST(s12 AS HUGEINT) AS f, CAST(s22 AS HUGEINT) AS g,
               CAST(t0 AS HUGEINT) AS u, CAST(t1 AS HUGEINT) AS v,
               CAST(t2 AS HUGEINT) AS w
        FROM m),
      dets AS (
        SELECT ${key}s00,
          a*(e*g - f*f) - b*(b*g - f*c) + c*(b*f - e*c) AS det,
          u*(e*g - f*f) - b*(v*g - f*w) + c*(v*f - e*w) AS det0,
          a*(v*g - f*w) - u*(b*g - f*c) + c*(b*w - v*c) AS det1,
          a*(e*w - v*f) - b*(b*w - v*c) + u*(b*f - e*c) AS det2
        FROM h)"""

  /** BM25 over the fixed query terms 'spark', 'merge', 'vector'
    * (Corpus.bm25TopDocs' log-free rational idf): `base` (doc_id, toks,
    * dl), `stats` (n, avgdl), `tf`, `dfx` (df), `scored` (one
    * DECIMAL(18,6) term per doc and term) and `agg` (doc_id, score). */
  private[catalog] val bm25ScoreCtes: String =
    """base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
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
      agg AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM scored GROUP BY 1)"""

  /** The Laplace bigram LM (Corpus.bigramLmScore) per bigram: `base`
    * (docs of 2+ tokens), `big` (doc_id, h1, h2 — md5-60 unigram and
    * bigram keys), `c1`/`c2` (their counts), `vv` (vocabulary size) and
    * `p` (doc_id, s — the DECIMAL(18,6) smoothed probability). */
  private[catalog] val bigramLaplaceCtes: String =
    """base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
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
            FROM big JOIN c2 USING (h2) JOIN c1 USING (h1), vv)"""

  /** Multimodal.phashNearDups replayed on the md5-chunk stub luma of
    * `documents` plus a brightened variant of every `every`-th item
    * (id + `idOffset`, luma + `lumaShift` capped at 255): dhash60, 4
    * bands of 15 bits capped at 1024 per bucket, pairs within Hamming
    * distance 6. The whole query after `WITH`. */
  private[catalog] def phashPairsSql(idOffset: Long, lumaShift: Int, every: Int): String =
    s"""d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      lum AS (SELECT doc_id AS media_id,
                     list_transform(generate_series(0, 65), j ->
                       ('0x' || substr(md5(substr(text, CAST((j*n)//66 AS INT) + 1,
                          CAST(((j+1)*n)//66 - (j*n)//66 AS INT))), 1, 2))::BIGINT) AS lu
              FROM d),
      allm AS (SELECT media_id, lu FROM lum
               UNION ALL
               SELECT media_id + $idOffset, list_transform(lu, v -> least(v + $lumaShift, 255))
               FROM lum WHERE media_id % $every = 0),
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
      WHERE bit_count(xor(h1.dhash, h2.dhash)) <= 6"""

  /** The IVF batch probe after [[kmeansCtesSql]]: `q` (the 40 query
    * vectors), `near` (each query's `nprobe` cosine-nearest lists of
    * centroid CTE `cv<iters>`), `sc` (cosine to every other member of
    * those lists) and the per-query top 5. */
  private[catalog] def ivfProbeSql(iters: Int, nprobe: Int): String =
    s"""q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 40),
      near AS (SELECT qid, qv, list AS probe_list FROM (
                 SELECT q.qid, q.qv, c.list,
                        ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                          list_dot_product(q.qv, c.cv) /
                            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.list) AS rn
                 FROM q, cv$iters c) t WHERE ${if (nprobe == 1) "rn = 1" else s"rn <= $nprobe"}),
      sc AS (SELECT near.qid, a.vec_id,
                    list_dot_product(a.v, near.qv) /
                      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(near.qv, near.qv))) AS c
             FROM asgf a JOIN near ON a.list = near.probe_list AND a.vec_id <> near.qid)
      SELECT qid, vec_id, ROUND(c, 6) AS cos_sim, rn
      FROM (SELECT qid, vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
            FROM sc) t
      WHERE rn <= 5"""

  /** The k-core peel's readout over edge CTEs `e1`..`e<rounds>`: one row
    * per round (round, n_nodes — distinct endpoints, n_edges). */
  private[catalog] def peelRoundsSql(rounds: Int): String =
    (1 to rounds).map { r =>
      val (head, nodes, edges) =
        if (r == 1) ("SELECT 1 AS round,", " AS n_nodes", " AS n_edges")
        else (s"UNION ALL SELECT $r,", "", "")
      s"""$head
             (SELECT COUNT(DISTINCT node) FROM
              (SELECT a AS node FROM e$r UNION ALL SELECT b FROM e$r) t)$nodes,
             (SELECT COUNT(*) FROM e$r)$edges"""
    }.mkString("\n      ")

  /** The daily-count best single split (EventAnalytics' binary
    * segmentation): `g0` (day, c), `g` (+ rn and the prefix count pc),
    * `t` (n days, s events) and `r1` (the split day maximizing the
    * squared-sum gain, ties to the earlier day). */
  private[catalog] val bestSplitCtes: String =
    """g0 AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1),
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
             ORDER BY gain DESC, day LIMIT 1)"""
}
