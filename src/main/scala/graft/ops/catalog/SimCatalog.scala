package graft.ops
package catalog

import graft.Q
import graft.sim.Similarity
import graft.ops.ExtensionQueries.{coEmbeddings, coSemCentroids, pqIndexFor, ivfIndexFor}
import org.apache.spark.sql.functions._

/** Similarity rows over the shared embeddings face: kNN and ANN
  * (LSH, IVF, PQ), batch kNN joins, semantic dedup, reranking, drift. */
object SimCatalog {

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
      ${OracleSql.kmeansCtesSql(nLists, iters)},
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
      ${OracleSql.kmeansCtesSql(nLists, iters)},
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
      ${OracleSql.kmeansCtesSql(nCents, iters, dim = sub, salt = s"pq$s:", e = s"e$s", sfx = s"_$s")}"""
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
      ${OracleSql.kmeansCtesSql(nLists, iters)},
      ${OracleSql.ivfProbeSql(iters, nprobe = 1)}
    """.trim)
    )
  }

  /** Probe-only batch kNN join over the PERSISTED IVF index: the
    * centroids + list-partitioned corpus materialize once
    * ([[Similarity.saveIndexIvf]]); each batch then reads only the
    * probed list partitions (LayoutSpec asserts the partition pruning).
    * Same parameters as x_knn_join_ivf, so results — and the oracle,
    * which replays the unrolled Lloyd's run — are identical; what
    * changes is WHERE the k-means cost is paid: once at index-build,
    * not per query batch. */
  val knnJoinIvfPersistedQ: Q = Q(
    "x_knn_join_ivf_persisted",
    (s, d) => {
      val queries = coEmbeddings(s, d).filter(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.knnJoinIvfPersisted(s, ivfIndexFor(s, d), queries, k = 5)
    },
    knnJoinIvfBatch.oracle
  )

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
      ${OracleSql.kmeansCtesSql(nLists, iters)},
      ${OracleSql.ivfProbeSql(iters, nprobe = 2)}
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
      ${OracleSql.lshBandCtesSql(nBands, target)},
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
  val cosineNearDups: Q = {
    val nBands = 16 // the measured >=0.95-recall knee (RECALL.md r7 sweep)
    val maxBucket = 4096
    Q(
      "x_cosine_neardups",
      (s, d) => Similarity.cosineNearDups(coEmbeddings(s, d), threshold = 0.5,
        nBands = nBands, maxBucketSize = maxBucket),
      Some(s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      ${OracleSql.lshBandCtesSql(nBands)},
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
    * pins the drop SET, not just its size. t = 0.3 because the test's
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
      ${OracleSql.kmeansCtesSql(nClusters, iters)},
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
      ${OracleSql.kmeansCtesSql(nClusters, iters)},
      sizes AS (SELECT list, COUNT(*) AS csz FROM asgf GROUP BY list),
      cdrops AS (SELECT DISTINCT b.vec_id AS vid
                 FROM asgf a
                 JOIN asgf b ON a.list = b.list AND a.vec_id < b.vec_id
                 JOIN sizes s ON s.list = a.list AND s.csz <= $maxClusterSize
                 WHERE list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= $threshold),
      ${OracleSql.lshBandCtesSql(nBands)},
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
      ${OracleSql.kmeansCtesSql(nClusters, iters)},
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
      ${OracleSql.kmeansCtesSql(nClusters, iters)},
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
      ${OracleSql.kmeansCtesSql(4, 2)},
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

  def all: Seq[Q] = Seq(knnCosine, knnQuantized, annLsh, annIvf, annIvfKmeans, annPqQ,
    annPqPersistedQ, cosineNearDups, dedupSemantic, dedupSemanticLsh, dedupSemanticScored,
    sampleSemantic, embedQuantize, knnJoinBatch, knnJoinLshBatch, knnJoinLshMultiBandQ,
    knnJoinIvfBatch, knnJoinIvfMultiProbe, knnJoinIvfPersistedQ, knnLabel, hardNegativesQ, mmrQ,
    embedOutliersQ, embedDriftQ, annRecallQ)
}
