package graft.ops
package catalog

import graft.{Q, Tables}
import graft.ops.ExtensionQueries.{coMembership, coGraphFace, coGraphFaceR, coPurchaseGraph}
import org.apache.spark.sql.functions._

/** Graph rows over the shared graph faces: triangles, cores, trusses,
  * label propagation, BFS, PageRank, basket co-occurrence. */
object GraphCatalog {

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
    Some(s"""
      WITH e AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      ${OracleSql.pageRankCtes(3)}
      SELECT node, rank_u FROM r3
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
    Some(s"""
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
      ${OracleSql.peelRoundsSql(3)}
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
    Some(s"""
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
        ${OracleSql.peelRoundsSql(6)})
      SELECT CAST(round AS INT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes,
             CAST(n_edges AS BIGINT) AS n_edges
      FROM st
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

  def all: Seq[Q] = Seq(pageRankQ, pprQ, trianglesQ, labelPropQ, graphStatsQ, kcoreQ,
    kcoreFixpointQ, assocRulesQ, assocRulesPrunedQ, bfsHopsQ, itemCfQ, ktrussQ)
}
