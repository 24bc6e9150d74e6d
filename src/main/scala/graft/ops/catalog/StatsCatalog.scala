package graft.ops
package catalog

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Statistics and data-quality rows: profiles, correlation and rank
  * tests, privacy checks, drift, regression and conformal intervals,
  * concentration and customer metrics. */
object StatsCatalog {

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
    Some(s"""
      WITH f AS (
        SELECT n_chars AS y,
               len(regexp_split_to_array(text, '\\s+')) AS x1,
               len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS x2
        FROM documents),
      ${OracleSql.olsDetCtes("f", hKeep = "s00, s01, s02, s11, s12, s22, t0, t1, t2")}
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
    Some(s"""
      WITH f AS (
        SELECT lang, n_chars AS y,
               len(regexp_split_to_array(text, '\\s+')) AS x1,
               len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS x2
        FROM documents),
      ${OracleSql.olsDetCtes("f GROUP BY lang", key = "lang, ")}
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

  /** Rank-based quantile normalization of event values per type — the
    * distribution-free feature scaling (percent_rank = (rank−1)/(n−1):
    * exact integer ranks, ONE correctly-rounded division — immune to
    * the outliers that wreck min-max scaling, identical in any
    * engine). Rides Relational.groupedPercentRank's two-phase value
    * grid: the original `Window.partitionBy(event_type)` plan put each
    * type's millions of rows through ONE task's sort and measured 3.7×
    * at 10× data; the replacement is parallel in the data, not in the
    * type count (A/B in history/BENCH_SCALE.md). Ties share a rank by grid
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
    Some(s"""
      WITH f0 AS (
        SELECT doc_id, n_chars AS y,
               len(regexp_split_to_array(text, '\\s+')) AS x1,
               len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS x2,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 2 = 1) AS cal
        FROM documents),
      ${OracleSql.olsDetCtes("f0 WHERE NOT cal")},
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
    Some(s"""
      WITH f0 AS (
        SELECT lang, doc_id, n_chars AS y,
               len(regexp_split_to_array(text, '\\s+')) AS x1,
               len(list_distinct(regexp_split_to_array(text, '\\s+'))) AS x2,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 2 = 1) AS cal
        FROM documents),
      ${OracleSql.olsDetCtes("f0 WHERE NOT cal GROUP BY lang", key = "lang, ")},
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

  def all: Seq[Q] = Seq(zorderValues, olsQualityQ, olsPerGroupQ, aggMergeQ, hllDistinctQ, profileQ,
    chi2Q, corrMatrixQ, histogramQ, dqChecksQ, kAnonymityQ, lDiversityQ, tClosenessQ,
    anomalyZscoreQ, anomalyDailyQ, benfordQ, skewReportQ, quantileNormQ, abTtestQ, gapFillQ,
    bitmapDistinctQ, rfmQ, ltvCohortQ, madDailyQ, abcQ, interOrderGapQ, ksDriftQ, survivalQ,
    segmentCiQ, priceDecileQ, giniQ, theilQ, psiDriftQ, theilSenQ, decileMigrationQ, hhiQ, woeIvQ,
    spearmanQ, mannWhitneyQ, kendallQ, cramersVQ, fdCheckQ, theilDecompQ, bootstrapCiQ, conformalQ,
    conformalGroupedQ, mannKendallQ, jsDivergenceQ)
}
