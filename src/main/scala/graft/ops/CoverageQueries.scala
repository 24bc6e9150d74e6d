package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Coverage beyond the reference's own surface (SURVEY §2.5 lists these
  * as absent there): grouping sets, sorted top-k, semi/anti/outer
  * joins, distinct counting. All oracle-checked.
  */
object CoverageQueries {

  /** ROLLUP aggregation (hierarchy totals in one pass). The grouping
    * sets are computed over the FINEST-GRAIN pre-aggregate, not the
    * fact table: Expand would otherwise multiply every input row by
    * the number of grouping sets before aggregating — at 100 TB that's
    * 3× the scan shuffled; here it's 3× six rows. Decimal partial sums
    * re-aggregate exactly (associative), so results are unchanged. */
  val rollup1: Q = Q(
    "g1_rollup",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sd"),
        count(lit(1)).as("cnt"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("sd")).cast("double").as("sum_qty"),
        sum(col("cnt")).cast("bigint").as("n")),
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """.trim)
  )

  /** CUBE aggregation (all grouping-set combinations) — same
    * pre-aggregate-then-expand shape as g1_rollup. */
  val cube1: Q = Q(
    "g2_cube",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("cnt")).cast("bigint").as("n")),
    Some("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """.trim)
  )

  /** Global sorted top-k with a unique tiebreak — deterministic. On a
    * cluster this is TakeOrderedAndProject: per-partition top-k then a
    * k-row driver merge, never a full sort. */
  val topk: Q = Q(
    "a4_orderby_limit",
    (s, d) => Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice")),
    Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """.trim)
  )

  /** Exact distinct counting per group. */
  val countDistinct1: Q = Q(
    "a5_count_distinct",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps")),
    Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_supps
      FROM lineitem GROUP BY l_returnflag
    """.trim)
  )

  /** EXACT percentiles (linear interpolation, quantile_cont
    * definition) per group, computed HISTOGRAM-THEN-SELECT so the
    * heavy passes parallelize by DATA, not by group count. A
    * rank-window formulation (`row_number over partitionBy(group)`)
    * caps parallelism at the number of groups — lineitem has 3 return
    * flags, so 1000 executors would leave 997 idle while 3 tasks each
    * sort a third of 100 TB. Here instead:
    *   1. one parallel agg for per-group (n, min, max);
    *   2. each row gets a value bucket (B equal-width slots) — a
    *      parallel `groupBy(group, bucket)` histogram of ≤ B·groups
    *      rows;
    *   3. cumulative counts over that TINY histogram locate the one
    *      bucket holding each target rank (lo and lo+1 per quantile,
    *      from (n-1)·num/den split into integer index + exact
    *      fraction);
    *   4. only the ~n/B rows of the needed buckets are sorted
    *      (row_number within (group, bucket)); global rank = bucket
    *      offset + local rank, then the same interpolation.
    * Equal values land in the same bucket, so rank→value selection is
    * unaffected by tie order; the arithmetic is identical to the
    * rank-window form, so the oracle (which replays that form) is
    * bit-identical. Pathological value skew (one bucket ≫ n/B) would
    * recurse the same trick inside the bucket; not needed here.
    */
  val percentiles: Q = {
    import org.apache.spark.sql.expressions.Window
    Q(
      "a6_percentiles",
      (s, d) => {
        val nBuckets = 1024
        val base = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_extendedprice").as("v"))
        val stats = base.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), min(col("v")).as("vmin"), max(col("v")).as("vmax"))
        val bucketed = base.join(broadcast(stats), "l_returnflag")
          .withColumn("b",
            when(col("vmax") === col("vmin"), lit(0L)).otherwise(
              least(floor((col("v") - col("vmin")) / (col("vmax") - col("vmin")) * nBuckets),
                lit(nBuckets - 1L)).cast("long")))
        val hist = bucketed.groupBy(col("l_returnflag"), col("b"))
          .agg(count(lit(1)).as("cnt"))
        val wOff = Window.partitionBy(col("l_returnflag")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = hist.withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
        def loRank(num: Int, den: Int): Column =
          floor((col("n") - 1) * num / den).cast("long") + 1
        val targets = stats.select(col("l_returnflag"),
            explode(array(loRank(1, 2), loRank(1, 2) + 1, loRank(19, 20), loRank(19, 20) + 1))
              .as("r"))
        val needed = targets.join(offs, "l_returnflag")
          .where(col("r") > col("off") && col("r") <= col("off") + col("cnt"))
          .select(col("l_returnflag"), col("b"), col("off")).distinct()
        val wLocal = Window.partitionBy(col("l_returnflag"), col("b")).orderBy(col("v"))
        val sel = bucketed.join(broadcast(needed), Seq("l_returnflag", "b"))
          .withColumn("rn", col("off") + row_number().over(wLocal))
        def qc(num: Int, den: Int): Column = {
          val idx = (col("n") - 1) * num
          val lo = floor(idx / den).cast("long") + 1
          val frac = (idx % den).cast("double") / den
          sum(when(col("rn") === lo, col("v") * (lit(1.0) - frac))
            .when(col("rn") === lo + 1, col("v") * frac))
        }
        sel.groupBy(col("l_returnflag"))
          .agg(qc(1, 2).as("p50"), qc(19, 20).as("p95"))
          .join(stats.select(col("l_returnflag"),
            col("vmin").as("min_price"), col("vmax").as("max_price")), "l_returnflag")
          .select(col("l_returnflag"), col("p50"), col("p95"),
            col("min_price"), col("max_price"))
      },
      Some("""
        WITH ranked AS (
          SELECT l_returnflag, l_extendedprice AS v,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem)
        SELECT l_returnflag,
               SUM(CASE WHEN rn = ((n-1)*1) // 2 + 1 THEN v * (1.0 - CAST(((n-1)*1) % 2 AS DOUBLE) / 2)
                        WHEN rn = ((n-1)*1) // 2 + 2 THEN v * (CAST(((n-1)*1) % 2 AS DOUBLE) / 2) END) AS p50,
               SUM(CASE WHEN rn = ((n-1)*19) // 20 + 1 THEN v * (1.0 - CAST(((n-1)*19) % 20 AS DOUBLE) / 20)
                        WHEN rn = ((n-1)*19) // 20 + 2 THEN v * (CAST(((n-1)*19) % 20 AS DOUBLE) / 20) END) AS p95,
               MIN(v) AS min_price,
               MAX(v) AS max_price
        FROM ranked GROUP BY l_returnflag
      """.trim)
    )
  }

  /** EXACT distributional moments (mean / variance / stddev / skewness)
    * per group via DECIMAL POWER SUMS: one pass accumulates n, Σx, Σx²,
    * Σx³ as exact decimals (map-side combinable, associative, and —
    * unlike a double accumulator or Welford merging — DETERMINISTIC
    * under any partition merge order), then the moments are closed-form
    * double arithmetic on four scalars:
    *   var  = (n·Σx² − (Σx)²) / n²            (population)
    *   skew = (n²·Σx³ − 3n·Σx·Σx² + 2(Σx)³) / (n³·var^{3/2})
    * l_quantity ∈ [1,50] so Σx³ ≤ 1.25e5·n — decimal(38,6) holds it to
    * ~10³² rows. The oracle replays the same power sums, so results are
    * bit-identical; Spark's own stddev/skewness would hash-flake run to
    * run (double partial merges in shuffle order). */
  val moments: Q = {
    def psum(c: Column): Column = sum(c.cast("decimal(38,6)"))
    Q(
      "a7_moments",
      (s, d) => {
        val x = col("l_quantity")
        val agg = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), psum(x).as("s1"),
            psum(x * x).as("s2"), psum(x * x * x).as("s3"))
        val (n, s1, s2, s3) = (col("n").cast("double"),
          col("s1").cast("double"), col("s2").cast("double"), col("s3").cast("double"))
        val variance = (n * s2 - s1 * s1) / (n * n)
        val skew = (n * n * s3 - lit(3.0) * n * s1 * s2 + lit(2.0) * s1 * s1 * s1) /
          (n * n * n * pow(variance, 1.5))
        agg.select(col("l_returnflag"), col("n"),
          round((s1 / n), 6).as("mean_qty"),
          round(variance, 6).as("var_qty"),
          round(sqrt(variance), 6).as("std_qty"),
          round(skew, 6).as("skew_qty"))
      },
      Some("""
        WITH ps AS (
          SELECT l_returnflag, COUNT(*) AS n,
                 SUM(CAST(l_quantity AS DECIMAL(38,6))) AS s1,
                 SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS s2,
                 SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(38,6))) AS s3
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_qty,
               ROUND((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * n), 6) AS var_qty,
               ROUND(sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * n)), 6) AS std_qty,
               ROUND((CAST(n AS DOUBLE) * n * CAST(s3 AS DOUBLE)
                      - 3 * n * CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                      + 2 * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / (CAST(n AS DOUBLE) * n * n * pow((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * n), 1.5)), 6) AS skew_qty
        FROM ps
      """.trim)
    )
  }

  /** Explicit GROUPING SETS (not derivable from rollup/cube) with
    * grouping() null-vs-group markers — over the finest-grain
    * pre-aggregate, like g1/g2. */
  val groupingSets1: Q = Q(
    "g4_grouping_sets",
    (s, d) => Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"))
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("cnt")).cast("bigint").as("n"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls")),
    Some("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
             CAST(GROUPING(l_linestatus) AS INT) AS g_ls
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """.trim)
  )

  /** Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys
    * match each other instead of vanishing — the semantic corner plain
    * equi-joins get wrong on nullable keys. */
  val nullSafeJoin: Q = Q(
    "j4_nullsafe_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      def side(t: String, n: String) = ev.filter(col("event_type") === t)
        .groupBy(expr("nullif(user_id % 10, 0)").as(s"k_$n"))
        .agg(count(lit(1)).as(n))
      side("click", "n_clicks").join(side("view", "n_views"),
          col("k_n_clicks") <=> col("k_n_views"))
        .select(col("k_n_clicks").as("k"), col("n_clicks"), col("n_views"))
    },
    Some("""
      SELECT a.k, a.n_clicks, b.n_views
      FROM (SELECT nullif(user_id % 10, 0) AS k, COUNT(*) AS n_clicks
            FROM events WHERE event_type = 'click' GROUP BY 1) a
      JOIN (SELECT nullif(user_id % 10, 0) AS k, COUNT(*) AS n_views
            FROM events WHERE event_type = 'view' GROUP BY 1) b
        ON a.k IS NOT DISTINCT FROM b.k
    """.trim)
  )

  /** Semi + anti join: customers with vs without orders (EXISTS / NOT
    * EXISTS as joins — no row multiplication, early out per match). */
  val semiAnti: Q = Q(
    "j2_semi_anti",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      val withOrders = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
        .select(lit("with").as("kind"), col("c_custkey"))
      val withoutOrders = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .select(lit("without").as("kind"), col("c_custkey"))
      withOrders.union(withoutOrders)
    },
    Some("""
      SELECT 'with' AS kind, c_custkey FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT 'without' AS kind, c_custkey FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """.trim)
  )

  /** Correlated scalar subquery through `spark.sql` — the TPC-H-Q2/Q17
    * shape. Catalyst DECORRELATES it (RewriteCorrelatedScalarSubquery):
    * the per-row subquery becomes one aggregate + one equi-join, so at
    * 100 TB this costs one shuffle, not |orders| subquery executions.
    * The oracle runs the identical correlated SQL in DuckDB, which
    * decorrelates independently — matching hashes check the REWRITE's
    * semantics, not shared arithmetic. PlanAuditSpec pins the plan
    * (aggregate + join, no per-row subquery artifacts). */
  val correlatedMin: Q = Q(
    "q7_correlated_min",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_q7")
      s.sql("""
        SELECT o_custkey, o_orderkey, o_totalprice FROM orders_q7 o
        WHERE o_totalprice = (SELECT MIN(o2.o_totalprice)
                              FROM orders_q7 o2 WHERE o2.o_custkey = o.o_custkey)
      """)
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
      WHERE o_totalprice = (SELECT MIN(o2.o_totalprice)
                            FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """.trim)
  )

  /** Left outer join preserving unmatched rows with null padding. */
  val outer: Q = Q(
    "j3_left_outer",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val ordAgg = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      cust.join(ordAgg, cust("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    },
    Some("""
      SELECT c_custkey, c_mktsegment, COALESCE(n_orders, 0) AS n_orders
      FROM customer
      LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
        ON c_custkey = o_custkey
    """.trim)
  )

  /** INTERSECT / EXCEPT set operations (absent from the reference —
    * SURVEY §2.4 — but part of a complete relational surface). */
  val setOps: Q = Q(
    "u5_intersect_except",
    (s, d) => {
      val buyers = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"))
      val viewers = Tables.events(s, d).filter(col("event_type") === "view")
        .select(col("user_id"))
      val both = buyers.intersect(viewers).select(lit("both").as("kind"), col("user_id"))
      val buyOnly = buyers.except(viewers).select(lit("buy_only").as("kind"), col("user_id"))
      both.union(buyOnly)
    },
    Some("""
      SELECT 'both' AS kind, user_id FROM
        (SELECT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'view') t
      UNION ALL
      SELECT 'buy_only' AS kind, user_id FROM
        (SELECT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'view') t
    """.trim)
  )

  /** Pivot: per-user event counts spread across event-type columns
    * (conditional aggregation under the hood — same shape in the
    * oracle via FILTER clauses). */
  val pivot1: Q = Q(
    "g3_pivot",
    (s, d) => Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot(col("event_type"), Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L),
    Some("""
      SELECT user_id,
             COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
             COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
             COUNT(*) FILTER (WHERE event_type = 'error')    AS error
      FROM events GROUP BY user_id
    """.trim)
  )

  /** Ranking-function family over a unique total order per user:
    * rank/dense_rank/ntile/percent_rank/cume_dist. percent_rank's
    * (rank-1)/(n-1) double division is the same formula in both
    * engines. */
  val rankFamily: Q = {
    import org.apache.spark.sql.expressions.Window
    Q(
      "w5_rank_family",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
        Tables.events(s, d).select(
          col("user_id"), col("event_id"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"))
      },
      Some("""
        SELECT user_id, event_id,
               RANK() OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               NTILE(4) OVER w AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cdist
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
      """.trim)
    )
  }

  /** Explicit window frames: a 4-row moving average (decimal sum /
    * frame count, so the float value is engine-identical), first_value
    * and nth_value over a running frame. */
  val frames: Q = {
    import org.apache.spark.sql.expressions.Window
    Q(
      "w6_frames",
      (s, d) => {
        val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val moving = order.rowsBetween(-3, Window.currentRow)
        val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d).select(
          col("user_id"), col("event_id"),
          (sum(col("value").cast("decimal(18,4)")).over(moving).cast("double") /
            count(lit(1)).over(moving)).as("moving_avg4"),
          first(col("event_id")).over(running).as("first_event"),
          nth_value(col("event_id"), 2).over(running).as("second_event"))
      },
      Some("""
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER mw AS DOUBLE)
                 / COUNT(*) OVER mw AS moving_avg4,
               FIRST_VALUE(event_id) OVER rw AS first_event,
               NTH_VALUE(event_id, 2) OVER rw AS second_event
        FROM events
        WINDOW
          mw AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
          rw AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      """.trim)
    )
  }

  /** Corpus wordcount: explode tokens, count by token — the canonical
    * map-side-combine aggregation (partial counts per task, one shuffle
    * of (token, n) pairs). */
  val wordcount: Q = Q(
    "x_token_histogram",
    (s, d) => Tables.documents(s, d)
      .select(explode(split(col("text"), "\\s+")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 10),
    Some("""
      SELECT token, COUNT(*) AS n
      FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
            FROM documents) t
      GROUP BY token HAVING COUNT(*) >= 10
    """.trim)
  )

  /** Winsorization: clip each value at its group's exact p95 — the
    * "global stats → tiny broadcast → narrow row transform" shape every
    * outlier/normalization pass at 100 TB wants (the corpus is scanned,
    * never shuffled; only the per-group stat rows move). p95 uses the
    * same rank-interpolation arithmetic as a6_percentiles (exact IEEE,
    * engine-replayable); the clip is a pure comparison. */
  val winsorize: Q = Q(
    "x_winsorize",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      val wRn = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val counts = base.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val ranked = base.withColumn("rn", row_number().over(wRn))
        .join(broadcast(counts), "event_type")
      val idx = (col("n") - 1) * 19
      val lo = floor(idx / 20).cast("long") + 1
      val frac = (idx % 20).cast("double") / 20
      val p95s = ranked.groupBy(col("event_type"))
        .agg(sum(when(col("rn") === lo, col("value") * (lit(1.0) - frac))
          .when(col("rn") === lo + 1, col("value") * frac)).as("p95"))
      base.join(broadcast(p95s), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("value") > col("p95"), col("p95")).otherwise(col("value"))
            .as("value_winsorized"))
    },
    Some("""
      WITH ranked AS (
        SELECT event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events),
      p95 AS (
        SELECT event_type,
               SUM(CASE WHEN rn = ((n-1)*19) // 20 + 1 THEN value * (1.0 - CAST(((n-1)*19) % 20 AS DOUBLE) / 20)
                        WHEN rn = ((n-1)*19) // 20 + 2 THEN value * (CAST(((n-1)*19) % 20 AS DOUBLE) / 20) END) AS p95
        FROM ranked GROUP BY event_type)
      SELECT event_id, event_type, value,
             CASE WHEN value > p95 THEN p95 ELSE value END AS value_winsorized
      FROM events JOIN p95 USING (event_type)
    """.trim)
  )

  def all: Seq[Q] = Seq(rollup1, cube1, groupingSets1, topk, countDistinct1, moments,
    percentiles, semiAnti, nullSafeJoin, outer, correlatedMin, setOps, pivot1,
    rankFamily, frames, wordcount, winsorize)
}
