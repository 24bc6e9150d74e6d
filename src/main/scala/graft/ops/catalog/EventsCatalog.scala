package graft.ops
package catalog

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Event-log and time-series rows: sessions, funnels, attribution,
  * forecasting, change detection, as-of/range joins and join strategies. */
object EventsCatalog {

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
    Some(s"""
      WITH ${OracleSql.bestSplitCtes},
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

  /** Segmented daily trend (EventAnalytics.segmentedTrend scaladoc:
    * binseg argmax for the split, exact decimal OLS per side, both
    * coefficients single divides of exact moments). The oracle replays
    * the argmax and both OLS closed forms. */
  val segmentedTrendQ: Q = Q(
    "x_segmented_trend",
    (s, d) => EventAnalytics.segmentedTrend(Tables.events(s, d)),
    Some(s"""
      WITH ${OracleSql.bestSplitCtes},
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

  def all: Seq[Q] = Seq(asofJoin, asofForward, rangeJoin, tumblingWindow, skewSaltedJoin,
    overlapJoinQ, scd2MergeQ, sessionizeQ, funnelQ, funnelTimingQ, stickinessQ, attributionQ,
    changepointQ, seasonalityQ, retentionQ, transitionsQ, decayedCountsQ, topPathsQ, joinSizeQ,
    acfQ, windowFunnelQ, sesForecastQ, concurrencyQ, seqPairsQ, multiTouchQ, newVsReturningQ,
    topMoversQ, holtQ, bloomJoinQ, joinDeltaQ, watermarkQ, rollingP90Q, wowGrowthQ, behaviorQ,
    entryExitQ, markovAttributionQ, binsegQ, seqTriplesQ, segmentedTrendQ, cusumQ, cupedQ,
    holtWintersQ, stlQ, srmCheckQ)
}
