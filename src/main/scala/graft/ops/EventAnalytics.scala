package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Batch event-stream analytics: gap sessionization, ordered-step
  * conversion funnels, and weekly cohort retention — the classic
  * product-analytics trio over an append-only event log (the same
  * `events` table the streaming tier windows incrementally;
  * these are the batch/backfill forms).
  *
  * Scale design: all three are built so the ONE hash exchange on
  * `user_id` is the only shuffle the event log rides. Every
  * window/aggregate downstream keys on `user_id` or a superset of it,
  * and `HashPartitioning(user_id)` satisfies
  * `ClusteredDistribution(user_id, …)` — Catalyst inserts only local
  * sorts, never a second exchange, so at 100 TB the cost is one
  * repartition of the log plus per-partition sorted scans
  * (PlanAuditSpec pins the single-exchange shape for each operator).
  * Timestamps stay in microsecond-integer epoch (`unix_micros`) through
  * every comparison and in the output — no float time arithmetic, no
  * format-rendering parity risk.
  */
object EventAnalytics {

  /** Gap-based sessionization: a user's events, sorted by time, split
    * into sessions wherever the gap to the previous event exceeds
    * `gapSec`. The standard two-window construction: a lag-compare
    * marks session starts, a running sum over the same sorted
    * partition numbers them, and the per-(user, session) rollup reuses
    * the user partitioning (zero extra shuffles — the groupBy's
    * `ClusteredDistribution(user_id, session_idx)` is satisfied by the
    * window's `HashPartitioning(user_id)`).
    *
    * Output: one row per session — `user_id`, 1-based `session_idx`,
    * `session_start_us`/`session_end_us` (epoch microseconds),
    * `n_events`, `sum_value` (DECIMAL-summed, order-independent).
    * `event_id` breaks timestamp ties so the numbering is total-order
    * deterministic.
    */
  def sessionize(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val gapUs = gapSec * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val marked = events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("_new",
        when(lag(col("ts_us"), 1).over(wOrd).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(wOrd) > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
  }

  /** Ordered-step conversion funnel: how many users performed `steps`
    * IN ORDER (each step strictly after the previous one — the
    * min-time chain t1 = first step1, t2 = first step2 after t1, …).
    *
    * Single pass, single shuffle: each ti is an unordered
    * `min(when(...))` window over the user partition, with ti
    * referencing t(i-1) from the previous select — N chained Window
    * nodes over one `HashPartitioning(user_id)` exchange, then a
    * per-user collapse (same partitioning, no exchange) and a global
    * 3-row rollup. The event log is never self-joined — at 100 TB the
    * N-way join formulation would shuffle the log once per step.
    *
    * Output: one row per step — `step_idx` (1-based), `step` (event
    * type), `n_users` reaching that step in order.
    */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel: steps must be non-empty")
    require(steps.distinct.size == steps.size, "funnel: steps must be distinct")
    val w = Window.partitionBy(col("user_id"))
    val base = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val staged = steps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val prev = if (i == 0) lit(true) else col(s"_t${i - 1}").isNotNull
      val after = if (i == 0) lit(true) else col("ts_us") > col(s"_t${i - 1}")
      df.withColumn(s"_t$i",
        min(when(col("event_type") === step && prev && after, col("ts_us"))).over(w))
    }
    val aggs = steps.indices.map(i => max(col(s"_t$i")).as(s"_t$i"))
    val perUser = staged.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
    val counts = perUser.agg(
      count(col("_t0")).as("_n0"),
      steps.indices.drop(1).map(i => count(col(s"_t$i")).as(s"_n$i")): _*)
    val stackExpr = steps.zipWithIndex
      .map { case (s, i) => s"${i + 1}, '$s', _n$i" }.mkString(", ")
    counts.selectExpr(
      s"stack(${steps.size}, $stackExpr) AS (step_idx, step, n_users)")
  }

  /** Time-to-convert readout for the ordered funnel: for every
    * transition step_{i−1} → step_i of [[funnel]]'s min-time chain,
    * how many users converted and the min / max / mean wait between
    * their chained step times. The same single-exchange construction
    * as [[funnel]] (the t_i chain windows + per-user collapse reuse
    * one `user_id` hash partitioning); gaps are exact microsecond
    * longs, the mean is one IEEE divide of the exact BIGINT gap sum
    * (6 dp) — no float time arithmetic anywhere.
    *
    * Output: one row per transition (step_idx ≥ 2) — `step`,
    * `n_converted`, `min_gap_us`, `max_gap_us`, `avg_gap_us`. */
  def funnelTiming(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "funnelTiming: need at least 2 steps")
    require(steps.distinct.size == steps.size, "funnelTiming: steps must be distinct")
    val w = Window.partitionBy(col("user_id"))
    val base = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val staged = steps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val prev = if (i == 0) lit(true) else col(s"_t${i - 1}").isNotNull
      val after = if (i == 0) lit(true) else col("ts_us") > col(s"_t${i - 1}")
      df.withColumn(s"_t$i",
        min(when(col("event_type") === step && prev && after, col("ts_us"))).over(w))
    }
    val aggs = steps.indices.map(i => max(col(s"_t$i")).as(s"_t$i"))
    val perUser = staged.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
    val gapAggs = steps.indices.drop(1).flatMap { i =>
      val gap = col(s"_t$i") - col(s"_t${i - 1}")
      Seq(count(col(s"_t$i")).as(s"_n$i"),
        min(gap).as(s"_mn$i"), max(gap).as(s"_mx$i"),
        sum(gap).cast("bigint").as(s"_s$i"))
    }
    val agg = perUser.agg(gapAggs.head, gapAggs.tail: _*)
    val stackExpr = steps.zipWithIndex.drop(1).map { case (s, i) =>
      s"${i + 1}, '$s', _n$i, _mn$i, _mx$i, " +
        s"round(cast(_s$i as double) / _n$i, 6)"
    }.mkString(", ")
    agg.selectExpr(s"stack(${steps.size - 1}, $stackExpr) AS " +
      "(step_idx, step, n_converted, min_gap_us, max_gap_us, avg_gap_us)")
  }

  /** DAU / WAU / stickiness per day — the engagement trio. WAU(d) =
    * distinct users active in the trailing 7-day window [d−6, d],
    * computed WITHOUT a range join: each (day, user) activity pair
    * contributes itself to the 7 target days it can serve via a
    * sequence-explode (7·|day-user pairs| narrow rows), then an exact
    * distinct + count per target day. The range-join formulation
    * broadcasts a day list into an inequality nested-loop over the
    * pair table — same output, but the explode shape is one ordinary
    * hash exchange and stays shuffle-sorted for the count.
    * Stickiness = DAU/WAU, one IEEE divide of exact counts (6 dp).
    * Days past the observed maximum receive WAU contributions but no
    * DAU row; the inner join drops them (every reported day is a real
    * activity day).
    *
    * Output: `day`, `dau`, `wau`, `stickiness`. */
  def stickiness(events: DataFrame): DataFrame = {
    // feeds both the DAU count and the WAU explode
    val du = GraftPins.cut(
      events.select(to_date(col("ts")).as("day"), col("user_id")).distinct())
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = du
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
        col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  /** Batch last-touch attribution: every purchase credits the LATEST
    * preceding view-like event of the same user within `horizonSec` —
    * the backfill form of the streaming
    * [[graft.streaming.EventStream.lastTouchAttribution]] join. Batch
    * has the whole log, so no join at all: one max-struct window over
    * the (ts, event_id)-ordered user partition carries the latest
    * prior view to each row ("preceding" = earlier in that total
    * order), and the horizon filter keeps the credit honest. ONE
    * user_id exchange, never a self-join of the log.
    *
    * Output per attributed purchase: `user_id`, `purchase_id`,
    * `p_ts_us`, `view_id`, `v_ts_us`, `gap_us` (all exact
    * microsecond longs). Unattributed purchases (no view inside the
    * horizon) drop out, as in the streaming inner join. */
  def lastTouchAttribution(events: DataFrame, viewType: String = "view",
                           purchaseType: String = "purchase",
                           horizonSec: Long = 3600L): DataFrame = {
    val horizonUs = horizonSec * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("_lv",
        max(when(col("event_type") === viewType,
          struct(col("ts_us").as("v_ts_us"), col("event_id").as("view_id")))).over(wOrd))
      .filter(col("event_type") === purchaseType && col("_lv").isNotNull &&
        col("ts_us") - col("_lv.v_ts_us") <= horizonUs)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_ts_us"), col("_lv.view_id").as("view_id"),
        col("_lv.v_ts_us").as("v_ts_us"),
        (col("ts_us") - col("_lv.v_ts_us")).as("gap_us"))
  }

  /** Event-type transition matrix ("user flow"): for each ordered pair
    * of consecutive events of the same user, count the (prev_type →
    * event_type) transition and its row-normalized probability — the
    * first-order Markov readout of the event log. One lag window over
    * the single user_id exchange (same shape as [[sessionize]]); the
    * transition rollup is event-type² groups, map-side combined to
    * almost nothing before its exchange. Probabilities are one IEEE
    * division of exact counts, 6 dp. `event_id` breaks timestamp ties.
    *
    * Output: prev_type, event_type, n (transition count), prob. */
  def transitions(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wPrev = Window.partitionBy(col("prev_type"))
    pairs
      .withColumn("prob",
        round(col("n").cast("double") / sum(col("n")).over(wPrev), 6))
  }

  /** Market-basket association rules over (basket, item) pairs —
    * support / confidence / lift for the top-k item pairs (Agrawal &
    * Srikant's Apriori output for itemsets of size 2, computed directly:
    * the pair-count table IS the L2 candidate set, no candidate
    * generation loop needed at this size).
    *
    * For an unordered pair {a, b} (a < b):
    *   support    = c_ab / n   (share of baskets containing both)
    *   confidence = c_ab / c_a (of a's baskets, share also holding b —
    *                reported in the a→b direction)
    *   lift       = n·c_ab / (c_a·c_b)
    * All three are single IEEE divisions of exact BIGINT counts
    * (c_a·c_b below 2⁶³ for basket counts to ~3e9 per item), rounded
    * to 6 dp; ranking is (lift DESC, a, b) — a total order, so top-k
    * is reproducible.
    *
    * Scale shape: the per-basket self-join is bounded by basket size
    * (k items → k(k−1)/2 pairs); pair counts and item counts combine
    * map-side; the item-count dictionary joins back twice (item-sized,
    * hash joins); the final top-k is a TakeOrderedAndProject, never a
    * full sort.
    *
    * Input columns: `basketCol`, `itemCol`. Output: a, b, n_ab,
    * support, confidence, lift, rn (1-based rank).
    *
    * `assumeDistinct = true` promises the input is ALREADY the
    * distinct (basket, item) membership table (e.g. a shared
    * checkpointed face) — the dedup exchange is skipped; a violating
    * input would over-count. The caller-contract posture of
    * [[GraphOps]]'s assumeCanonical.
    *
    * `minCount > 1` is a SUPPORT THRESHOLD (pairs must co-occur in ≥
    * minCount baskets) with Apriori pre-pruning: by downward closure
    * no qualifying pair contains an item held by < minCount baskets,
    * so the membership table is semi-joined to the frequent items
    * BEFORE the pair self-join — on power-law basket data (real
    * transaction logs, where most items are rare) that collapses the
    * pair enumeration superlinearly while provably changing nothing
    * the n_ab filter wouldn't also drop. On near-uniform item counts
    * (the TPC-H co-occurrence table: every part in ~30 baskets) the
    * item prune passes everything and only the pair filter bites —
    * the prune's cost is one broadcast-sized semi-join against the
    * item-count table the rule scoring builds anyway. minCount = 1
    * (default) keeps the exhaustive top-k-by-lift plan unchanged. */
  def associationRules(baskets: DataFrame, basketCol: String, itemCol: String,
                       k: Int = 20, assumeDistinct: Boolean = false,
                       minCount: Long = 1L): DataFrame = {
    require(k >= 1, s"associationRules: k must be >= 1, got $k")
    require(minCount >= 1, s"associationRules: minCount must be >= 1, got $minCount")
    val bi0 = baskets.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
    val bi = if (assumeDistinct) bi0 else bi0.distinct()
    val n = bi.select(col("_bk")).distinct().count()
    val itemCnt = bi.groupBy(col("_it")).agg(count(lit(1)).as("_c"))
    val biFreq =
      if (minCount <= 1) bi
      else bi.join(itemCnt.filter(col("_c") >= minCount).select(col("_it")), Seq("_it"),
        "left_semi")
    val pairCnt0 = biFreq.select(col("_bk"), col("_it").as("a"))
      .join(biFreq.select(col("_bk"), col("_it").as("b")), "_bk")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val pairCnt = if (minCount <= 1) pairCnt0 else pairCnt0.filter(col("n_ab") >= minCount)
    // the item-count dictionary is item-sized (vocabulary-bounded —
    // the entity-resolution argument) while the pair table is the
    // data-sized side: broadcasting the dictionary scores the pairs
    // in place, where the previous shuffle_hash hints exchanged the
    // ENTIRE pair table twice (once by a, once by b) — at sf1 that
    // was 2 × 12M-row exchanges to look up 200k counts
    val scored = pairCnt
      .join(broadcast(itemCnt.select(col("_it").as("a"), col("_c").as("ca"))), "a")
      .join(broadcast(itemCnt.select(col("_it").as("b"), col("_c").as("cb"))), "b")
      .select(col("a"), col("b"), col("n_ab"),
        round(col("n_ab").cast("double") / lit(n), 6).as("support"),
        round(col("n_ab").cast("double") / col("ca"), 6).as("confidence"),
        round((lit(n) * col("n_ab")).cast("double") / (col("ca") * col("cb")), 6).as("lift"))
    val top = scored.orderBy(col("lift").desc, col("a"), col("b")).limit(k)
    top.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("lift").desc, col("a"), col("b"))))
  }

  /** Weekly cohort retention: users grouped by the ISO week of their
    * FIRST event (the cohort); for each later week, how many of that
    * cohort were active. The first-event time is a `min` window over
    * the user partition — the cohort assignment rides the same single
    * exchange as the activity rows, with no users-dimension join (the
    * join formulation shuffles the log twice and builds a second copy
    * of the user set; this shape is one exchange + one distinct-agg).
    *
    * `week_offset` = whole weeks between the cohort week and the
    * activity week (both Monday-truncated, so the day difference is an
    * exact multiple of 7; integer `div`, no float).
    *
    * Output: `cohort_week` ("yyyy-MM-dd" Monday), `week_offset` (INT,
    * 0 = the cohort's own week), `n_users` active that week.
    */
  def retention(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("ts"))
      .withColumn("_first", min(col("ts")).over(w))
      .select(col("user_id"),
        date_trunc("week", col("_first")).as("_cw"),
        date_trunc("week", col("ts")).as("_aw"))
      .select(col("user_id"),
        date_format(col("_cw"), "yyyy-MM-dd").as("cohort_week"),
        expr("CAST(datediff(to_date(_aw), to_date(_cw)) div 7 AS INT)").as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Top-k most common session journeys: each gap-based session (the
    * identical lag-compare + running-sum construction as [[sessionize]],
    * same `gapSec`) renders as the ">"-joined sequence of its first
    * `maxLen` event types, and the most frequent paths surface with
    * their session counts.
    *
    * The path key is CAPPED at `maxLen` steps — an unbounded
    * concatenation would let one runaway session (a bot emitting 10⁶
    * events) manufacture a multi-megabyte grouping key; the cap bounds
    * every exchanged key at `maxLen` type names, the standard
    * journey-analysis truncation.
    *
    * Shuffle story: lag-compare, session numbering, within-session
    * row numbers and the per-session ordered collect all ride the ONE
    * `user_id` exchange (every window/group key is a superset of
    * user_id). The ordered collect is sort_array over (rn, type)
    * structs — collect_list order is undefined under retries; the
    * sort makes it total-order deterministic. The path count is a
    * map-side-combined aggregation on the bounded keys and the top-k
    * is orderBy+limit (TakeOrderedAndProject: per-task heaps, no
    * global sort), ties broken by path string ascending; `rn` is the
    * 1-based output position. */
  def topPaths(events: DataFrame, gapSec: Long = 1800L, k: Int = 20,
               maxLen: Int = 10): DataFrame = {
    require(k >= 1, s"topPaths: k must be >= 1, got $k")
    require(maxLen >= 1, s"topPaths: maxLen must be >= 1, got $maxLen")
    val gapUs = gapSec * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val marked = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("_new",
        when(lag(col("ts_us"), 1).over(wOrd).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(wOrd) > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("session_idx"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") <= maxLen)
    val counts = marked.groupBy(col("user_id"), col("session_idx"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
    counts.orderBy(col("n_sessions").desc, col("path")).limit(k)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
  }

  /** Single-split changepoint detection on the daily event-count
    * series: the day boundary that maximizes |mean-before − mean-after|
    * (the k=1 case of least-squares segmentation — the first question
    * asked of any metric that "looks different lately"). Exhaustive
    * over every candidate split, so the answer is exact, not a
    * heuristic scan.
    *
    * Scale shape: the event log collapses to the daily count table in
    * ONE map-side-combined exchange (≤ one row per day — thousands of
    * rows for decades); every candidate split's prefix/suffix moments
    * then come from a single prefix-sum window over that tiny table,
    * and the argmax is orderBy+limit. Nothing data-sized is ever
    * sorted or re-read.
    *
    * Determinism: prefix sums are exact BIGINTs; the split score
    * |S_b/n_b − S_a/n_a| drops to double only in the two final
    * correctly-rounded divides (mirrored by the oracle), ranking
    * compares the unrounded score with ties broken by earliest day.
    *
    * Output: one row — `split_day` (last day of the BEFORE segment),
    * `n_days_before`/`n_days_after`, `mean_before`/`mean_after`
    * (events/day, 6 dp), `delta` (6 dp). */
  def changepointDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val wPre = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.agg(count(lit(1)).as("nd"), sum(col("c")).cast("bigint").as("st"))
    val scored = daily
      .withColumn("nb", count(lit(1)).over(wPre))
      .withColumn("sb", sum(col("c")).over(wPre).cast("bigint"))
      .crossJoin(broadcast(tot))
      .filter(col("nb") < col("nd")) // a split needs a non-empty AFTER side
      .withColumn("mb", col("sb").cast("double") / col("nb").cast("double"))
      .withColumn("ma", (col("st") - col("sb")).cast("double") /
        (col("nd") - col("nb")).cast("double"))
      .withColumn("delta", abs(col("mb") - col("ma")))
    scored.orderBy(col("delta").desc, col("day")).limit(1)
      .select(col("day").as("split_day"),
        col("nb").as("n_days_before"), (col("nd") - col("nb")).as("n_days_after"),
        round(col("mb"), 6).as("mean_before"), round(col("ma"), 6).as("mean_after"),
        round(col("delta"), 6).as("delta"))
  }

  /** Autocorrelation function of the daily event-count series at lags
    * 1..`maxLag` — the periodicity screen run before any seasonal
    * model: a spike at lag 7 says "weekly rhythm", slow decay says
    * "trend", a flat ACF says the daily metric is noise. Standard
    * biased estimator r_k = Σ_{t>k} d_t·d_{t−k} / Σ d_t² with
    * d_t = x_t − x̄ over the full series; lags are POSITIONS in the
    * date-ordered observed series (no calendar densification — compose
    * with [[Relational.calendarFillDaily]] first when missing days
    * must count as zero).
    *
    * Scale shape: the event log collapses to the daily count grid in
    * ONE map-side-combined exchange (≤ one row per day), checkpointed
    * so the deviations read the grid, not the data; the checkpoint's
    * own job observes the totals and Σx², from which the denominator
    * follows exactly (no scalar sidecar pass); the lag windows,
    * products and rollup run on that bounded grid, so the single-partition ordered window is
    * days-sized, never data-sized (the [[changepointDaily]]
    * justification).
    *
    * Determinism: the mean never becomes a float — each deviation is
    * the exact integer N·x_t − S (multiplied through by N), products
    * and sums ride DECIMAL(18,0)/(38,0), and the one IEEE divide
    * happens at the end, mirrored by the oracle. N·x fits 18 digits
    * through ~10¹² events/day over ~10⁶ days.
    *
    * Output: one row per lag — `lag`, `n_pairs` (overlapping pairs),
    * `acf` (6 dp). */
  def acfDaily(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 60, s"acfDaily: maxLag must be in [1, 60], got $maxLag")
    val (daily, tot) = GraftPins.ck(events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c")))(count(lit(1)).cast("long").as("nd"),
      sum(col("c")).cast("long").as("st"),
      sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("sc2"))
    val base = GraftPins.withScalars(daily, tot)
      .withColumn("dcent", (col("nd") * col("c") - col("st")).cast("decimal(18,0)"))
    // Σ (N·x − S)² = N·(N·Σx² − S²) exactly (Σx = S), from the observed
    // sums: the denominator needs no pass of its own
    val den = if (tot.isNullAt(1)) null else {
      val (nd, st) = (BigInt(tot.getLong(0)), BigInt(tot.getLong(1)))
      new java.math.BigDecimal(
        (nd * (nd * BigInt(tot.getDecimal(2).toBigIntegerExact) - st * st)).bigInteger)
    }
    val w = Window.orderBy(col("day")) // grid-sized: bounded by #days
    val lagged = base.select(Seq(col("dcent")) ++
      (1 to maxLag).map(k => lag(col("dcent"), k).over(w).as(s"l$k")): _*)
    val stacked = lagged.select(expr(
      s"stack($maxLag, " +
        (1 to maxLag).map(k => s"${k}L, dcent * l$k").mkString(", ") +
        ") as (lag, prod)"))
    stacked.groupBy(col("lag"))
      .agg(count(col("prod")).as("n_pairs"),
        sum(col("prod")).cast("decimal(38,0)").as("num"))
      .withColumn("den", lit(den).cast("decimal(38,0)"))
      .select(col("lag"), col("n_pairs"),
        round(col("num").cast("double") / col("den").cast("double"), 6).as("acf"))
  }

  /** Simple exponential smoothing (SES) of the per-type daily event
    * series with α = 3/10 — the one-parameter forecast baseline every
    * capacity plan starts from: level_t = 0.7·level_{t−1} + 0.3·x_t,
    * reported as the final smoothed level (= the one-step-ahead
    * forecast) plus the in-sample one-step MAE that says how much to
    * trust it.
    *
    * Determinism: the recursion runs ENTIRELY in integer micro-units —
    * s6_t = (7·s6_{t−1} + 3·x6_t + 5) div 10 (half-up in scaled
    * longs), error mass Σ|x6 − s6| exact — so the smoothed level is
    * bit-reproducible and a SQL recursive CTE replays it literally; no
    * float ever enters the loop (magnitudes: safe through ~10¹¹
    * events/day — 7·s6 must fit a signed 64-bit long).
    *
    * Scale shape: ONE map-side-combined exchange collapses the log to
    * the (type, day) grid; the fold is a per-type `aggregate()` HOF
    * over the date-sorted day array — days-sized state (years ≈ 10³
    * elements), never data-sized, the [[changepointDaily]] bounded-
    * window justification in array form. The recursion is inherently
    * sequential per type; types fold in parallel.
    *
    * Output: one row per `event_type` — `n_days`, `level` (6 dp),
    * `mae` (6 dp one-step absolute error mean, NULL for a 1-day
    * series). */
  def sesForecastDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val arrs = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("arr"))
    // SQL lambda (not the Column API): the recursion needs exact
    // integer `div` — Column `/` on longs silently promotes to double
    val folded = arrs.select(col("event_type"),
      size(col("arr")).cast("long").as("n_days"),
      expr("""
        aggregate(
          slice(arr, 2, greatest(size(arr) - 1, 0)),
          named_struct('s6', arr[0].c * 1000000L, 'err6', 0L),
          (acc, x) -> named_struct(
            's6', (acc.s6 * 7L + x.c * 3000000L + 5L) div 10L,
            'err6', acc.err6 + abs(x.c * 1000000L - acc.s6)))
      """).as("f"))
    folded.select(col("event_type"), col("n_days"),
      round(col("f").getField("s6").cast("double") / 1000000L, 6).as("level"),
      when(col("n_days") > 1,
        round(col("f").getField("err6").cast("double") / 1000000L / (col("n_days") - 1), 6))
        .as("mae"))
  }

  /** Holt linear-trend forecast of the per-type daily series
    * (α = 3/10, β = 2/10) — [[sesForecastDaily]]'s upgrade when the
    * metric trends (SES lags a ramp forever; Holt tracks it):
    * level_t = 0.3·x_t + 0.7·(level + trend), trend_t =
    * 0.2·(level_t − level_{t−1}) + 0.8·trend, initialized at
    * (x_1, 0).
    *
    * Determinism: both recursions ride integer micro-units with
    * HALF-UP-toward-+∞ rounding implemented as floor((t+5)/10) — and
    * since the TREND can go negative while both engines' integer
    * division truncates toward zero, the floor is built portably from
    * the non-negative remainder: fd(y) = (y − pmod(y,10)) div 10.
    * A recursive CTE replays every step bit-for-bit.
    *
    * Scale shape: identical to [[sesForecastDaily]] — one exchange to
    * the (type, day) grid, per-type day-array fold, types in
    * parallel.
    *
    * Output: one row per `event_type` — `n_days`, `level`, `trend`,
    * `forecast_7` (level + 7·trend, all 6 dp). */
  def holtForecastDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val arrs = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("arr"))
    // floor((t+5)/10) via the non-negative remainder — portable across
    // truncating integer division (see scaladoc); lambdas have no let,
    // so the new level expression is inlined where referenced (a
    // static 1-step tree — not the winnowing CollapseProject trap)
    val folded = arrs.select(col("event_type"),
      size(col("arr")).cast("long").as("n_days"),
      expr("""
        aggregate(
          slice(arr, 2, greatest(size(arr) - 1, 0)),
          named_struct('l6', arr[0].c * 1000000L, 'b6', 0L),
          (acc, x) -> named_struct(
            'l6', ((3000000L * x.c + 7L * (acc.l6 + acc.b6) + 5L)
                   - pmod(3000000L * x.c + 7L * (acc.l6 + acc.b6) + 5L, 10L)) div 10L,
            'b6', ((2L * (((3000000L * x.c + 7L * (acc.l6 + acc.b6) + 5L)
                           - pmod(3000000L * x.c + 7L * (acc.l6 + acc.b6) + 5L, 10L)) div 10L
                          - acc.l6) + 8L * acc.b6 + 5L)
                   - pmod(2L * (((3000000L * x.c + 7L * (acc.l6 + acc.b6) + 5L)
                                 - pmod(3000000L * x.c + 7L * (acc.l6 + acc.b6) + 5L, 10L)) div 10L
                                - acc.l6) + 8L * acc.b6 + 5L, 10L)) div 10L))
      """).as("f"))
    folded.select(col("event_type"), col("n_days"),
      round(col("f").getField("l6").cast("double") / 1000000L, 6).as("level"),
      round(col("f").getField("b6").cast("double") / 1000000L, 6).as("trend"),
      round((col("f").getField("l6") + lit(7L) * col("f").getField("b6"))
        .cast("double") / 1000000L, 6).as("forecast_7"))
  }

  /** Holt–Winters additive forecast with weekly seasonality
    * (α = 3/10, β = 2/10, γ = 2/10, m = 7) — [[holtForecastDaily]]'s
    * upgrade when the daily metric has a day-of-week shape (Holt
    * forever lags a weekly sawtooth; HW learns one additive seasonal
    * offset per weekday-of-series):
    *   level_t = α·(x_t − s_{t−m}) + (1−α)·(level + trend)
    *   trend_t = β·(level_t − level) + (1−β)·trend
    *   s_t     = γ·(x_t − level_t) + (1−γ)·s_{t−m}
    * initialized at (x₁, 0, 0⃗) — the zero seasonal init is the
    * documented deterministic choice (a warm-start average would work
    * too; the recursion washes the init out at γ > 0).
    *
    * Determinism: the whole triple recursion rides integer
    * micro-units with the portable floor fd(y) = (y − pmod(y,10))
    * div 10 ([[holtForecastDaily]]'s negative-operand discipline —
    * trend AND seasonals go negative); season index is (rn−1) mod 7
    * over the day-ORDER of the series (gaps keep their series
    * position — the same day-grid contract as SES/Holt). A recursive
    * CTE carrying the seven seasonal states as columns replays every
    * step bit-for-bit.
    *
    * Scale shape: one exchange to the (type, day) grid, per-type
    * day-array fold (the state is 9 longs), types in parallel.
    *
    * Output: one row per `event_type` — `n_days`, `level`, `trend`,
    * `season_next7` (the seasonal offset the +7-day forecast lands
    * on), `forecast_7` = level + 7·trend + that offset (6 dp). */
  def holtWintersDaily(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val arrs = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("arr"))
      .withColumn("arr2",
        expr("transform(arr, (e, i) -> named_struct('c', e.c, 'i', i))"))
    val folded = arrs.select(col("event_type"),
      size(col("arr")).cast("long").as("n_days"),
      expr("aggregate(slice(arr2, 2, greatest(size(arr2) - 1, 0)), named_struct('l6', arr2[0].c * 1000000L, 'b6', 0L, 's6', array_repeat(0L, 7)), (acc, x) -> named_struct('l6', (((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L) - pmod((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L), 10L)) div 10L), 'b6', (((2L * ((((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L) - pmod((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L), 10L)) div 10L) - acc.l6) + 8L * acc.b6 + 5L) - pmod((2L * ((((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L) - pmod((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L), 10L)) div 10L) - acc.l6) + 8L * acc.b6 + 5L), 10L)) div 10L), 's6', transform(acc.s6, (v, vi) -> IF(vi = CAST(x.i % 7 AS INT), (((2L * (1000000L * x.c - (((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L) - pmod((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L), 10L)) div 10L)) + 8L * element_at(acc.s6, CAST(x.i % 7 AS INT) + 1) + 5L) - pmod((2L * (1000000L * x.c - (((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L) - pmod((3L * (1000000L * x.c - element_at(acc.s6, CAST(x.i % 7 AS INT) + 1)) + 7L * (acc.l6 + acc.b6) + 5L), 10L)) div 10L)) + 8L * element_at(acc.s6, CAST(x.i % 7 AS INT) + 1) + 5L), 10L)) div 10L), v))))").as("f"))
    // forecast lands on series position n+7 → season index (n+6) mod 7
    val jNext = pmod(col("n_days") + 6, lit(7)).cast("int")
    val sNext = element_at(col("f").getField("s6"), jNext + 1)
    folded.select(col("event_type"), col("n_days"),
      round(col("f").getField("l6").cast("double") / 1000000L, 6).as("level"),
      round(col("f").getField("b6").cast("double") / 1000000L, 6).as("trend"),
      round(sNext.cast("double") / 1000000L, 6).as("season_next7"),
      round((col("f").getField("l6") + lit(7L) * col("f").getField("b6") + sNext)
        .cast("double") / 1000000L, 6).as("forecast_7"))
  }

  /** STL-lite additive decomposition of the per-type daily series —
    * the classical-decomposition readout (trend = centered 7-point
    * moving average over series positions; seasonal = per-weekday mean
    * of the detrended series; residual = the rest) that an analyst
    * runs BEFORE the model pickers ([[holtWintersDaily]] fits, this
    * explains): "how much of this metric is trend, how much weekly
    * rhythm, how much noise", day by day.
    *
    * Determinism: the 7-point trend sum t7 and the detrended value
    * d7 = 7c − t7 are exact integers; the per-weekday seasonal is ONE
    * exact-integer-over-integer divide (Σd7 / (7·count)); weekday is
    * epoch-day mod 7 (engine-neutral — both engines' DOW functions
    * disagree on numbering); trend and residual are mirrored double
    * chains; only rows with a full 7-point neighborhood are emitted
    * (count-over-window = 7 is the validity witness, so series edges
    * and sub-7-day types drop out rather than emitting a ragged
    * average).
    *
    * Scale shape: one exchange to the (type, day) grid; windows and
    * rollups are grid-sized (the cusum/day-grid precedent); the
    * weekday seasonal table broadcasts back. */
  def stlDecomposeDaily(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"), col("day"),
        datediff(col("day"), lit("1970-01-01").cast("date")).as("d"), col("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-3, 3)
    // seasonal rollup + the final readout
    val trended = GraftPins.cut(daily
      .withColumn("t7", sum(col("c")).over(w).cast("long"))
      .withColumn("nw", count(lit(1)).over(w))
      .filter(col("nw") === 7)
      .withColumn("dow", pmod(col("d"), lit(7)).cast("int"))
      .withColumn("d7", lit(7L) * col("c") - col("t7")))
    val seasonal = trended.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("d7")).cast("long").as("sd7"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"), col("dow"),
        (col("sd7").cast("double") / (lit(7L) * col("cnt")).cast("double")).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("c").as("n_events"),
        round(col("t7").cast("double") / 7.0, 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("c").cast("double") - col("t7").cast("double") / 7.0
          - col("seasonal"), 6).as("residual"))
  }

  /** Peak session concurrency — the sweep-line readout behind
    * capacity sizing ("how many sessions were open at once, and
    * when"): [[sessionize]]'s inclusive [start, end] intervals become
    * +1/−1 boundary deltas (−1 at end+1 μs, so a session ending the
    * microsecond another starts still overlaps it), deltas collapse
    * per timestamp, and the running sum over time order is the exact
    * concurrency step function; its max and the first time it is
    * attained are the answer.
    *
    * Scale shape: the running sum is
    * [[graft.ops.Relational.prefixSum]] — the distributed two-phase
    * form (range shuffle + parallel bounded windows + broadcast
    * offsets). NO single-partition global window ever sees the
    * boundary table, which is 2·|sessions| rows — data-sized at
    * 100 TB. The per-t delta collapse before the prefix sum makes t
    * unique (prefixSum's total-order contract) AND makes the running
    * value at each t the exact post-boundary concurrency, so no
    * transient intra-tie value ever inflates the max.
    *
    * Output: one row — `n_sessions`, `peak_concurrency`,
    * `peak_at_us`. (r9 plan rebuild, measured: the first cut
    * checkpointed the session table, ran a separate count job and
    * union-scanned the checkpoint twice; both boundary deltas now
    * EXPLODE out of one session pass and the session count rides the
    * grid as the +1 mass.) */
  def peakConcurrency(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val sess = sessionize(events, gapSec)
    val deltas = sess.select(explode(array(
        struct(col("session_start_us").as("t"), lit(1L).as("d")),
        struct((col("session_end_us") + 1).as("t"), lit(-1L).as("d")))).as("x"))
      .select(col("x.t").as("t"), col("x.d").as("d"))
      .groupBy(col("t"))
      .agg(sum(col("d")).as("net"),
        sum(when(col("d") > 0, col("d")).otherwise(0L)).as("starts"))
    val (conc, peak) = GraftPins.ck(
      Relational.prefixSum(deltas, Seq(col("t")), "net", "conc"))(
      max(col("conc")).as("pk"), sum(col("starts")).cast("long").as("ns"))
    GraftPins.withScalars(conc, peak).where(col("conc") === col("pk"))
      .agg(max(col("ns")).as("n_sessions"),
        max(col("conc")).as("peak_concurrency"), min(col("t")).as("peak_at_us"))
      .select(col("n_sessions"), col("peak_concurrency"), col("peak_at_us"))
  }

  /** Eventually-follows matrix — for every ordered pair of event
    * types (a, b), in how many sessions does SOME a-occurrence
    * precede SOME b-occurrence (strictly earlier timestamp): the
    * process-mining precedence relation that [[transitions]]'
    * adjacent-step matrix misses (a → x → b counts here, not there),
    * and the first artifact a process-discovery pass derives.
    *
    * "a before b" ⟺ min_ts(a) < max_ts(b) within the session, so the
    * session collapses to its per-type (min, max) envelope — never
    * a pairwise self-join of events. Same-timestamp occurrences don't
    * count as ordered (strict <), and a≠b.
    *
    * Scale shape: one user_id exchange carries the session marking
    * AND the (session, type) envelope collapse; per session the
    * envelope set is ≤ |type domain| entries, so the in-row pair
    * generation is domain²-bounded (NOT data-bounded — the place
    * in-row HOFs are right; contrast the co-occurrence-graph negative
    * result where the row carried data-sized arrays). The final
    * rollup is a type²-sized grid.
    *
    * Output: one row per observed (a, b) — `type_a`, `type_b`,
    * `n_sessions`, `support` (share of all sessions, 6 dp). */
  def seqPairs(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val gapUs = gapSec * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val marked = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("_new",
        when(lag(col("ts_us"), 1).over(wOrd).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(wOrd) > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val env = marked.groupBy(col("user_id"), col("session_idx"), col("event_type"))
      .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
    // the checkpoint serves the pair explode; its job observes the
    // session count
    val (perSession, st) = GraftPins.ck(env.groupBy(col("user_id"), col("session_idx"))
      .agg(collect_list(struct(col("event_type"), col("t0"), col("t1"))).as("envs")))(
      count(lit(1)).as("n"))
    val nSessions = st.getLong(0)
    val pairs = perSession.select(explode(expr("""
        flatten(transform(envs, a ->
          filter(transform(envs, b -> named_struct(
                   'type_a', a.event_type, 'type_b', b.event_type,
                   'ok', a.event_type != b.event_type AND a.t0 < b.t1)),
                 p -> p.ok)))
      """)).as("p"))
    pairs.groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
      .withColumn("support",
        round(col("n_sessions").cast("double") / nSessions, 6))
  }

  /** Top direct-follows trigrams — the process-mining "a → b → c"
    * pattern table between [[transitionsMatrix]]'s bigrams and
    * [[topPaths]]' whole-journey strings: how often does each exact
    * 3-step sequence of CONSECUTIVE events occur, and in what share of
    * sessions. Session bounds cut the chain (no trigram spans a gap).
    *
    * Scale shape: the session marking, both leads, the trigram key and
    * the count's map-side partial all ride ONE user_id exchange (the
    * [[seqPairs]] / [[transitionsMatrix]] discipline — the lead windows
    * re-use the session window's (user, ts, id) sort); the global top-k
    * is a TakeOrderedAndProject over the bounded type³ grid, never a
    * full sort. Ties break on the trigram text for a deterministic k.
    *
    * Output: top `k` rows — `t1`, `t2`, `t3`, `n` (occurrences),
    * `n_sessions` (distinct sessions containing it), `support`
    * (n_sessions / total sessions, 6 dp). */
  def seqTriples(events: DataFrame, gapSec: Long = 1800L, k: Int = 20): DataFrame = {
    val gapUs = gapSec * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val marks = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("_new",
        when(lag(col("ts_us"), 1).over(wOrd).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(wOrd) > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // the session count is observed by the trigram pass's checkpoint:
    // a user's first row always opens a session (its lag is NULL) and
    // session_idx counts _new = 1 rows, so Σ_new is exactly the number
    // of distinct (user_id, session_idx) pairs (spec-pinned; a DISTINCT
    // aggregate is not observable)
    val (marked, st) = GraftPins.ck(marks)(coalesce(sum(col("_new")), lit(0L)).as("n"))
    val nSessions = st.getLong(0)
    val wSess = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("ts"), col("event_id"))
    val tri = marked
      .withColumn("t2c", lead(col("event_type"), 1).over(wSess))
      .withColumn("t3c", lead(col("event_type"), 2).over(wSess))
      .filter(col("t3c").isNotNull)
    tri.groupBy(col("event_type").as("t1"), col("t2c").as("t2"), col("t3c").as("t3"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id"), col("session_idx")).as("n_sessions"))
      .withColumn("support",
        round(col("n_sessions").cast("double") / nSessions, 6))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }

  /** One-sided CUSUM mean-shift monitor on the daily count series
    * (Page 1954): S_t = max(0, S_{t−1} + (x_t − μ₀ − k)) with reference
    * μ₀ = the series mean and allowance k = μ₀/20. The recursion is
    * deliberately NOT computed as a recursion — the classical identity
    * S_t = P_t − min(0, min_{j≤t} P_j) over the prefix sums P of
    * (x − μ₀ − k) — the min INCLUDES P_t, which is exactly the empty
    * suffix that clamps S at 0 — turns it into two running aggregates,
    * which is what
    * makes CUSUM a WINDOW computation any engine can replay (and the
    * same identity a streaming twin would keep as 2 longs of state).
    *
    * Exactness: everything is scaled by 20N so μ₀ and k never become
    * floats — y_t = 20N·x_t − 21S is an exact long, P/min/S̃ stay exact,
    * and the one divide back to original units happens at output
    * (6 dp). The alarm is an exact integer compare: S_t > 4μ₀ ⇔
    * S̃_t > 80·S₀ (threshold choice documented, not hidden).
    *
    * Scale shape: one map-side-combined collapse to the checkpointed
    * day grid; the windows are grid-sized (bounded by the day domain —
    * the [[changepointDaily]] justification), never data-sized. Output
    * per day: `day`, `n`, `cusum` (original units, 6 dp), `alarm`. */
  def cusumDaily(events: DataFrame): DataFrame = {
    val (grid, tot) = GraftPins.ck(events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("c")))(
      count(lit(1)).cast("long").as("n0"), sum(col("c")).cast("long").as("s0"))
    val (n0, s0) = (tot.getLong(0), tot.getLong(1))
    val w = Window.orderBy(col("day"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scaled = grid
      .withColumn("y", lit(20L) * lit(n0) * col("c") - lit(21L) * lit(s0))
      .withColumn("p", sum(col("y")).over(wRun))
      .withColumn("rm", min(col("p")).over(wRun))
      .withColumn("cus", col("p") - least(lit(0L), col("rm")))
    scaled.select(col("day"), col("c").as("n"),
      round(col("cus").cast("double") / (lit(20L) * lit(n0)).cast("double"), 6).as("cusum"),
      (col("cus") > lit(80L) * lit(s0)).as("alarm"))
  }

  /** Segmented (piecewise-linear) daily trend: the [[binsegDaily]]
    * gain-argmax picks the ONE best changepoint of the daily count
    * series, then each side gets an exact closed-form OLS line — the
    * "did the trend change, and from what slope to what slope" readout
    * that a single changepoint's before/after MEANS can't give.
    *
    * Exactness: both OLS coefficients are single divides of exact
    * DECIMAL moment combinations over the grid positions — slope =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept = (Σy·Σx² − Σx·Σxy)
    * / (n·Σx² − (Σx)²) — pre-cast operands, no intermediate double
    * anywhere (the Ols.moments discipline); a 1-day segment reports
    * NULL coefficients, never 0/0.
    *
    * Scale shape: the log collapses once to the checkpointed day grid;
    * the argmax is one grid-sized job collecting one row; the moment
    * pass is one 2-group aggregation over the grid. Output: one row per
    * segment — `seg`, `split_day` (the pick, same on both rows),
    * `n_days`, `slope`, `intercept` (both 6 dp, x = day position). */
  def segmentedTrend(events: DataFrame): DataFrame = {
    val w = Window.orderBy(col("day"))
    // argmax job + moment pass both read the checkpoint; its job
    // observes the totals
    val (grid, tot) = GraftPins.ck(events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("pc", sum(col("c"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")))(
      count(lit(1)).cast("long").as("nd"), sum(col("c")).cast("long").as("st"))
    val (nd, st) = (tot.getLong(0), tot.getLong(1))
    // With <2 distinct days the candidate set `rn < nd` is empty (and
    // with 0 the whole grid is): headOption instead of (0), falling back
    // to "no split" — everything in segment 1, split_day = the only day
    // (or NULL on an empty input). The 1-day segment then reports NULL
    // coefficients through the n·Σx²−(Σx)² ≠ 0 guard below, never 0/0.
    val best = grid.filter(col("rn") < nd)
      .withColumn("gain",
        col("pc").cast("double") * col("pc").cast("double") / col("rn").cast("double")
          + (lit(st) - col("pc")).cast("double") * (lit(st) - col("pc")).cast("double")
          / (lit(nd) - col("rn")).cast("double")
          - lit(st).cast("double") * lit(st).cast("double") / lit(nd).cast("double"))
      .orderBy(col("gain").desc, col("day"))
      .select(col("rn"), col("day")).limit(1).collect().headOption
    val (rn1, splitDay) = best match {
      case Some(r) => (r.getLong(0), r.getDate(1))
      case None => (nd, grid.orderBy(col("day")).select(col("day"))
        .limit(1).collect().headOption.map(_.getDate(0)).orNull)
    }
    val dec = "decimal(19,0)"
    grid.withColumn("seg", when(col("rn") <= rn1, 1).otherwise(2))
      .groupBy(col("seg"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("rn").cast(dec)).cast("decimal(38,0)").as("sx"),
        sum(col("c").cast(dec)).cast("decimal(38,0)").as("sy"),
        sum(col("rn").cast(dec) * col("c").cast(dec)).cast("decimal(38,0)").as("sxy"),
        sum(col("rn").cast(dec) * col("rn").cast(dec)).cast("decimal(38,0)").as("sxx"))
      .select(col("seg"), lit(splitDay).cast("date").as("split_day"),
        col("n").cast("long").as("n_days"),
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
          .as("slope"),
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
          round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
          .as("intercept"))
  }

  /** Linear multi-touch attribution depth — for every purchase, how
    * many views inside the preceding `horizonSec` share its credit
    * (the equal-split multi-touch model, reported as the touch-depth
    * histogram with the credited value mass): depth-0 rows are the
    * un-attributable purchases every attribution model must disclose.
    *
    * Scale shape: the touch count is a RANGE-frame window
    * (`rangeBetween(−horizon, −1)` over ts within user) on the same
    * single user_id exchange as [[lastTouchAttribution]] — the log is
    * never self-joined, and the range frame's strict-past bound makes
    * same-microsecond views non-contributing (the last-touch edge
    * rule). Value rides DECIMAL(18,4) to the grid.
    *
    * Output: one row per depth — `n_touches`, `n_purchases`,
    * `total_value` (2 dp). */
  def multiTouch(events: DataFrame, horizonSec: Long = 3600L): DataFrame = {
    val horizonUs = horizonSec * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-horizonUs, -1)
    val base = events.select(col("user_id"), col("event_type"),
      col("value"), unix_micros(col("ts")).as("ts_us"))
    base
      .withColumn("k",
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(w))
      .where(col("event_type") === "purchase")
      .groupBy(coalesce(col("k"), lit(0L)).as("n_touches"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 2)
          .as("total_value"))
  }

  /** New-vs-returning daily split — the acquisition/retention
    * decomposition of daily active users: a user is NEW on the day of
    * their first-ever event, RETURNING on every later active day.
    *
    * Scale shape: ONE user_id exchange collapses the log to per-user
    * active-day sets (bounded by the day DOMAIN, not the event
    * count — map-side-combined collect_set); the first day is the
    * in-row array_min, and the only other exchange is the day-grid
    * rollup. Never a self-join of the log against a first-seen table,
    * and never a separate distinct + window pair of shuffles.
    *
    * Output: one row per day — `day`, `n_active`, `n_new`,
    * `n_returning`, `new_share` (6 dp). */
  def newVsReturning(events: DataFrame): DataFrame = {
    val perUser = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id")).agg(collect_set(col("day")).as("days"))
    val marked = perUser.select(array_min(col("days")).as("first_day"),
      explode(col("days")).as("day"))
    marked.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        round(col("n_new").cast("double") / col("n_active"), 6).as("new_share"))
  }

  /** Top day-over-day movers — the "what changed since yesterday"
    * triage readout: per (type, day) daily counts, the k largest
    * absolute deltas vs the type's PREVIOUS OBSERVED day (compose with
    * [[graft.ops.Relational.calendarFillDaily]]'s spine first when a
    * silent empty day must read as a move to zero).
    *
    * Scale shape: one pass to the (type, day) grid; the lag window and
    * the top-k (TakeOrderedAndProject, total order (|Δ| desc, day,
    * type)) run on the grid only.
    *
    * Output: top-`k` rows — `day`, `event_type`, `prev_n`, `n`,
    * `delta`. */
  def topMovers(events: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, s"topMovers: k must be >= 1, got $k")
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.withColumn("prev_n", lag(col("n"), 1).over(w))
      .where(col("prev_n").isNotNull)
      .withColumn("delta", col("n") - col("prev_n"))
      .orderBy(abs(col("delta")).desc, col("day"), col("event_type"))
      .limit(k)
      .select(col("day"), col("event_type"), col("prev_n"), col("n"), col("delta"))
  }

  /** Trailing-window exact p90 of the per-type daily series — the SLO
    * dashboard's rolling quantile (alerts keyed to "p90 of the last
    * week" self-heal after an incident day in a way rolling MEANS
    * never do): per (type, day), the value at rank ⌈0.9·w⌉ of the
    * trailing `window` observed days' counts (positions in the
    * observed series — compose with
    * [[graft.ops.Relational.calendarFillDaily]] first when missing
    * days must count as zero).
    *
    * Exactness at a bounded frame: the window's values ride a
    * collect_list capped at `window` elements, sorted IN-ROW — the
    * frame is a constant, so the per-row work is O(w log w) on ≤w
    * longs, never a data-sized sort; the day grid itself is the only
    * exchange. The rank definition (⌈0.9·n⌉ over n ≤ w present
    * values) is the [[graft.ops.Relational.interOrderGapProfile]] p90
    * contract, so the oracle replays it literally.
    *
    * Output: one row per (type, day) — `n_window`, `p90`. */
  def rollingP90Daily(events: DataFrame, window: Int = 7): DataFrame = {
    require(window >= 1 && window <= 60,
      s"rollingP90Daily: window must be in [1, 60], got $window")
    val daily = events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-(window - 1), Window.currentRow)
    daily.withColumn("arr", sort_array(collect_list(col("c")).over(w)))
      .select(col("event_type"), col("day"),
        size(col("arr")).cast("long").as("n_window"),
        expr("element_at(arr, cast(ceil(0.9 * size(arr)) as int))").as("p90"))
  }

  /** Week-over-week growth per type — the period-comparison BI staple,
    * CALENDAR-correct: each day compares to the date exactly 7 days
    * earlier (a positional lag(7) silently compares to "7 observed
    * rows ago", which is wrong the moment a day is missing). Days
    * whose comparison date has no row report NULL growth — absence is
    * disclosed, not skipped.
    *
    * Scale shape: one pass to the (type, day) grid, then a grid⋈grid
    * self-join on (type, day−7) — both sides bounded by the day
    * domain, broadcast by AQE; the log is never self-joined.
    *
    * Output: one row per (type, day) — `n`, `prev_week_n`,
    * `growth_pct` (6 dp, NULL when no comparison row). */
  def wowGrowth(events: DataFrame): DataFrame = {
    // grid-sized; serves both join sides
    val daily = GraftPins.cut(events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))
    val prev = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("n").as("prev_week_n"))
    daily.join(prev, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("n"), col("prev_week_n"),
        round((col("n") - col("prev_week_n")).cast("double") * 100 /
          col("prev_week_n"), 6).as("growth_pct"))
  }

  /** Behavior-set segmentation — users grouped by the exact SET of
    * event types they ever perform (the 2^|types| "behavioral
    * fingerprint" partition marketing calls segments-by-usage: pure
    * browsers, converters-who-never-error, …), with user counts per
    * set.
    *
    * Scale shape: ONE user_id exchange builds the per-user type set
    * (collect_set is map-side-combined and bounded by the type
    * DOMAIN); the canonical label is an in-row sort+join, and the
    * rollup grid is ≤ 2^|types| rows.
    *
    * Output: one row per observed set — `behavior` ("a+b+c",
    * lexicographic), `n_types`, `n_users`. */
  def behaviorProfiles(events: DataFrame): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
    perUser.groupBy(array_join(col("ts"), "+").as("behavior"),
        size(col("ts")).as("n_types"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Watermark-sizing profile — the out-of-orderness audit run BEFORE
    * choosing a Structured Streaming watermark: per event, lateness =
    * high-water mark of event time at its ARRIVAL position (event_id,
    * the log's append sequence) minus its own event time; the profile
    * reports how big a watermark keeps p99 / p99.9 of events. A
    * watermark below the p999 row silently drops real data; one far
    * above it holds state for nothing.
    *
    * Scale shape: the high-water mark is
    * [[graft.ops.Relational.prefixMax]] — the distributed two-phase
    * running max, never a single-partition ordered window over the
    * log; lateness collapses to a SECONDS grid (bounded domain) and
    * the rank statistics read running counts
    * ([[graft.ops.Relational.interOrderGapProfile]]'s count-of-counts
    * machinery).
    *
    * Output: one row — `n_events`, `n_late` (lateness > 0),
    * `max_late_s`, `p99_late_s`, `p999_late_s`. */
  def watermarkProfile(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val run = Relational.prefixMax(base, Seq(col("event_id")), "ts_us", "hwm")
    val grid = run
      .select(expr("(hwm - ts_us) div 1000000").as("late_s"))
      .groupBy(col("late_s")).agg(count(lit(1)).as("cnt"))
    val wg = Window.orderBy(col("late_s")) // grid-sized: bounded by the lateness domain
    // its job observes the total the rank stats read
    val (rc, tot) = GraftPins.ck(grid.withColumn("rc", sum(col("cnt")).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow))))(
      max(col("rc")).as("n"))
    GraftPins.withScalars(rc, tot)
      .agg(max(col("n")).as("n_events"),
        sum(when(col("late_s") > 0, col("cnt")).otherwise(0L)).as("n_late"),
        max(col("late_s")).as("max_late_s"),
        min(when(col("rc") * 100 >= col("n") * 99, col("late_s"))).as("p99_late_s"),
        min(when(col("rc") * 1000 >= col("n") * 999, col("late_s"))).as("p999_late_s"))
  }

  /** Time-bounded conversion funnel — [[funnel]]'s strict-order
    * min-time chain with the extra constraint that EVERY later step
    * must land within `windowUs` microseconds of the user's step-1
    * time (the ClickHouse `windowFunnel` readout): t₁ = first step-1
    * event; tᵢ = first step-i event with ts > tᵢ₋₁ AND
    * ts ≤ t₁ + windowUs. Reported as the histogram of per-user MAX
    * levels (a level-L user completed steps 1..L inside the window
    * and is counted ONCE, at L — unlike [[funnel]]'s cumulative
    * step counts), so the rows sum to the step-1 user count.
    *
    * Scale shape: identical to [[funnel]] — the whole chain rides ONE
    * `user_id` hash exchange (the tᵢ windows and the per-user
    * collapse share it); the level histogram is a ≤|steps|-row grid.
    * Time stays exact microsecond longs end-to-end.
    *
    * Output: one row per reached level — `level`, `n_users`. */
  def windowFunnel(events: DataFrame, steps: Seq[String], windowUs: Long): DataFrame = {
    require(steps.size >= 2, "windowFunnel: need at least 2 steps")
    require(steps.distinct.size == steps.size, "windowFunnel: steps must be distinct")
    require(windowUs > 0, s"windowFunnel: windowUs must be > 0, got $windowUs")
    val w = Window.partitionBy(col("user_id"))
    val base = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val staged = steps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col("event_type") === step
        else col("event_type") === step && col(s"_t${i - 1}").isNotNull &&
          col("ts_us") > col(s"_t${i - 1}") &&
          col("ts_us") <= col("_t0") + lit(windowUs)
      df.withColumn(s"_t$i", min(when(cond, col("ts_us"))).over(w))
    }
    val aggs = steps.indices.map(i => max(col(s"_t$i")).as(s"_t$i"))
    val perUser = staged.groupBy(col("user_id")).agg(aggs.head, aggs.tail: _*)
    val level = coalesce(
      steps.indices.reverse.map(i =>
        when(col(s"_t$i").isNotNull, lit(i + 1))): _*)
    perUser.select(level.as("level"))
      .where(col("level").isNotNull)
      .groupBy(col("level")).agg(count(lit(1)).as("n_users"))
  }

  /** Exponentially time-decayed per-type activity counters — the
    * "trending now" readout (the decayed-counter shape streaming stores
    * keep incrementally; this is the exact batch form): each event
    * contributes weight 2^(−step) where step = floor(age_days /
    * `halfLifeDays`) against the corpus's own max date, so activity
    * halves per half-life, stepped at whole half-lives. Events older
    * than `horizon` steps are dropped — their weight is below 2^(−60),
    * beneath double resolution against any live mass (the deterministic
    * truncation that keeps the arithmetic exact).
    *
    * Exactness: weights are the INTEGER 2^(horizon − step) (a long —
    * `horizon` ≤ 60), count/value masses are exact DECIMAL(38,0)
    * weighted sums (values in integer cents), and the single
    * normalizing divide by the exact double 2^horizon happens once at
    * the end — both engines see identical integers, then one
    * correctly-rounded IEEE division (the [[graft.ops.Skew.skewReport]]
    * discipline). No libm exp/log anywhere.
    *
    * Plan: a 1-row max-date scalar broadcast onto the log (the house
    * 1-row-sidecar crossJoin), then ONE data-sized map-side-combined
    * aggregation to the (type, step) grid — ≤ |types|·horizon rows —
    * on which the weighting and final per-type rollup are free.
    *
    * Output: `event_type`, `n_events` (raw in-horizon count),
    * `decayed_count`, `decayed_value` (both 6 dp). */
  def decayedCounts(events: DataFrame, horizon: Int = 40, halfLifeDays: Int = 1,
                    scale: Int = 2): DataFrame = {
    require(horizon >= 1 && horizon <= 60, s"decayedCounts: horizon must be in [1, 60], got $horizon")
    require(halfLifeDays >= 1, s"decayedCounts: halfLifeDays must be >= 1, got $halfLifeDays")
    val dec = "decimal(38,0)"
    val ref = events.agg(max(to_date(col("ts"))).as("ref"))
    val perStep = events.select(col("event_type"), col("ts"), col("value"))
      .crossJoin(broadcast(ref))
      .withColumn("step",
        floor(datediff(col("ref"), to_date(col("ts"))) / lit(halfLifeDays)).cast("int"))
      .filter(col("step").between(0, horizon))
      .withColumn("cents", round(col("value") * pow(lit(10), lit(scale))).cast("long"))
      .groupBy(col("event_type"), col("step"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    val wgt = expr(s"shiftleft(1L, $horizon - step)") // exact 2^(h−step) ≤ 2^60
    val denom = math.pow(2.0, horizon) // exact double
    perStep.groupBy(col("event_type"))
      .agg(sum(col("n")).cast("bigint").as("n_events"),
        sum(col("n").cast(dec) * wgt.cast(dec)).cast(dec).as("wn"),
        sum(col("cents").cast(dec) * wgt.cast(dec)).cast(dec).as("wv"))
      .select(col("event_type"), col("n_events"),
        round(col("wn").cast("double") / lit(denom), 6).as("decayed_count"),
        round(col("wv").cast("double") / lit(denom) / lit(math.pow(10.0, scale)), 6).as("decayed_value"))
  }

  /** Session entry/exit/bounce report — which event types OPEN
    * sessions, which CLOSE them, and which bounce (single-event
    * sessions): the landing/exit-page readout a funnel review starts
    * from, keyed by event type.
    *
    * Scale shape: the [[sessionize]] marking windows ride the log's
    * ONE `user_id` exchange; the per-session collapse reuses that
    * partitioning (grouping on a superset of the window key — no
    * second log-sized exchange), with entry/exit read as struct-argmin
    * /argmax over (ts_us, event_id, type) — `event_id` breaks
    * timestamp ties, so both ends are total-order deterministic. The
    * session table (output-sized, not log-sized) then stacks one
    * entry-role and one exit-role row per session and rolls up on the
    * tiny event-type key, map-side combined. Bounces count once, on
    * the entry side.
    *
    * Output: one row per event type — `event_type`, `n_entries`,
    * `n_exits`, `n_bounces` (all exact BIGINT counts). */
  def entryExit(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    require(gapSec >= 1, s"entryExit: gapSec must be >= 1, got $gapSec")
    val gapUs = gapSec * 1000000L
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val marked = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("ts"))
      .withColumn("_new",
        when(lag(col("ts_us"), 1).over(wOrd).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(wOrd) > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sess = marked.groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("ts_us"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"),
        count(lit(1)).as("n_events"))
    // explode to (entry-role, exit-role) rows INSIDE the one pipeline —
    // a self-union here would recompute the whole session build (scan +
    // user exchange + windows) once per branch
    sess.select(explode(array(
        struct(col("entry_type").as("event_type"),
          lit(1L).as("_e"), lit(0L).as("_x"),
          when(col("n_events") === 1, lit(1L)).otherwise(lit(0L)).as("_b")),
        struct(col("exit_type").as("event_type"),
          lit(0L).as("_e"), lit(1L).as("_x"), lit(0L).as("_b")))).as("_r"))
      .select(col("_r.event_type"), col("_r._e"), col("_r._x"), col("_r._b"))
      .groupBy(col("event_type"))
      .agg(sum(col("_e")).as("n_entries"), sum(col("_x")).as("n_exits"),
        sum(col("_b")).as("n_bounces"))
  }

  /** Markov-chain (removal-effect) attribution — the data-driven model
    * that replaces last/multi-touch heuristics (Anderl et al. 2014):
    * user journeys become a first-order chain START → channels →
    * CONV/NULL; a channel's credit is how much conversion probability
    * DISAPPEARS when every transition into it is redirected to NULL
    * (removal effect), normalized to shares.
    *
    * Journey definition (pinned exactly): per user, events ordered by
    * (ts, event_id), truncated at the FIRST `convType` event (mapped
    * to CONV); a non-converting user's last state closes to NULL.
    * Consecutive repeats are kept (they are real self-transitions).
    *
    * Absorption is L-step by definition (not an approximation knob
    * left implicit): CONV and NULL carry self-loops of 1 and the START
    * mass vector is propagated `steps` times, so P(conv) = the
    * probability of converting within L touches — the quantity a
    * finite-horizon marketing review actually wants, and a definition
    * both engines replay exactly.
    *
    * Determinism: transition counts are exact integers off ONE user
    * exchange (windows + rollups all key on user_id); probabilities
    * round to 12 dp DECIMAL(18,12) once, and every propagation step is
    * exact decimal multiply + exact decimal sum re-rounded to 12 dp —
    * fixed-point chain arithmetic with NO order-dependent double fold
    * anywhere; removal effects divide exact decimals as one final
    * correctly-rounded double.
    *
    * Scale shape: the event log rides its one user_id exchange into
    * journey transitions; everything after is |states|²·(|channels|+1)
    * rows (the variant-keyed matrix), iterated L times with broadcast
    * joins — the chain algebra costs nothing at any corpus size.
    *
    * Output: one row per channel — `channel`, `p_conv` (base, 6 dp),
    * `p_conv_removed` (6 dp), `removal_effect` (6 dp, NULL if the base
    * never converts), `share` (6 dp). */
  def markovAttribution(events: DataFrame, convType: String = "purchase",
                        steps: Int = 8): DataFrame = {
    require(steps >= 1 && steps <= 16, s"markovAttribution: steps must be in [1, 16], got $steps")
    val dec = "decimal(18,12)"
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("_rn", row_number().over(wOrd).cast("long"))
    val firstConv = base.filter(col("event_type") === convType)
      .groupBy(col("user_id")).agg(min(col("_rn")).as("_crn"))
    // lag pass + terminal pass share it
    val journey = GraftPins.cut(base.join(firstConv, Seq("user_id"), "left")
      .filter(col("_crn").isNull || col("_rn") <= col("_crn"))
      .select(col("user_id"), col("_rn"), col("_crn"),
        when(col("event_type") === convType, lit("_CONV"))
          .otherwise(col("event_type")).as("_state")))
    val steps_ = journey
      .select(col("user_id"),
        coalesce(lag(col("_state"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("_rn"))), lit("_START")).as("i"),
        col("_state").as("j"))
    val terminals = journey.filter(col("_crn").isNull)
      .groupBy(col("user_id"))
      .agg(max(struct(col("_rn"), col("_state"))).getField("_state").as("i"))
      .select(col("user_id"), col("i"), lit("_NULL").as("j"))
    // matrix base: read per variant + for channels
    val counts = GraftPins.cut(steps_.select(col("i"), col("j"))
      .unionAll(terminals.select(col("i"), col("j")))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c")))
    val channels = counts.select(col("i").as("s"))
      .unionAll(counts.select(col("j").as("s"))).distinct()
      .filter(!col("s").isin("_START", "_CONV", "_NULL"))
    val probs = counts
      .join(counts.groupBy(col("i")).agg(sum(col("c")).as("tot")), "i")
      .select(col("i"), col("j"),
        round(col("c").cast("double") / col("tot"), 12).cast(dec).as("p"))
    // variant-keyed matrix: base "" + one removal variant per channel
    // (transitions INTO the removed channel redirect to NULL; its own
    // outgoing row is unreachable and dropped); CONV/NULL self-absorb
    val variantIds = channels.select(col("s").as("_v"))
      .unionAll(probs.sparkSession.range(1).select(lit("").as("_v")))
    val variants = probs.crossJoin(variantIds)
      .filter(col("_v") === "" || col("i") =!= col("_v"))
      .select(col("_v"), col("i"),
        when(col("_v") =!= "" && col("j") === col("_v"), lit("_NULL"))
          .otherwise(col("j")).as("j"),
        col("p"))
      .groupBy(col("_v"), col("i"), col("j"))
      .agg(sum(col("p")).cast(dec).as("p"))
    val loops = variantIds
      .select(col("_v"), explode(array(lit("_CONV"), lit("_NULL"))).as("i"))
      .select(col("_v"), col("i"), col("i").as("j"), lit(1.0).cast(dec).as("p"))
    val (matrix, mSt) = GraftPins.ck(variants.unionAll(loops))(count(lit(1)).as("n"))
    // The stepped mass propagation: state is (variant, state, mass) —
    // at most |variants|·|states| rows, kilobytes for any realistic
    // channel vocabulary — yet the distributed loop is `steps` chained
    // join+aggregate rounds whose stage-jobs dominate the row (the
    // textrank/ktruss scheduling lesson). Size-gated driver iteration
    // (DriverGate.MarkovRows, on the row count the checkpoint observed):
    // collect the checkpointed matrix once and run the IDENTICAL
    // decimal arithmetic in BigDecimal — products of two scale-12
    // decimals are exact at scale 24 (Spark:
    // decimal(37,24), no rounding), sums are exact, then one HALF_UP
    // round to scale 12 per (variant, state), matching
    // round(sum(m·p), 12)::decimal(18,12) bit-for-bit (spec-pinned
    // driver == distributed on real data).
    val spark = events.sparkSession
    val driverRows =
      if (DriverGate.admits(spark, "markov", DriverGate.MarkovRows, mSt.getLong(0)))
        Some(matrix.collect())
      else None
    val pConv0 = driverRows.map { mRows =>
      val byVi = mRows.groupBy(r => (r.getString(0), r.getString(1)))
        .map { case (k, rs) =>
          k -> rs.map(r => (r.getString(2), r.getDecimal(3))).toSeq
        }
      var vm: Map[(String, String), java.math.BigDecimal] =
        variantIds.collect().map(r => (r.getString(0), "_START") ->
          new java.math.BigDecimal("1.000000000000")).toMap
      for (_ <- 1 to steps) {
        val acc = scala.collection.mutable.Map.empty[(String, String), java.math.BigDecimal]
        for (((vv, st), m) <- vm; (j, p) <- byVi.getOrElse((vv, st), Seq.empty)) {
          val k = (vv, j)
          acc(k) = acc.getOrElse(k, java.math.BigDecimal.ZERO).add(m.multiply(p))
        }
        vm = acc.map { case (k, s) =>
          k -> s.setScale(12, java.math.RoundingMode.HALF_UP)
        }.toMap
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vv",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pc",
          org.apache.spark.sql.types.DataTypes.createDecimalType(18, 12))))
      val rows = vm.toSeq.collect { case ((vv, "_CONV"), m) =>
        org.apache.spark.sql.Row(vv, m)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }.getOrElse {
      // the mass vector carries its variant key under a DIFFERENT name
      // (vv) so the L join-iterations against `matrix` never self-join
      // on a shared attribute id
      var v = variantIds
        .select(col("_v").as("vv"), lit("_START").as("state"), lit(1.0).cast(dec).as("m"))
      for (_ <- 1 to steps)
        v = v.join(matrix, col("vv") === col("_v") && col("state") === col("i"))
          .groupBy(col("vv"), col("j"))
          .agg(round(sum(col("m") * col("p")), 12).cast(dec).as("m"))
          .select(col("vv"), col("j").as("state"), col("m"))
      v.filter(col("state") === "_CONV")
        .select(col("vv"), col("m").as("pc"))
    }
    // per-channel rows read the checkpoint; its job observes the base row
    val (pConv, baseP) = GraftPins.ck(pConv0)(
      coalesce(max(when(col("vv") === "", col("pc"))), lit(0).cast(dec)).as("p0"))
    // a variant whose mass NEVER reaches CONV has no pConv row at all
    // (its removal killed every converting path) — that is pc = 0, not
    // a dropped channel, so the channel list left-joins the masses
    val chanRows = channels.select(col("s").as("channel"))
      .join(pConv.withColumnRenamed("vv", "channel"), Seq("channel"), "left")
      .select(col("channel"), coalesce(col("pc"), lit(0).cast(dec)).as("pc"))
    val (effects, tot) = GraftPins.ck(GraftPins.withScalars(chanRows, baseP)
      .select(col("channel"),
        round(col("p0").cast("double"), 6).as("p_conv"),
        round(col("pc").cast("double"), 6).as("p_conv_removed"),
        when(col("p0") > 0,
          round((col("p0") - col("pc")).cast("double") / col("p0").cast("double"), 6))
          .as("removal_effect"),
        // exact decimal numerators so the share denominator is an
        // exact decimal sum, never an order-dependent double fold
        (col("p0") - col("pc")).as("_re")))(sum(col("_re")).as("_tre"))
    GraftPins.withScalars(effects, tot)
      .select(col("channel"), col("p_conv"), col("p_conv_removed"),
        col("removal_effect"),
        when(col("_tre") > 0,
          round(col("_re").cast("double") / col("_tre").cast("double"), 6)).as("share"))
  }

  /** Greedy binary segmentation of the daily event-count series into
    * `k` changepoints (Scott & Knott 1974 / the CUSUM-family multi-split
    * extension of [[changepointDaily]]'s single AMOC split): each round
    * scores every in-segment candidate split by its SSE reduction
    * gain(r) = S_L²/n_L + S_R²/n_R − S²/n (the variance term Σx² cancels,
    * so only prefix sums are needed), takes the global argmax (ties →
    * earliest day), and the chosen split becomes a segment boundary for
    * the next round.
    *
    * Scale shape: the event log collapses to the day grid in ONE
    * map-side-combined exchange; the grid (with row numbers and prefix
    * sums from a days-bounded single-partition window — the
    * [[changepointDaily]] justification) is checkpointed once and every
    * round reads it. Per round the driver holds only the boundary list
    * (≤ k+2 longs) and collects exactly one argmax row; segment bounds
    * attach by broadcast. k rounds = k grid-sized jobs, log-data touched
    * once.
    *
    * Determinism: prefix sums are exact longs; each gain is a fixed
    * three-term double expression over exact longs (squares are exact
    * below 2^26.5 total events — far past any daily grid this serves),
    * mirrored term-for-term by the oracle's unrolled rounds; argmax
    * tie-breaks on the day. Output: `split_rank` (pick order 1..k),
    * `split_day`, `gain` (6 dp). */
  def binsegDaily(events: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1 && k <= 8, s"binsegDaily: k must be in [1, 8], got $k")
    val spark = events.sparkSession
    val w = Window.orderBy(col("day"))
    val (grid, st) = GraftPins.ck(events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("pc", sum(col("c"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")))(count(lit(1)).as("n"))
    val nDays = st.getLong(0)
    // pc at a boundary rn (boundary 0 = before the series, pc 0)
    def pcAt(bounds: Seq[Long]): Map[Long, Long] = {
      val m = grid.filter(col("rn").isin(bounds.filter(_ > 0): _*))
        .select(col("rn"), col("pc")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      m + (0L -> 0L)
    }
    var bounds = List(0L, nDays)
    val picks = scala.collection.mutable.ListBuffer.empty[(Int, java.sql.Date, Double)]
    var round = 1
    while (round <= k) {
      val pcs = pcAt(bounds)
      val segs = bounds.sorted.sliding(2).collect {
        case List(a, b) if b - a >= 2 => (a, b, pcs(a), pcs(b))
      }.toSeq
      if (segs.nonEmpty) {
        import spark.implicits._
        val segDf = broadcast(segs.toDF("lo", "hi", "plo", "phi"))
        val best = grid.join(segDf,
            col("rn") > col("lo") && col("rn") < col("hi"))
          .withColumn("gain",
            (col("pc") - col("plo")).cast("double") * (col("pc") - col("plo")).cast("double")
              / (col("rn") - col("lo")).cast("double")
              + (col("phi") - col("pc")).cast("double") * (col("phi") - col("pc")).cast("double")
              / (col("hi") - col("rn")).cast("double")
              - (col("phi") - col("plo")).cast("double") * (col("phi") - col("plo")).cast("double")
              / (col("hi") - col("lo")).cast("double"))
          .orderBy(col("gain").desc, col("day"))
          .select(col("rn"), col("day"), col("gain"))
          .limit(1).collect()(0)
        picks += ((round, best.getDate(1),
          java.math.BigDecimal.valueOf(best.getDouble(2))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
        bounds = best.getLong(0) :: bounds
      }
      round += 1
    }
    import spark.implicits._
    picks.toSeq.toDF("split_rank", "split_day", "gain")
      .select(col("split_rank").cast("int").as("split_rank"),
        col("split_day"), col("gain"))
  }
  /** Sample-ratio-mismatch guard — the A/B health check every
    * experimentation platform runs BEFORE reading any metric (Fabijan
    * et al., "Diagnosing Sample Ratio Mismatch", KDD 2019): a 50/50
    * assignment whose realized arm counts differ beyond chance means
    * the assignment or logging is broken and every downstream readout
    * ([[cupedAb]], [[graft.ops.Relational.segmentCi]]) is invalid.
    * Chi-square GOF against the 50/50 design with df = 1 collapses to
    *   χ² = (n_a − n_b)² / n,
    * and the 95% flag is the χ²₁ critical value 3.841459.
    *
    * Determinism: the arms are [[cupedAb]]'s md5-parity assignment
    * (same hash, same parity — the two readouts audit the SAME
    * split); χ² is ONE IEEE divide of exact BIGINTs rounded 6 dp; the
    * `srm` FLAG is pure exact-integer arithmetic — (n_a−n_b)²·10⁶
    * compared against 3841459·n in DECIMAL(38,0), so the boundary
    * can never float-flake.
    *
    * Scale shape: one distinct-user rollup (the only exchange), then a
    * 1-row aggregate. Output: n_users, n_a, n_b, chi2, srm. */
  def srmCheck(events: DataFrame): DataFrame = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    events.select(col("user_id")).distinct()
      .select((conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 13),
        16, 10).cast("long") % 2 === 0).as("arm_a"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(when(col("arm_a"), 1L).otherwise(0L)).cast("long").as("n_a"))
      .select(col("n_users"), col("n_a"), (col("n_users") - col("n_a")).as("n_b"))
      .select(col("n_users"), col("n_a"), col("n_b"),
        // the squared diff is widened BEFORE the product (the Ols
        // moments discipline) — a long·long square overflows past
        // ~3e9 users of pure imbalance
        round((d(col("n_a") - col("n_b")) * d(col("n_a") - col("n_b"))).cast("double")
          / col("n_users"), 6).as("chi2"),
        (d(col("n_a") - col("n_b")) * d(col("n_a") - col("n_b")) * d(lit(1000000L)) >
          d(lit(3841459L)) * d(col("n_users"))).as("srm"))
  }

  /** CUPED variance-reduced A/B readout — the experimentation-platform
    * staple (Deng, Xu, Kohavi & Walker, WSDM 2013): users hash into two
    * arms, the observation window splits at its time midpoint, each
    * user's PRE-period spend is the covariate x and POST-period spend
    * the metric y, and the adjusted metric y − θ·(x − x̄) with
    * θ = cov(x,y)/var(x) removes the variance that pre-existing user
    * behavior explains — `var_reduction` (= ρ²(x,y)) is the fraction of
    * metric variance CUPED deletes, and z_cuped vs z_unadj shows the
    * sensitivity gain on the same data.
    *
    * Determinism: arms are the md5-52-bit parity (no engine RNG); the
    * pre/post midpoint is integer micros (t0 + (t1−t0) DIV 2); per-user
    * x, y are exact cent sums; pooled moments are exact decimals with
    * overflow-to-NULL witnesses; θ, x̄, ρ² are mirrored double chains;
    * each adjusted value is ROUND(…, 6)-then-DECIMAL(28,6) before
    * summing (the Theil-term idiom), so per-arm sums are exact decimal
    * adds of identically-rounded terms; both z variance tails combine
    * the exact sums in ONE mirrored double expression (the Mann-Whitney
    * overflow-safe pattern).
    *
    * Scale shape: one user_id exchange collapses events to users (the
    * catalog's shared discipline), the 1-row min/max table broadcasts,
    * the user table's checkpoint job observes the pooled moments, and
    * the per-arm rollup is a 2-group map-side combine. No window, no
    * sort, nothing driver-side but 1-row scalars. */
  def cupedAb(events: DataFrame): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val mm = events.agg(min(unix_micros(col("ts"))).cast("long").as("t0"),
        max(unix_micros(col("ts"))).cast("long").as("t1"))
      .select(expr("t0 + (t1 - t0) DIV 2").as("mid"))
    def d19(c: Column) = c.cast("decimal(19,0)")
    // the per-arm adjusted pass reads the user table; its checkpoint job
    // observes the pooled moments
    val (users, moments) = GraftPins.ck(events.crossJoin(broadcast(mm))
      .select(col("user_id"), (unix_micros(col("ts")) < col("mid")).as("pre"),
        cents.as("c"))
      .groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("pre"), col("c")).otherwise(lit(0L))), lit(0L)).as("x"),
        coalesce(sum(when(!col("pre"), col("c")).otherwise(lit(0L))), lit(0L)).as("y"))
      .withColumn("arm_a",
        conv(substring(md5(col("user_id").cast("string").cast("binary")), 1, 13),
          16, 10).cast("long") % 2 === 0))(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(d19(col("x"))).cast("decimal(38,0)").as("sx"),
        sum(d19(col("y"))).cast("decimal(38,0)").as("sy"),
        sum(d19(col("x")) * d19(col("y"))).cast("decimal(38,0)").as("sxy"),
        sum(d19(col("x")) * d19(col("x"))).cast("decimal(38,0)").as("sxx"),
        sum(d19(col("y")) * d19(col("y"))).cast("decimal(38,0)").as("syy"))
    val pooled = GraftPins.withScalars(users, moments)
      .select(col("*"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("decimal(38,0)")
          .cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("decimal(38,0)")
            .cast("double")).as("theta"),
        (col("sx").cast("double") / col("n").cast("double")).as("xbar"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("decimal(38,0)")
            .cast("double") *
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("decimal(38,0)")
            .cast("double") /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast("decimal(38,0)")
            .cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("decimal(38,0)")
              .cast("double"))).as("rho2"))
    val ya = col("y").cast("double") -
      col("theta") * (col("x").cast("double") - col("xbar"))
    val byArm = pooled
      .select(col("arm_a"), col("y"), col("theta"), col("rho2"),
        round(ya, 6).cast("decimal(28,6)").as("term"),
        round(ya * ya, 6).cast("decimal(28,6)").as("term2"))
      .groupBy(col("arm_a"))
      .agg(count(lit(1)).cast("long").as("ng"),
        sum(d19(col("y"))).cast("decimal(38,0)").as("sg"),
        sum(d19(col("y")) * d19(col("y"))).cast("decimal(38,0)").as("qg"),
        sum(col("term")).cast("decimal(38,6)").as("sa"),
        sum(col("term2")).cast("decimal(38,6)").as("qa"),
        max(col("theta")).as("theta"), max(col("rho2")).as("rho2"))
    def pick(flag: Boolean, c: String) =
      max(when(col("arm_a") === flag, col(c)))
    val wide = byArm.agg(
      pick(true, "ng").as("na"), pick(true, "sg").as("sga"),
      pick(true, "qg").as("qga"), pick(true, "sa").as("saa"),
      pick(true, "qa").as("qaa"),
      pick(false, "ng").as("nb"), pick(false, "sg").as("sgb"),
      pick(false, "qg").as("qgb"), pick(false, "sa").as("sab"),
      pick(false, "qa").as("qab"),
      max(col("theta")).as("theta"), max(col("rho2")).as("rho2"))
    def meanOf(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    def varOf(n: String, q: String, s: String) =
      (col(n).cast("double") * col(q).cast("double") -
        col(s).cast("double") * col(s).cast("double")) /
        (col(n).cast("double") * (col(n) - 1).cast("double"))
    wide.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(col("theta"), 6).as("theta"),
      round((meanOf("sga", "na") - meanOf("sgb", "nb")) /
        sqrt(varOf("na", "qga", "sga") / col("na").cast("double") +
          varOf("nb", "qgb", "sgb") / col("nb").cast("double")), 6).as("z_unadj"),
      round((meanOf("saa", "na") - meanOf("sab", "nb")) /
        sqrt(varOf("na", "qaa", "saa") / col("na").cast("double") +
          varOf("nb", "qab", "sab") / col("nb").cast("double")), 6).as("z_cuped"),
      round(col("rho2"), 6).as("var_reduction"))
  }
}
