package graft.ops

import graft.SparkSpec
import java.sql.Timestamp

/** Semantics pins for the batch event-analytics trio. Hand-built event
  * logs with the edge cases that distinguish the operators from their
  * naive formulations: gap-boundary sessions, strict-order funnels
  * (same-timestamp and out-of-order steps must NOT convert), cohort
  * offsets across week boundaries.
  */
class EventAnalyticsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def events(rows: (Long, String, Long, String, Double)*) = {
    import spark.implicits._
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .selectExpr("event_id", "cast(ts_s as timestamp) as ts",
        "user_id", "event_type", "value", "'{}' as props")
  }

  test("sessionize: splits exactly at the gap boundary, numbering is 1-based per user") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:10:00", 1L, "click", 2.0),
      // 30:00 exactly after the previous event — NOT > gap, same session
      (3L, "2024-01-01 10:40:00", 1L, "view", 4.0),
      // 30:00.000001 after — splits
      (4L, "2024-01-01 11:10:00.000001", 1L, "purchase", 8.0),
      (5L, "2024-01-01 09:00:00", 2L, "view", 16.0))
    val out = EventAnalytics.sessionize(ev, gapSec = 1800L)
      .selectExpr("user_id", "session_idx", "n_events", "sum_value")
    // rowSet column order: n_events | session_idx | sum_value | user_id
    assert(rowSet(out) == Set("3|1|7.0|1", "1|2|8.0|1", "1|1|16.0|2"))
  }

  test("entryExit: entry/exit argmax with event_id tiebreaks; bounces count once, on the entry side") {
    val ev = events(
      // user 1, session 1: view → click → purchase
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:10:00", 1L, "click", 1.0),
      (3L, "2024-01-01 10:20:00", 1L, "purchase", 1.0),
      // user 1, session 2: lone click — a click bounce
      (4L, "2024-01-01 12:00:00", 1L, "click", 1.0),
      // user 2, session 1: lone view — a view bounce (entry AND exit)
      (5L, "2024-01-01 09:00:00", 2L, "view", 1.0),
      // user 2, session 2: two events at the SAME timestamp — event_id
      // breaks the tie: entry = click (id 7), exit = view (id 8)
      (7L, "2024-01-01 11:00:00", 2L, "click", 1.0),
      (8L, "2024-01-01 11:00:00", 2L, "view", 1.0))
    val out = EventAnalytics.entryExit(ev, gapSec = 1800L)
    // rowSet column order: event_type | n_bounces | n_entries | n_exits
    assert(rowSet(out) == Set(
      "view|1|2|2", "click|1|2|1", "purchase|0|0|1"), rowSet(out).toString)
  }

  test("markovAttribution: removal effects and shares match the hand-solved 3-user chain") {
    // user 1: view → purchase; user 2: view → click → (no conversion);
    // user 3: click → purchase. Chain: START→view 2/3, START→click 1/3;
    // view→CONV 1/2, view→click 1/2; click→CONV 1/2, click→NULL 1/2.
    // P(conv) = 2/3·(1/2 + 1/2·1/2) + 1/3·1/2 = 2/3 → 0.666667.
    // Remove view: P = 1/3·1/2 → 0.166667, RE = 0.75.
    // Remove click: P = 2/3·1/2 → 0.333333, RE = 0.5.
    // Shares 0.6 / 0.4.
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:05:00", 1L, "purchase", 9.0),
      (3L, "2024-01-01 10:00:00", 2L, "view", 1.0),
      (4L, "2024-01-01 10:05:00", 2L, "click", 1.0),
      (5L, "2024-01-01 10:00:00", 3L, "click", 1.0),
      (6L, "2024-01-01 10:05:00", 3L, "purchase", 5.0))
    val out = EventAnalytics.markovAttribution(ev).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set("view", "click"), out.toString)
    assert(out("view") == ((0.666667, 0.166667, 0.75, 0.6)), out.toString)
    assert(out("click") == ((0.666667, 0.333333, 0.5, 0.4)), out.toString)
  }

  test("markovAttribution: driver-stepped masses == distributed loop, row for row") {
    // the r15 size-gated driver iteration must reproduce the
    // distributed join-loop's decimal arithmetic bit-for-bit: products
    // of two scale-12 decimals are exact at scale 24, sums exact, one
    // HALF_UP round to 12 per step — on a fixture big enough to
    // exercise multi-channel removal variants, a never-converting
    // variant, and repeated-visit loops (view→click→view)
    val rows = (0L until 40L).flatMap { u =>
      val types = Seq("view", "click", "email", "search", "view", "click")
      val n = 1 + (u % 5).toInt
      val path = (0 until n).map(i => types(((u * 7 + i * 3) % 6).toInt)) ++
        (if (u % 3 == 0) Seq("purchase") else Seq.empty)
      path.zipWithIndex.map { case (t, i) =>
        (u * 100 + i, f"2024-01-01 10:${i}%02d:00", u, t, 1.0)
      }
    }
    val ev = events(rows: _*)
    val driver = EventAnalytics.markovAttribution(ev).collect()
      .map(_.toString).sorted.toSeq
    spark.conf.set(DriverGate.ForceDistributed, "true")
    val dist =
      try EventAnalytics.markovAttribution(ev).collect()
        .map(_.toString).sorted.toSeq
      finally spark.conf.unset(DriverGate.ForceDistributed)
    assert(driver.nonEmpty && driver == dist,
      s"driver:\n${driver.mkString("\n")}\ndist:\n${dist.mkString("\n")}")
  }

  test("markovAttribution: events after the first conversion are outside the journey") {
    // user 1 converts at 10:05; the later click must not create
    // transitions (view→CONV only), so click never appears as a channel
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:05:00", 1L, "purchase", 9.0),
      (3L, "2024-01-01 10:10:00", 1L, "click", 1.0))
    val out = EventAnalytics.markovAttribution(ev).collect()
    assert(out.map(_.getString(0)).toSet == Set("view"), out.mkString(";"))
    // single always-converting path: P = 1, removal kills it entirely
    val r = out.head
    assert((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)) ==
      ((1.0, 0.0, 1.0, 1.0)), r.toString)
  }

  test("sessionize: session bounds are the min/max event micros") {
    val ev = events(
      (1L, "2024-01-01 10:00:00.5", 1L, "view", 1.0),
      (2L, "2024-01-01 10:01:00.25", 1L, "click", 1.0))
    val r = EventAnalytics.sessionize(ev).collect().head
    assert(r.getAs[Long]("session_start_us") == ts("2024-01-01 10:00:00.5").getTime * 1000)
    assert(r.getAs[Long]("session_end_us") ==
      ts("2024-01-01 10:01:00.25").getTime * 1000)
  }

  test("funnel: strict in-order chain — out-of-order and same-timestamp steps do not convert") {
    val ev = events(
      // user 1: full ordered funnel
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:01:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:02:00", 1L, "purchase", 0.0),
      // user 2: click BEFORE the first view — no click conversion
      (4L, "2024-01-01 09:00:00", 2L, "click", 0.0),
      (5L, "2024-01-01 10:00:00", 2L, "view", 0.0),
      // user 3: view then purchase but never a click — purchase must not count
      (6L, "2024-01-01 10:00:00", 3L, "view", 0.0),
      (7L, "2024-01-01 10:05:00", 3L, "purchase", 0.0),
      // user 4: click at the SAME micro as the view — strictly-after fails
      (8L, "2024-01-01 10:00:00", 4L, "view", 0.0),
      (9L, "2024-01-01 10:00:00", 4L, "click", 0.0))
    val out = EventAnalytics.funnel(ev, Seq("view", "click", "purchase"))
    // rowSet column order: n_users | step | step_idx
    assert(rowSet(out) == Set("4|view|1", "1|click|2", "1|purchase|3"))
  }

  test("funnel: a later re-view cannot resurrect an earlier click") {
    // view@10:00, click@09:00, view@08:00 — the FIRST view (08:00) anchors,
    // and the 09:00 click IS after it: converts. The anchor is min view
    // time, not any view.
    val ev = events(
      (1L, "2024-01-01 08:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 09:00:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:00:00", 1L, "view", 0.0))
    val out = EventAnalytics.funnel(ev, Seq("view", "click"))
    assert(rowSet(out) == Set("1|view|1", "1|click|2"))
  }

  test("transitions: per-user consecutive pairs only, row-normalized probabilities") {
    val ev = events(
      // user 1: view -> click -> view; user 2: view -> purchase
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:01:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:02:00", 1L, "view", 0.0),
      (4L, "2024-01-01 09:00:00", 2L, "view", 0.0),
      (5L, "2024-01-01 09:30:00", 2L, "purchase", 0.0))
    val out = EventAnalytics.transitions(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // from 'view': click (1) and purchase (1) -> 0.5 each; from 'click': view (1) -> 1.0
    assert(out == Map(
      ("view", "click") -> ((1L, 0.5)),
      ("view", "purchase") -> ((1L, 0.5)),
      ("click", "view") -> ((1L, 1.0))), out.toString)
    // no cross-user transition (user 2's 09:30 purchase never chains to user 1's 10:00 view)
    assert(!out.contains(("purchase", "view")))
  }

  test("associationRules: hand-computed lift ranking with tie-break, duplicate rows collapse") {
    import spark.implicits._
    // baskets: 1:{A,B} 2:{A,B} 3:{A,C} 4:{B,C} 5:{C,D} 6:{C,D} (items 1-4)
    // lift: CD = 6·2/(4·2) = 1.5 > AB = 6·2/(3·3) = 1.333333 >
    //       AC = BC = 6·1/(3·4) = 0.5 (tie → (1,3) before (2,3))
    val rows = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L),
      (4L, 2L), (4L, 3L), (5L, 3L), (5L, 4L), (6L, 3L), (6L, 4L),
      (6L, 4L)) // duplicate (basket, item) row must not inflate counts
    val out = EventAnalytics.associationRules(
      rows.toDF("bk", "it"), "bk", "it", k = 10)
      .collect().map(r => (r.getAs[Int]("rn"), r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("n_ab"), r.getAs[Double]("support"),
        r.getAs[Double]("confidence"), r.getAs[Double]("lift")))
    assert(out.toSeq == Seq(
      (1, 3L, 4L, 2L, 0.333333, 0.5, 1.5),
      (2, 1L, 2L, 2L, 0.333333, 0.666667, 1.333333),
      (3, 1L, 3L, 1L, 0.166667, 0.333333, 0.5),
      (4, 2L, 3L, 1L, 0.166667, 0.333333, 0.5)), out.toSeq.toString)
  }

  test("associationRules minCount: equals the exhaustive run filtered to n_ab >= minCount (downward closure)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the spec fixture above, plus a rare item 5 in one basket: item 5
    // is pruned by the Apriori item gate at minCount=2, and its pairs
    // could never reach n_ab=2 anyway — the closure argument as a test
    val rows = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L),
      (4L, 2L), (4L, 3L), (5L, 3L), (5L, 4L), (6L, 3L), (6L, 4L),
      (6L, 5L))
    val df = rows.toDF("bk", "it")
    val pruned = EventAnalytics.associationRules(df, "bk", "it", k = 10, minCount = 2L)
    val exhaustiveFiltered = EventAnalytics.associationRules(df, "bk", "it", k = 10)
      .filter(col("n_ab") >= 2)
      // re-rank after the filter (rn was assigned pre-filter)
      .drop("rn")
    assert(rowSet(pruned.drop("rn")) == rowSet(exhaustiveFiltered),
      rowSet(pruned.drop("rn")).toString)
    // and the surviving rules are exactly the hand-computed n_ab>=2 set
    assert(pruned.count() == 2L)
  }

  test("associationRules minCount: downward-closure equality holds on a POWER-LAW fixture (r14)") {
    import org.apache.spark.sql.functions.col
    // the skewed-basket shape where the Apriori gate actually bites
    // (TPC-H item counts are near-uniform, so the small fixture above
    // exercises the plan but not the payoff): head items in hundreds
    // of baskets, a long singleton tail the item gate drops BEFORE the
    // pair self-join. Equality vs the exhaustive-then-filter run is
    // the proof the prune changes nothing the n_ab filter wouldn't.
    val df = graft.GenData.powerLawBaskets(spark,
      nBaskets = 4000L, nItems = 20000L, avgSize = 6).localCheckpoint()
    // sanity: the fixture is genuinely skewed — the gate must drop
    // most of the item vocabulary at this threshold
    val counts = df.groupBy(col("it")).count()
    val nItems = counts.count()
    val nFrequent = counts.filter(col("count") >= 8).count()
    assert(nFrequent > 0 && nFrequent < nItems / 4,
      s"power-law fixture must have a rare-majority vocabulary: $nFrequent/$nItems frequent")
    // k past the rule count: the equality claim is about the UNRANKED
    // rule set — with a binding k the exhaustive arm's top-k-by-lift
    // fills up with rare high-lift pairs the filter then drops
    val pruned = EventAnalytics.associationRules(df, "bk", "it", k = 1000000,
      assumeDistinct = true, minCount = 8L)
    val exhaustiveFiltered = EventAnalytics.associationRules(df, "bk", "it", k = 1000000,
      assumeDistinct = true).filter(col("n_ab") >= 8).drop("rn")
    assert(rowSet(pruned.drop("rn")) == rowSet(exhaustiveFiltered))
    assert(pruned.count() > 0, "threshold too high — the fixture produced no rules")
  }

  test("retention: cohort = Monday week of first event; offsets count whole weeks") {
    val ev = events(
      // user 1: first event Tue Jan 2 2024 (week of Mon Jan 1), active
      // again Wed Jan 17 (week of Mon Jan 15) = offset 2
      (1L, "2024-01-02 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-17 10:00:00", 1L, "view", 0.0),
      // user 2: first event Sun Jan 7 — SAME cohort week as user 1
      (3L, "2024-01-07 23:00:00", 2L, "view", 0.0),
      // two events of user 2 in week of Jan 8 — distinct'd to one active row
      (4L, "2024-01-08 00:00:00", 2L, "view", 0.0),
      (5L, "2024-01-09 00:00:00", 2L, "click", 0.0))
    val out = EventAnalytics.retention(ev)
    assert(rowSet(out) == Set(
      "2024-01-01|2|0", // both users active in their cohort week
      "2024-01-01|1|1", // user 2 in week +1
      "2024-01-01|1|2")) // user 1 in week +2
  }

  test("topPaths: journeys counted per session with deterministic tie-break; maxLen caps the key") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:05:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:10:00", 1L, "buy", 0.0),
      (4L, "2024-01-01 11:00:00", 2L, "view", 0.0),
      (5L, "2024-01-01 11:05:00", 2L, "click", 0.0),
      (6L, "2024-01-01 12:00:00", 2L, "view", 0.0), // 55-min gap: new session
      (7L, "2024-01-01 09:00:00", 3L, "view", 0.0),
      (8L, "2024-01-01 09:05:00", 3L, "click", 0.0))
    val r = EventAnalytics.topPaths(ev, gapSec = 1800L, k = 10, maxLen = 10)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getInt(2)))
    assert(r.toSeq == Seq( // ties at n=1 break by path string ascending
      ("view>click", 2L, 1), ("view", 1L, 2), ("view>click>buy", 1L, 3)), r.mkString(","))
    val capped = EventAnalytics.topPaths(ev, gapSec = 1800L, k = 10, maxLen = 2)
      .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
    assert(capped == Seq(("view>click", 3L), ("view", 1L)), capped.mkString(","))
  }

  test("funnelTiming: exact microsecond gaps along the min-time chain; non-converters drop out") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:05:00", 1L, "click", 0.0),
      (3L, "2024-01-01 10:15:00", 1L, "purchase", 0.0),
      (4L, "2024-01-01 10:00:00", 2L, "view", 0.0),
      (5L, "2024-01-01 10:20:00", 2L, "click", 0.0),
      (6L, "2024-01-01 09:00:00", 3L, "click", 0.0)) // click before any view: no conversion
    val r = EventAnalytics.funnelTiming(ev, Seq("view", "click", "purchase"))
      .collect().map(x => x.getString(1) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5)))).toMap
    assert(r("click") == ((2L, 300000000L, 1200000000L, 750000000.0)), r.toString)
    assert(r("purchase") == ((1L, 600000000L, 600000000L, 600000000.0)), r.toString)
  }

  test("stickiness: WAU is the trailing 7-day distinct-user window; only activity days report") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 11:00:00", 2L, "view", 0.0),
      (3L, "2024-01-01 12:00:00", 2L, "view", 0.0), // same (day, user): no double count
      (4L, "2024-01-02 10:00:00", 2L, "view", 0.0),
      (5L, "2024-01-09 10:00:00", 3L, "view", 0.0)) // 7 days on: window has rolled over
    val r = EventAnalytics.stickiness(ev).collect()
      .map(x => x.getDate(0).toString -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r == Map(
      "2024-01-01" -> ((2L, 2L, 1.0)),
      "2024-01-02" -> ((1L, 2L, 0.5)),
      "2024-01-09" -> ((1L, 1L, 1.0))), r.toString)
  }

  test("lastTouchAttribution: latest prior view wins; horizon, missing-view and same-ts edges") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 0.0),
      (2L, "2024-01-01 10:30:00", 1L, "view", 0.0),
      (3L, "2024-01-01 10:45:00", 1L, "purchase", 0.0), // credits view 2 (latest), gap 15 min
      (4L, "2024-01-01 08:00:00", 2L, "view", 0.0),
      (5L, "2024-01-01 10:00:00", 2L, "purchase", 0.0), // 2h old view: outside horizon
      (6L, "2024-01-01 10:00:00", 3L, "purchase", 0.0), // no view at all
      (7L, "2024-01-01 09:59:00", 4L, "click", 0.0),
      (8L, "2024-01-01 10:00:00", 4L, "purchase", 0.0), // click is not a view
      (9L, "2024-01-01 10:00:00", 5L, "view", 0.0),
      (10L, "2024-01-01 10:00:00", 5L, "purchase", 0.0)) // same ts: view precedes by id
    val r = EventAnalytics.lastTouchAttribution(ev).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(3), x.getLong(5))).toSet
    assert(r == Set((1L, 3L, 2L, 900000000L), (5L, 10L, 9L, 0L)), r.toString)
  }

  test("changepointDaily: finds the planted level shift exactly") {
    // days 1-3 at 2 events/day, days 4-6 at 10/day: split after day 3
    var id = 0L
    val rows = (1 to 6).flatMap { d =>
      val n = if (d <= 3) 2 else 10
      (1 to n).map { i => id += 1; (id, f"2024-01-0$d $i%02d:00:00", 1L, "view", 0.0) }
    }
    val r = EventAnalytics.changepointDaily(events(rows: _*)).collect().head
    assert(r.getDate(0).toString == "2024-01-03", r.toString)
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 2.0 && r.getDouble(4) == 10.0 && r.getDouble(5) == 8.0)
  }

  test("decayedCounts: stepped base-2 decay, exact halves; the horizon truncates stale events") {
    val ev = events(
      (1L, "2024-03-10 09:00:00", 1L, "a", 1.00),
      (2L, "2024-03-10 10:00:00", 1L, "a", 2.00),
      (3L, "2024-03-09 10:00:00", 2L, "a", 4.00),
      (4L, "2024-03-08 10:00:00", 2L, "b", 1.00),
      (5L, "2024-03-08 11:00:00", 2L, "b", 1.00),
      (6L, "2024-03-08 12:00:00", 1L, "b", 1.00),
      (7L, "2024-03-08 13:00:00", 1L, "b", 1.00),
      (8L, "2023-01-01 10:00:00", 9L, "b", 100.00)) // 434 days old: dropped
    val r = EventAnalytics.decayedCounts(ev, horizon = 40)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(3)))).toMap
    // a: 2 events at step 0 + 1 at step 1 → 2 + 0.5 = 2.5; value (3.00 + 4.00/2) = 5.0
    assert(r("a") == ((3L, 2.5, 5.0)), r.toString)
    // b: 4 events at step 2 → 1.0; the 2023 event is beyond the horizon
    assert(r("b") == ((4L, 1.0, 1.0)), r.toString)
  }

  test("decayedCounts: halfLifeDays widens the step so near days share full weight") {
    val ev = events(
      (1L, "2024-03-10 09:00:00", 1L, "a", 1.00),
      (2L, "2024-03-10 10:00:00", 1L, "a", 2.00),
      (3L, "2024-03-09 10:00:00", 2L, "a", 4.00),
      (4L, "2024-03-08 10:00:00", 2L, "b", 1.00))
    val r = EventAnalytics.decayedCounts(ev, horizon = 40, halfLifeDays = 2)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    // ages 0,0,1 all land in step 0; age 2 is step 1
    assert(r("a") == 3.0 && r("b") == 0.5, r.toString)
  }

  test("windowFunnel: the window ceiling cuts levels; users count once at their max level") {
    val ev = events(
      // A: full chain inside 15 min → level 3
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:05:00", 1L, "click", 1.0),
      (3L, "2024-01-01 10:10:00", 1L, "purchase", 1.0),
      // B: purchase lands at +20 min, outside the view+15m window → level 2
      (4L, "2024-01-01 10:00:00", 2L, "view", 1.0),
      (5L, "2024-01-01 10:10:00", 2L, "click", 1.0),
      (6L, "2024-01-01 10:20:00", 2L, "purchase", 1.0),
      // C: click only — no step-1 event, excluded entirely
      (7L, "2024-01-01 10:00:00", 3L, "click", 1.0),
      // D: click after the window → level 1
      (8L, "2024-01-01 10:00:00", 4L, "view", 1.0),
      (9L, "2024-01-01 10:16:00", 4L, "click", 1.0))
    val out = EventAnalytics.windowFunnel(ev,
      Seq("view", "click", "purchase"), windowUs = 15L * 60 * 1000000)
    assert(rowSet(out) == Set("3|1", "2|1", "1|1"), rowSet(out).toString)
  }

  test("sesForecastDaily: exact half-up integer recursion; 1-day series has NULL mae") {
    // type a: [10, 20] → s6 = (7·10e6 + 3·20e6 + 5) div 10 = 13e6 → level 13.0,
    // one-step error |20 − 10| = 10 → mae 10.0; type b: one day of 3 → mae NULL
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows =
      Seq(("a", 1, 10), ("a", 2, 20), ("b", 1, 3)).flatMap { case (t, d, n) =>
        (1 to n).map(i => (t, f"2024-05-0$d ${i / 60}%02d:${i % 60}%02d:00"))
      }
    val ev = rows.toDF("event_type", "ts_s")
      .select(col("event_type"), col("ts_s").cast("timestamp").as("ts"))
    val out = EventAnalytics.sesForecastDaily(ev)
    // cols sorted: event_type|level|mae|n_days
    assert(rowSet(out) == Set("a|13.0|10.0|2", "b|3.0|NULL|1"), rowSet(out).toString)
  }

  test("peakConcurrency: inclusive interval semantics — a session starting as another ends overlaps it") {
    val ev = events(
      // u1: one session spanning 10:00–10:20
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:20:00", 1L, "view", 1.0),
      // u2: a point session at exactly u1's end — still concurrent
      (3L, "2024-01-01 10:20:00", 2L, "view", 1.0),
      // u3: lone earlier session
      (4L, "2024-01-01 09:00:00", 3L, "view", 1.0))
    val out = EventAnalytics.peakConcurrency(ev, gapSec = 1800L).collect()(0)
    assert(out.getLong(0) == 3L, s"n_sessions: $out")
    assert(out.getLong(1) == 2L, s"peak: $out")
    assert(out.getLong(2) == java.sql.Timestamp.valueOf("2024-01-01 10:20:00").getTime * 1000,
      s"peak_at_us: $out")
  }

  test("seqPairs: eventually-follows needs strict time order; same-ts never counts; both directions possible") {
    val ev = events(
      // session 1 (user 1): a@0, b@1, a@2 → a before b AND b before a
      (1L, "2024-01-01 10:00:00", 1L, "a", 1.0),
      (2L, "2024-01-01 10:01:00", 1L, "b", 1.0),
      (3L, "2024-01-01 10:02:00", 1L, "a", 1.0),
      // session 2 (user 2): c@0, then d and e at the SAME ts → c<d, c<e only
      (4L, "2024-01-01 09:00:00", 2L, "c", 1.0),
      (5L, "2024-01-01 09:10:00", 2L, "d", 1.0),
      (6L, "2024-01-01 09:10:00", 2L, "e", 1.0))
    val out = EventAnalytics.seqPairs(ev, gapSec = 1800L)
    // cols sorted: n_sessions|support|type_a|type_b
    assert(rowSet(out) == Set(
      "1|0.5|a|b", "1|0.5|b|a", "1|0.5|c|d", "1|0.5|c|e"), rowSet(out).toString)
  }

  test("multiTouch: strict-past horizon counting; same-ts views and stale views don't contribute") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:30:00", 1L, "view", 1.0),
      (3L, "2024-01-01 10:45:00", 1L, "purchase", 5.0),  // both views inside 1h → k=2
      (4L, "2024-01-01 12:00:00", 1L, "purchase", 7.0),  // 10:30 view is 90min old → k=0
      (5L, "2024-01-02 09:00:00", 2L, "view", 1.0),
      (6L, "2024-01-02 09:00:00", 2L, "purchase", 3.0))  // same-ts view excluded → k=0
    val out = EventAnalytics.multiTouch(ev, horizonSec = 3600L)
    // cols sorted: n_purchases|n_touches|total_value
    assert(rowSet(out) == Set("1|2|5.0", "2|0|10.0"), rowSet(out).toString)
  }

  test("newVsReturning: first-ever day is new, later activity returning; multi-event days count once") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 11:00:00", 1L, "view", 1.0), // same user+day: one active row
      (3L, "2024-01-02 10:00:00", 1L, "view", 1.0),
      (4L, "2024-01-02 10:00:00", 2L, "view", 1.0))
    val out = EventAnalytics.newVsReturning(ev)
    // cols sorted: day|n_active|n_new|n_returning|new_share
    assert(rowSet(out) == Set("2024-01-01|1|1|0|1.0", "2024-01-02|2|1|1|0.5"),
      rowSet(out).toString)
  }

  test("topMovers: deltas vs previous observed day; deterministic |delta| ranking") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "a", 1.0),
      (2L, "2024-01-02 10:00:00", 1L, "a", 1.0),
      (3L, "2024-01-02 11:00:00", 1L, "a", 1.0),
      (4L, "2024-01-02 12:00:00", 2L, "a", 1.0), // a: 1 → 3 (Δ +2)
      (5L, "2024-01-01 10:00:00", 3L, "b", 1.0),
      (6L, "2024-01-03 10:00:00", 3L, "b", 1.0)) // b: 1 → 1 (Δ 0, gap day skipped)
    val out = EventAnalytics.topMovers(ev, k = 1)
    // cols sorted: day|delta|event_type|n|prev_n
    assert(rowSet(out) == Set("2024-01-02|2|a|3|1"), rowSet(out).toString)
  }

  test("holtForecastDaily: exact integer recursion, negative trend rounds toward +inf both ways") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // up: [10,20] → l=13.0, b=0.6, f7=17.2; down: [20,10] → l=17.0, b=−0.6, f7=12.8
    val rows = Seq(("up", 1, 10), ("up", 2, 20), ("dn", 1, 20), ("dn", 2, 10))
      .flatMap { case (t, d, n) =>
        (1 to n).map(i => (t, f"2024-06-0$d ${i / 60}%02d:${i % 60}%02d:00"))
      }
    val ev = rows.toDF("event_type", "ts_s")
      .select(col("event_type"), col("ts_s").cast("timestamp").as("ts"))
    val out = EventAnalytics.holtForecastDaily(ev)
    // cols sorted: event_type|forecast_7|level|n_days|trend
    assert(rowSet(out) == Set("up|17.2|13.0|2|0.6", "dn|12.8|17.0|2|-0.6"),
      rowSet(out).toString)
  }

  test("watermarkProfile: lateness vs the arrival-order high-water mark; rank stats off the grid") {
    val ev = events(
      (1L, "2024-01-01 00:01:40", 1L, "view", 1.0),  // hwm 100s
      (2L, "2024-01-01 00:01:30", 1L, "view", 1.0),  // late 10s
      (3L, "2024-01-01 00:01:50", 2L, "view", 1.0),  // new hwm
      (4L, "2024-01-01 00:01:50", 2L, "view", 1.0),  // on time
      (5L, "2024-01-01 00:00:50", 3L, "view", 1.0))  // late 60s
    val out = EventAnalytics.watermarkProfile(ev).collect()(0)
    // n=5, late rows 2, max 60; p99/p999 ranks land on the 60s row
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3), out.getLong(4)) ==
      ((5L, 2L, 60L, 60L, 60L)), out.toString)
  }

  test("rollingP90Daily: rank ceil(0.9n) over the trailing frame; partial windows use the present count") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // counts by day: [5, 1, 9]; windows: [5] → p90 rank 1 = 5;
    // [1,5] → rank ceil(1.8)=2 → 5; [1,5,9] → rank ceil(2.7)=3 → 9
    val rows = Seq((1, 5), (2, 1), (3, 9)).flatMap { case (d, n) =>
      (1 to n).map(i => ("a", f"2024-07-0$d ${i / 60}%02d:${i % 60}%02d:00"))
    }
    val ev = rows.toDF("event_type", "ts_s")
      .select(col("event_type"), col("ts_s").cast("timestamp").as("ts"))
    val out = EventAnalytics.rollingP90Daily(ev, window = 3)
    // cols sorted: day|event_type|n_window|p90
    assert(rowSet(out) == Set(
      "2024-07-01|a|1|5", "2024-07-02|a|2|5", "2024-07-03|a|3|9"),
      rowSet(out).toString)
  }

  test("wowGrowth: calendar lag, not positional — a gap week reports NULL, not the wrong day") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq((1, 4), (8, 6), (10, 2)).flatMap { case (d, n) =>
      (1 to n).map(i => ("a", f"2024-07-$d%02d 00:$i%02d:00"))
    }
    val ev = rows.toDF("event_type", "ts_s")
      .select(col("event_type"), col("ts_s").cast("timestamp").as("ts"))
    val out = EventAnalytics.wowGrowth(ev)
    // day 8 compares to day 1 (+50%); days 1 and 10 have no comparison
    // (day 3's positional predecessor would have been day 8 — wrong)
    // cols sorted: day|event_type|growth_pct|n|prev_week_n
    assert(rowSet(out) == Set(
      "2024-07-01|a|NULL|4|NULL", "2024-07-08|a|50.0|6|4", "2024-07-10|a|NULL|2|NULL"),
      rowSet(out).toString)
  }

  test("behaviorProfiles: canonical lexicographic set labels; repeat events collapse") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:01:00", 1L, "click", 1.0),
      (3L, "2024-01-01 10:02:00", 1L, "view", 1.0),   // repeat — still one set entry
      (4L, "2024-01-01 10:00:00", 2L, "click", 1.0),
      (5L, "2024-01-01 10:01:00", 2L, "view", 1.0),   // same SET as user 1
      (6L, "2024-01-01 10:00:00", 3L, "error", 1.0))
    val out = EventAnalytics.behaviorProfiles(ev)
    // cols sorted: behavior|n_types|n_users
    assert(rowSet(out) == Set("click+view|2|2", "error|1|1"), rowSet(out).toString)
  }

  test("binsegDaily: two planted level shifts found in greedy order, gains by hand") {
    // counts [10,10,10,10,50,50,50,50,10,10,10,10]: S=280, n=12.
    // Round 1: gains at r=4 and r=8 tie at 7600 - 280^2/12 = 1066.666667
    //   -> earliest day wins: day 04. Round 2: segment (4,12] splits at
    //   r=8 with 200^2/4 + 40^2/4 - 240^2/8 = 3200.
    var id = 0L
    val rows = (1 to 12).flatMap { d =>
      val n = if (d >= 5 && d <= 8) 50 else 10
      (1 to n).map { i => id += 1; (id, f"2024-01-$d%02d ${i / 60}%02d:${i % 60}%02d:00", 1L, "view", 0.0) }
    }
    val out = EventAnalytics.binsegDaily(events(rows: _*), k = 3)
      .collect().map(r => r.getInt(0) -> ((r.getDate(1).toString, r.getDouble(2)))).toMap
    assert(out(1) == (("2024-01-04", 1066.666667)), out.toString)
    assert(out(2) == (("2024-01-08", 3200.0)), out.toString)
    assert(out.contains(3)) // a third (noise) split exists and is reported
    assert(out(3)._2 <= 3200.0 + 1e-9)
  }

  test("acfDaily: hand-computed biased estimator on a symmetric hump series") {
    // daily counts [1,2,3,2,1]: N=5, S=9, dcent = 5x−9 = [−4,1,6,1,−4], den=70
    // lag1: −4+6+6−4 = 4 → 4/70; lag2: −24+1−24 = −47 → −47/70
    val rows = Seq("01" -> 1, "02" -> 2, "03" -> 3, "04" -> 2, "05" -> 1).flatMap {
      case (d, n) => (1 to n).map(i => (d.toLong * 10 + i, s"2024-02-$d 0$i:00:00", i.toLong, "view", 1.0))
    }
    val out = EventAnalytics.acfDaily(events(rows: _*), maxLag = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((4L, math.rint(4.0 / 70 * 1e6) / 1e6)), out.toString)
    assert(out(2L) == ((3L, math.rint(-47.0 / 70 * 1e6) / 1e6)), out.toString)
  }

  test("seqTriples: consecutive-only trigrams, session gaps cut the chain") {
    // user 1, one session: a b a b -> trigrams aba, bab (1 each)
    // user 2: a b | (gap) a b -> no trigram spans the gap
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "a", 0.0), (2L, "2024-01-01 10:01:00", 1L, "b", 0.0),
      (3L, "2024-01-01 10:02:00", 1L, "a", 0.0), (4L, "2024-01-01 10:03:00", 1L, "b", 0.0),
      (5L, "2024-01-01 10:00:00", 2L, "a", 0.0), (6L, "2024-01-01 10:01:00", 2L, "b", 0.0),
      (7L, "2024-01-01 12:00:00", 2L, "a", 0.0), (8L, "2024-01-01 12:01:00", 2L, "b", 0.0))
    val out = EventAnalytics.seqTriples(events(rows: _*), gapSec = 1800L, k = 20)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // 3 sessions total; each trigram occurs once in one session -> support 1/3
    assert(out.toSet == Set(("a", "b", "a", 1L, 1L, 0.333333),
      ("b", "a", "b", 1L, 1L, 0.333333)), out.mkString(","))
  }

  test("seqTriples: the session total counts NULL-ts rows and a NULL user like distinct (user, session)") {
    import spark.implicits._
    // user 1: two NULL-ts rows (each opens a session: its lag is NULL),
    // then a b c — three sessions; NULL user: d | (gap) e — two; user 2:
    // one. Distinct (user_id, session_idx) = 6 = Σ_new, the observed total
    val ev = Seq(
      (1L, Option.empty[String], Option(1L), "x"), (2L, None, Option(1L), "y"),
      (3L, Option("2024-01-01 10:00:00"), Option(1L), "a"),
      (4L, Option("2024-01-01 10:01:00"), Option(1L), "b"),
      (5L, Option("2024-01-01 10:02:00"), Option(1L), "c"),
      (6L, Option("2024-01-01 10:00:00"), Option.empty[Long], "d"),
      (7L, Option("2024-01-01 15:00:00"), None, "e"),
      (8L, Option("2024-01-01 10:00:00"), Option(2L), "f"))
      .toDF("event_id", "ts_s", "user_id", "event_type")
      .selectExpr("event_id", "cast(ts_s as timestamp) as ts", "user_id", "event_type")
    val out = EventAnalytics.seqTriples(ev, gapSec = 1800L, k = 20)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(("a", "b", "c", 1L, 1L, 0.166667)), out.mkString(","))
  }

  test("segmentedTrend: split at the level shift; per-side OLS lines by hand") {
    // counts: days 1-4 exactly (2,4,6,8) then days 5-8 all 20.
    // split argmax lands after day 4; left OLS: slope 2, intercept 0;
    // right: x=(5..8), y=20 -> slope 0, intercept 20
    var id = 0L
    val rows = (1 to 8).flatMap { d =>
      val n = if (d <= 4) 2 * d else 20
      (1 to n).map { i => id += 1; (id, f"2024-01-0$d ${i / 60}%02d:${i % 60}%02d:00", 1L, "view", 0.0) }
    }
    val out = EventAnalytics.segmentedTrend(events(rows: _*))
      .collect().map(r => r.getInt(0) ->
        ((r.getDate(1).toString, r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1) == (("2024-01-04", 4L, 2.0, 0.0)), out.toString)
    assert(out(2) == (("2024-01-04", 4L, 0.0, 20.0)), out.toString)
  }

  test("segmentedTrend: single-day series yields one NULL-coefficient segment, no crash") {
    val rows = (1 to 5).map(i => (i.toLong, f"2024-01-01 00:0$i:00", 1L, "view", 0.0))
    val out = EventAnalytics.segmentedTrend(events(rows: _*)).collect()
    assert(out.length == 1, out.mkString(","))
    assert(out(0).getInt(0) == 1 && out(0).getDate(1).toString == "2024-01-01")
    assert(out(0).getLong(2) == 1L && out(0).isNullAt(3) && out(0).isNullAt(4))
  }

  test("cusumDaily: identity equals the direct recursion on a hand series; alarm on the shift") {
    // counts (2,2,2,20,20): N=5, S=46, mu=9.2, k=0.46
    // direct recursion S_t = max(0, S_(t-1) + x_t - 9.66):
    //  t1..t3: 0; t4: 10.34; t5: 20.68
    var id = 0L
    val rows = (1 to 5).flatMap { d =>
      val n = if (d <= 3) 2 else 20
      (1 to n).map { i => id += 1; (id, f"2024-01-0$d ${i / 60}%02d:${i % 60}%02d:00", 1L, "view", 0.0) }
    }
    val out = EventAnalytics.cusumDaily(events(rows: _*))
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // reference recursion, same scaled integers: mu+k = 21*46/(20*5) = 9.66
    assert(out("2024-01-01") == ((2L, 0.0, false)), out.toString)
    assert(out("2024-01-03") == ((2L, 0.0, false)), out.toString)
    assert(out("2024-01-04") == ((20L, 10.34, false)), out.toString)
    assert(out("2024-01-05") == ((20L, 20.68, false)), out.toString)
    // alarm threshold is 4*mu = 36.8 — not reached here; force one:
    val rows2 = rows ++ (1 to 300).map { i =>
      id += 1; (id, f"2024-01-06 ${i / 60}%02d:${i % 60}%02d:00", 1L, "view", 0.0) }
    val out2 = EventAnalytics.cusumDaily(events(rows2: _*))
      .collect().map(r => r.getDate(0).toString -> r.getBoolean(3)).toMap
    assert(out2("2024-01-06"), out2.toString)
  }

  test("holtWintersDaily == integer recursion mirror; planted weekly shape is learned") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 28 days, counts 5 + 3*(series position mod 7): a pure weekly sawtooth
    val counts = (0 until 28).map(i => 5 + 3 * (i % 7))
    var id = 0L
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      val day = f"2024-01-${i + 1}%02d"
      (1 to c).map { _ => id += 1; (id, s"$day 10:00:00", 1L, "view", 1.0) }
    }
    val got = EventAnalytics.holtWintersDaily(events(rows: _*))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).head
    // mirror: the exact integer micro-unit recursion
    def fd(y: Long): Long = { val m = ((y % 10) + 10) % 10; (y - m) / 10 }
    var l = counts(0) * 1000000L; var b = 0L; val sArr = Array.fill(7)(0L)
    for (t <- 1 until counts.size) {
      val j = t % 7; val x = counts(t) * 1000000L
      val lN = fd(3 * (x - sArr(j)) + 7 * (l + b) + 5)
      val bN = fd(2 * (lN - l) + 8 * b + 5)
      sArr(j) = fd(2 * (x - lN) + 8 * sArr(j) + 5)
      l = lN; b = bN
    }
    val jNext = (counts.size + 6) % 7
    assert(got._1 == "view" && got._2 == 28L)
    assert(got._3 == round6(l / 1e6), s"level ${got._3} vs ${round6(l / 1e6)}")
    assert(got._4 == round6(b / 1e6), s"trend ${got._4} vs ${round6(b / 1e6)}")
    assert(got._5 == round6(sArr(jNext) / 1e6), s"season ${got._5}")
    assert(got._6 == round6((l + 7 * b + sArr(jNext)) / 1e6), s"forecast ${got._6}")
    // the planted sawtooth is learned: the +7 forecast lands near the
    // actual next value for that weekday, and the seasonals spread
    // last observed position is 27 (0-based); +7 lands on position 34
    val actualNext = 5 + 3 * ((counts.size + 6) % 7)
    assert(math.abs(got._6 - actualNext) < 1.5,
      s"forecast ${got._6} should be near $actualNext")
    assert(sArr.max - sArr.min > 3000000L, "seasonals must spread over the sawtooth")
  }

  test("stlDecomposeDaily: pure weekly signal decomposes exactly — flat trend, planted seasonals, zero residual") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // c(day) = 10 + offset[epoch-day mod 7]: any 7-point window sums to
    // 7*10 + sum(offsets), so trend is flat, seasonal recovers the
    // centered offsets, residual is exactly 0
    val offsets = Array(0, 3, 6, 1, 0, 2, 9)
    var id = 0L
    val rows = (0 until 21).flatMap { i =>
      val day = f"2024-01-${i + 1}%02d"
      val epochDay = java.time.LocalDate.parse(f"2024-01-${i + 1}%02d").toEpochDay
      val c = 10 + offsets((epochDay % 7).toInt)
      (1 to c).map { _ => id += 1; (id, s"$day 10:00:00", 1L, "view", 1.0) }
    }
    val out = EventAnalytics.stlDecomposeDaily(events(rows: _*)).collect()
      .map(r => r.getDate(1).toString ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    // edges (3 days each side) drop: 21 days -> 15 emitted
    assert(out.size == 15, out.keys.toSeq.sorted.mkString(","))
    assert(!out.contains("2024-01-01") && !out.contains("2024-01-21"))
    val meanOff = offsets.sum.toDouble / 7
    val expTrend = round6(10 + meanOff)
    out.foreach { case (day, (c, trend, seasonal, residual)) =>
      val epochDay = java.time.LocalDate.parse(day).toEpochDay
      val off = offsets((epochDay % 7).toInt)
      assert(trend == expTrend, s"$day trend $trend != $expTrend")
      assert(seasonal == round6(off - meanOff), s"$day seasonal $seasonal")
      assert(residual == 0.0, s"$day residual $residual")
      assert(c == 10L + off)
    }
  }

  test("cupedAb == plain-Scala mirror; planted covariate structure is removed") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def armA(uid: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(uid.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16) % 2 == 0
    }
    // two events per user: one pre (day 1), one post (day 5); post spend
    // strongly tracks pre spend (y = 3x + noise) so CUPED must remove
    // most of the variance
    val rnd = new scala.util.Random(11)
    var id = 0L
    val rows = (1L to 60L).flatMap { u =>
      val x = (rnd.nextInt(900) + 100).toDouble / 10 // pre spend
      val y = 3 * x + (rnd.nextInt(200) - 100).toDouble / 10
      Seq({ id += 1; (id, "2024-01-01 10:00:00", u, "view", x) },
        { id += 1; (id, "2024-01-05 10:00:00", u, "purchase", y) })
    }
    val got = EventAnalytics.cupedAb(events(rows: _*)).collect()(0)
    // mirror: per-user integer cents, micros midpoint, exact moments
    val t0 = ts("2024-01-01 10:00:00").getTime * 1000
    val t1 = ts("2024-01-05 10:00:00").getTime * 1000
    val mid = t0 + (t1 - t0) / 2
    val users = rows.groupBy(_._3).map { case (u, es) =>
      val x = es.filter(e => ts(e._2).getTime * 1000 < mid)
        .map(e => math.round(e._5 * 100)).sum
      val y = es.filter(e => ts(e._2).getTime * 1000 >= mid)
        .map(e => math.round(e._5 * 100)).sum
      (u, BigInt(x), BigInt(y), armA(u))
    }.toSeq
    val n = BigInt(users.size)
    val (sx, sy) = (users.map(_._2).sum, users.map(_._3).sum)
    val sxy = users.map(r => r._2 * r._3).sum
    val sxx = users.map(r => r._2 * r._2).sum
    val syy = users.map(r => r._3 * r._3).sum
    val theta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val xbar = sx.toDouble / n.toDouble
    val rho2 = (n * sxy - sx * sy).toDouble * (n * sxy - sx * sy).toDouble /
      ((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    case class Arm(ng: Long, sg: BigInt, qg: BigInt, sa: BigDecimal, qa: BigDecimal)
    def arm(flag: Boolean): Arm = {
      val g = users.filter(_._4 == flag)
      val terms = g.map { r =>
        val ya = r._3.toDouble - theta * (r._2.toDouble - xbar)
        (dec6(ya), dec6(ya * ya))
      }
      Arm(g.size.toLong, g.map(_._3).sum, g.map(r => r._3 * r._3).sum,
        terms.map(_._1).sum, terms.map(_._2).sum)
    }
    def z(a: Arm, b: Arm, sA: Double, qA: Double, sB: Double, qB: Double): Double = {
      def v(n: Long, q: Double, s: Double) =
        (n.toDouble * q - s * s) / (n.toDouble * (n - 1).toDouble)
      (sA / a.ng - sB / b.ng) /
        math.sqrt(v(a.ng, qA, sA) / a.ng + v(b.ng, qB, sB) / b.ng)
    }
    val (aa, ab) = (arm(true), arm(false))
    val zU = z(aa, ab, aa.sg.toDouble, aa.qg.toDouble, ab.sg.toDouble, ab.qg.toDouble)
    val zC = z(aa, ab, aa.sa.toDouble, aa.qa.toDouble, ab.sa.toDouble, ab.qa.toDouble)
    assert(got.getLong(0) == aa.ng && got.getLong(1) == ab.ng)
    assert(got.getDouble(2) == round6(theta), s"theta ${got.getDouble(2)} vs ${round6(theta)}")
    assert(got.getDouble(3) == round6(zU), s"z_unadj ${got.getDouble(3)} vs ${round6(zU)}")
    assert(got.getDouble(4) == round6(zC), s"z_cuped ${got.getDouble(4)} vs ${round6(zC)}")
    assert(got.getDouble(5) == round6(rho2))
    // the planted y≈3x structure: theta near 3, most variance removed
    assert(math.abs(got.getDouble(2) - 3.0) < 0.2, s"theta=${got.getDouble(2)}")
    assert(got.getDouble(5) > 0.9, s"var_reduction=${got.getDouble(5)}")
  }

  test("srmCheck: flags a rigged split, passes a fair one; chi2 matches the hand formula") {
    import spark.implicits._
    // arms are md5-parity of the user id — compute the parity locally
    // and PLANT the imbalance (40 arm-a vs 5 arm-b users)
    def armA(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 13), 16) % 2 == 0
    }
    val ids = (1L to 2000L)
    val aIds = ids.filter(armA).take(40)
    val bIds = ids.filterNot(armA).take(5)
    def ev(users: Seq[Long]) = users.map(u => (u, "click")).toDF("user_id", "event_type")
    val rigged = EventAnalytics.srmCheck(ev(aIds ++ bIds)).collect()(0)
    assert((rigged.getLong(0), rigged.getLong(1), rigged.getLong(2)) == ((45L, 40L, 5L)))
    val chi2 = BigDecimal(35.0 * 35.0 / 45.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rigged.getDouble(3) == chi2 && rigged.getBoolean(4),
      s"a 40/5 split must flag: $rigged")
    // near-even split stays green (|diff| small, chi2 << 3.84)
    val fair = EventAnalytics.srmCheck(
      ev(ids.filter(armA).take(30) ++ ids.filterNot(armA).take(28))).collect()(0)
    assert(!fair.getBoolean(4), s"a 30/28 split must not flag: $fair")
    // duplicate events per user count once (distinct users)
    val dup = EventAnalytics.srmCheck(ev(aIds ++ aIds ++ bIds)).collect()(0)
    assert(dup.getLong(0) == 45L)
  }
}
