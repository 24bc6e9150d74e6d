package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Executable correctness gate for the streaming tier: the SAME
  * out-of-order / late / duplicate event set goes through the streaming
  * operator via MemoryStream (multiple microbatches, so state,
  * watermarks and timeouts really engage) AND through an independent
  * batch formulation (the oracle-checked x_tumbling_window shape, the
  * built-in session_window aggregation, a plain join+argmax), and the
  * outputs must be row-identical. This is the streaming analogue of the
  * DuckDB oracle: not a property check, an equality on rows.
  */
class StreamBatchEquivalenceSpec extends SparkSpec {
  import spark.implicits._
  import EventStream.Event

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private implicit val eventEnc: org.apache.spark.sql.Encoder[Event] =
    Encoders.product[Event]

  private def ts(s: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $s:00")

  private def ev(id: Long, t: String, uid: Long, typ: String, v: Double): Event =
    Event(id, ts(t), uid, typ, v)

  // flush event: far enough ahead that the 1h watermark passes every
  // real window/session end, forcing append-mode emission + timeouts
  private val flush = ev(99L, "23:00", 9L, "view", 0.0)

  test("windowedCounts: stream over out-of-order microbatches equals the batch twin") {
    val b1 = Seq(ev(1, "10:20", 1, "view", 1.0), ev(2, "10:45", 2, "purchase", 5.0),
      ev(3, "11:05", 1, "view", 2.0))
    // late (10:10 arrives after the stream saw 11:05), an exact
    // duplicate of event 2, and a new in-order row — all inside the 1h
    // watermark, so batch and stream must agree row-for-row
    val b2 = Seq(ev(4, "10:10", 2, "view", 3.0), ev(2, "10:45", 2, "purchase", 5.0),
      ev(5, "11:20", 3, "view", 1.5))

    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("eq_win").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(Seq(flush)); q.processAllAvailable(); q.processAllAvailable()
      val streamed = rowSet(spark.table("eq_win"))

      // batch twin: the oracle-checked tumbling-window shape over the
      // SAME rows (flush included on both sides; its window stays open
      // in the stream, so it is filtered from the batch side too)
      val batch = (b1 ++ b2 :+ flush).toDF()
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .filter(col("window.start") < ts("22:00"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
      assert(streamed == rowSet(batch) && streamed.nonEmpty,
        s"stream=$streamed\nbatch=${rowSet(batch)}")
    } finally q.stop()
  }

  test("sessionWindows: stream (late + duplicate + backward-extending events) equals session_window") {
    val b1 = Seq(ev(11, "10:20", 1, "view", 1.0), ev(12, "10:25", 1, "view", 2.0),
      ev(13, "10:00", 2, "view", 4.0))
    // 10:10 extends user 1's open session BACKWARD (inside the gap),
    // the duplicate of event 12 must count twice, 10:50 extends it
    // forward, and user 2's 11:30 gap-closes the 10:00 singleton
    val b2 = Seq(ev(14, "10:10", 1, "view", 0.5), ev(12, "10:25", 1, "view", 2.0),
      ev(15, "10:50", 1, "view", 3.0), ev(16, "11:30", 2, "view", 1.0))

    val input = MemoryStream[Event]
    val q = EventStream.sessionWindows(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("eq_sess").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(Seq(flush)); q.processAllAvailable(); q.processAllAvailable()
      val streamed = rowSet(spark.table("eq_sess")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("total_value")))

      // batch twin: the BUILT-IN session_window aggregation — a fully
      // independent implementation of gap-session semantics (its window
      // end is last_event + gap; ClosedSession carries the last event
      // itself, so shift by the gap before comparing). The flush user
      // never closes in the stream, so it is excluded on the batch side.
      val batch = (b1 ++ b2 :+ flush).toDF()
        .filter(col("user_id") =!= flush.user_id)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value")).as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          (col("session_window.end") - expr("INTERVAL 30 MINUTES")).as("session_end"),
          col("n_events"), col("total_value"))
      assert(streamed == rowSet(batch) && streamed.size == 3,
        s"stream=$streamed\nbatch=${rowSet(batch)}")
    } finally q.stop()
  }

  test("sessionWindows: out-of-order events that BRIDGE two buffered sessions equal session_window") {
    // b1 opens [10:40, 10:45]; b2's 10:00/10:05 open a pre-gap old
    // session AND its 10:30 bridges it into the open one (10:05→10:30 is
    // 25 min ≤ gap, 10:30→10:40 is 10 min ≤ gap): the CORRECT result is
    // ONE session of all five events — exactly the case where closing
    // the old session at micro-batch end (the round-7 semantics) would
    // emit a spurious split.
    val b1 = Seq(ev(41, "10:40", 4, "view", 1.0), ev(42, "10:45", 4, "view", 2.0))
    val b2 = Seq(ev(43, "10:00", 4, "view", 7.0), ev(44, "10:05", 4, "view", 2.0),
      ev(45, "10:30", 4, "view", 3.0))

    val input = MemoryStream[Event]
    val q = EventStream.sessionWindows(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("eq_sess_bridge").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(Seq(flush)); q.processAllAvailable(); q.processAllAvailable()
      val streamed = rowSet(spark.table("eq_sess_bridge")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("total_value")))
      val batch = (b1 ++ b2 :+ flush).toDF()
        .filter(col("user_id") =!= flush.user_id)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value")).as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          (col("session_window.end") - expr("INTERVAL 30 MINUTES")).as("session_end"),
          col("n_events"), col("total_value"))
      assert(streamed == rowSet(batch) && streamed.size == 1,
        s"stream=$streamed\nbatch=${rowSet(batch)}")
    } finally q.stop()
  }

  test("sessionWindows == batch sessionize; entryExit's totals tie to the same closed sessions") {
    // same gap semantics, three independent formulations: the
    // flatMapGroupsWithState stream, the batch lag/sum window
    // (EventAnalytics.sessionize), and the entry/exit report that rolls
    // the identical session definition up by type. Fixture: user 1 has
    // an out-of-order backward extension + a separate later session,
    // user 2 a singleton (the bounce), user 3 a two-event session.
    val b1 = Seq(ev(51, "10:20", 1, "view", 1.0), ev(52, "10:25", 1, "cart", 2.0),
      ev(53, "10:00", 2, "view", 4.0))
    val b2 = Seq(ev(54, "10:10", 1, "view", 0.5),          // backward extension
      ev(55, "12:00", 1, "purchase", 3.0),                 // new session (gap-split)
      ev(56, "11:00", 3, "view", 1.0), ev(57, "11:10", 3, "cart", 2.0))
    val input = MemoryStream[Event]
    val q = EventStream.sessionWindows(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("eq_sess_ee").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(Seq(flush)); q.processAllAvailable(); q.processAllAvailable()
      val streamed = rowSet(spark.table("eq_sess_ee")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("total_value")))

      val batchDf = (b1 ++ b2 :+ flush).toDF()
        .filter(col("user_id") =!= flush.user_id)
      val sessions = graft.ops.EventAnalytics.sessionize(batchDf, gapSec = 1800L)
      val batch = sessions.select(col("user_id"),
        timestamp_micros(col("session_start_us")).as("session_start"),
        timestamp_micros(col("session_end_us")).as("session_end"),
        col("n_events"), col("sum_value").as("total_value"))
      assert(streamed == rowSet(batch) && streamed.size == 4,
        s"stream=$streamed\nbatch=${rowSet(batch)}")

      // entryExit rolls the SAME sessions up by type: total entries ==
      // total exits == closed-session count, bounces == singleton
      // sessions — and the per-type split is pinned by hand
      val ee = graft.ops.EventAnalytics.entryExit(batchDf, gapSec = 1800L)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(ee.values.map(_._1).sum == streamed.size, ee.toString)
      assert(ee.values.map(_._2).sum == streamed.size, ee.toString)
      val streamBounces = spark.table("eq_sess_ee").filter(col("n_events") === 1).count()
      assert(ee.values.map(_._3).sum == streamBounces, ee.toString)
      // sessions: u1 [10:10..10:25] view->cart, u1 [12:00] purchase
      // (bounce), u2 [10:00] view (bounce), u3 [11:00..11:10] view->cart
      assert(ee("view") == ((3L, 1L, 1L)), ee.toString)
      assert(ee("purchase") == ((1L, 1L, 1L)), ee.toString)
      assert(ee("cart") == ((0L, 2L, 0L)), ee.toString)
    } finally q.stop()
  }

  test("lastTouchAttribution: stream with late views equals the batch join + argmax") {
    val views1 = Seq(ev(21, "10:07", 1, "view", 0.0), ev(22, "09:59", 1, "view", 0.0))
    // 10:00 is LATE (the stream saw 10:07 first) and sits exactly at
    // p_ts - horizon — the inclusive boundary both sides must agree on
    val views2 = Seq(ev(23, "10:00", 1, "view", 0.0), ev(24, "10:05", 2, "view", 0.0))
    val purch1 = Seq(ev(31, "10:10", 1, "purchase", 4.0))
    val purch2 = Seq(ev(32, "10:06", 2, "purchase", 7.0))
    val vFlush = ev(98, "23:00", 8, "view", 0.0)
    val pFlush = ev(97, "23:00", 8, "purchase", 0.0)

    val vin = MemoryStream[Event]
    val pin = MemoryStream[Event]
    val q = EventStream.lastTouchAttribution(vin.toDF(), pin.toDF(),
      horizon = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("eq_lt").start()
    try {
      vin.addData(views1); pin.addData(purch1); q.processAllAvailable()
      vin.addData(views2); pin.addData(purch2); q.processAllAvailable()
      vin.addData(Seq(vFlush)); pin.addData(Seq(pFlush))
      q.processAllAvailable(); q.processAllAvailable()
      val streamed = rowSet(spark.table("eq_lt"))

      // batch twin: plain interval join + per-purchase argmax over the
      // same rows (flush pair's window never closes in the stream —
      // excluded from the batch side)
      val v = (views1 ++ views2 :+ vFlush).toDF()
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("view_id"))
      val batch = (purch1 ++ purch2 :+ pFlush).toDF()
        .filter(col("user_id") =!= pFlush.user_id)
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"), col("value"))
        .join(v, col("user_id") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"))
        .groupBy(col("user_id"), col("purchase_id"))
        .agg(max(col("p_ts")).as("p_ts"),
          max(struct(col("v_ts"), col("view_id"))).as("_last"),
          max(col("value")).as("value"))
        .select(col("user_id"), col("purchase_id"), col("p_ts"),
          col("_last.v_ts").as("v_ts"), col("_last.view_id").as("view_id"),
          col("value"))
      assert(streamed == rowSet(batch) && streamed.size == 2,
        s"stream=$streamed\nbatch=${rowSet(batch)}")
      // and the late boundary view really was a candidate: the winner
      // for purchase 31 is 10:07 (not the late 10:00, not the 09:59
      // outside the horizon)
      assert(spark.table("eq_lt").filter(col("purchase_id") === 31)
        .select("view_id").as[Long].head() == 21L)
    } finally q.stop()
  }

  test("decayedCounters: cross-batch day masses equal the batch operator per type") {
    import org.apache.spark.sql.Dataset
    def dev(id: Long, day: String, typ: String, v: Double) =
      Event(id, Timestamp.valueOf(s"2024-03-$day 10:00:00"), 1L, typ, v)
    val b1 = Seq(dev(1, "10", "a", 1.00), dev(2, "10", "a", 2.00), dev(3, "08", "b", 1.00))
    // a gets a LATE older day (step 2 at its ref); b's ref ADVANCES two
    // days, so its buffered mass must re-weight by exactly 2^-2
    val b2 = Seq(dev(4, "08", "a", 4.37), dev(5, "10", "b", 2.51))
    val b3 = Seq(dev(6, "11", "a", 0.50)) // a's ref advances across batch 3

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[String, (Long, Double, Double)]()
    val q = EventStream.decayedCounters(input.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.DecayedReadout], _: Long) =>
        df.collect().foreach(r =>
          got(r.event_type) = ((r.n_events, r.decayed_count, r.decayed_value)))
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()

    val all = b1 ++ b2 ++ b3
    for (typ <- Seq("a", "b")) {
      val batch = graft.ops.EventAnalytics
        .decayedCounts(all.filter(_.event_type == typ).toDF())
        .collect().head
      assert(got(typ) == ((batch.getLong(1), batch.getDouble(2), batch.getDouble(3))),
        s"$typ: stream=${got(typ)} batch=$batch")
    }
    // the re-weighting really engaged: b's day-8 mass sits at 2^-2 of
    // full weight under its day-10 reference
    assert(got("b")._2 == 1.25, got.toString)
  }

  test("newVsReturning: latest per-user day-set state aggregates to the batch split, out-of-order included") {
    import org.apache.spark.sql.Dataset
    def uev(id: Long, day: String, uid: Long) =
      Event(id, Timestamp.valueOf(s"2024-03-$day 10:00:00"), uid, "view", 1.0)
    val b1 = Seq(uev(1, "10", 1L), uev(2, "10", 1L), uev(3, "11", 2L))
    // user 1 gets a LATE earlier day — day 10 must retroactively stop
    // being their "new" day; user 2 simply returns
    val b2 = Seq(uev(4, "09", 1L), uev(5, "12", 2L))

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[Long, EventStream.NvrReadout]()
    val q = EventStream.newVsReturning(input.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.NvrReadout], _: Long) =>
        df.collect().foreach(r => got(r.user_id) = r)
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    // reader-side aggregation of the latest per-user state
    val streamed = got.values.toSeq
      .flatMap(r => r.days.map(d => (d, if (d == r.first_day) 1L else 0L)))
      .groupBy(_._1).toSeq
      .map { case (d, xs) => (d, xs.size.toLong, xs.map(_._2).sum) }
      .map { case (d, active, nw) =>
        (java.time.LocalDate.ofEpochDay(d).toString, active, nw, active - nw) }
      .toSet
    val batch = graft.ops.EventAnalytics.newVsReturning((b1 ++ b2).toDF())
      .selectExpr("cast(day as string)", "n_active", "n_new", "n_returning")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    // the retroactive flip really happened: user 1's first day is now 09
    assert(got(1L).first_day == java.time.LocalDate.parse("2024-03-09").toEpochDay)
  }

  test("funnelProgress: late earlier-step events re-derive the whole chain; duplicates are idempotent") {
    import org.apache.spark.sql.Dataset
    val steps = Seq("view", "click", "purchase")
    // user 1: click/purchase arrive FIRST, the view arrives LATE (but
    // inside the watermark) — the chain must retract from 0 attained
    // steps to the full 3 (a fire-and-forget flag could never do this);
    // the duplicate click must not disturb the first-time. user 2:
    // view then purchase with no click — stuck at 1. user 3: steps in
    // the wrong ORDER (purchase before view/click) — purchase can't
    // count, chain stops at click.
    val b1 = Seq(ev(11, "10:30", 1, "click", 1.0), ev(12, "10:40", 1, "purchase", 9.0),
      ev(21, "10:00", 2, "view", 1.0), ev(31, "10:05", 3, "purchase", 5.0))
    val b2 = Seq(ev(13, "10:20", 1, "view", 1.0), ev(11, "10:30", 1, "click", 1.0),
      ev(22, "10:05", 2, "purchase", 7.0),
      ev(32, "10:10", 3, "view", 1.0), ev(33, "10:15", 3, "click", 1.0))

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[Long, EventStream.FunnelProgress]()
    val q = EventStream.funnelProgress(input.toDS(), steps)
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.FunnelProgress], _: Long) =>
        df.collect().foreach(r => got(r.user_id) = r)
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    // independent local reference: the chain definition over the full
    // per-user history
    def refChain(evs: Seq[Event]): List[Long] = {
      val chain = List.newBuilder[Long]
      var t = Long.MinValue
      var open = true
      steps.foreach { s =>
        if (open) {
          val cand = evs.filter(e => e.event_type == s && e.ts.getTime > t)
          if (cand.isEmpty) open = false
          else { val ti = cand.map(_.ts.getTime).min; chain += ti; t = ti }
        }
      }
      chain.result()
    }
    val all = b1 ++ b2
    for (u <- Seq(1L, 2L, 3L)) {
      val expected = refChain(all.filter(_.user_id == u))
      val r = got(u)
      assert(r.step_times == expected && r.n_steps == expected.length,
        s"user $u: stream=${r.step_times} ref=$expected")
    }
    // the retraction really happened: user 1 attained all 3 steps with
    // the late view's time first
    assert(got(1L).n_steps == 3 && got(1L).step_times.head == ts("10:20").getTime)
    assert(got(2L).n_steps == 1 && got(3L).n_steps == 2)
  }

  test("funnelProgress: the watermark freezes the sealed prefix and prunes candidate buffers") {
    import org.apache.spark.sql.Dataset
    val steps = Seq("view", "click", "purchase")
    // b1 establishes view+click; the flush advances the watermark past
    // them (sealing both); b3 adds the purchase AFTER the freeze —
    // the chain must extend from the sealed prefix, not lose it
    val b1 = Seq(ev(41, "08:00", 4, "view", 1.0), ev(42, "08:10", 4, "click", 1.0))
    val b3 = Seq(ev(43, "22:30", 4, "purchase", 3.0))

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[Long, EventStream.FunnelProgress]()
    val q = EventStream.funnelProgress(input.toDS(), steps)
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.FunnelProgress], _: Long) =>
        df.collect().foreach(r => got(r.user_id) = r)
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(Seq(flush)); q.processAllAvailable() // wm → 22:00
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()

    assert(got(4L).n_steps == 3 &&
      got(4L).step_times == List(ts("08:00").getTime, ts("08:10").getTime,
        ts("22:30").getTime), got(4L).toString)
  }

  test("quantileSketches: exact regime (n < k) is byte-identical to the batch build AND the persisted union") {
    import graft.sketch.QDigest
    import org.apache.spark.sql.Dataset
    // three out-of-order batches, two types; all values < 2^bits cents
    val b1 = Seq(ev(1, "10:00", 1, "view", 3.00), ev(2, "10:05", 2, "view", 7.50),
      ev(3, "10:10", 1, "purchase", 40.00))
    val b2 = Seq(ev(4, "09:00", 3, "view", 1.25), ev(5, "09:30", 1, "purchase", 12.34))
    val b3 = Seq(ev(6, "11:00", 2, "view", 7.50), ev(7, "11:10", 2, "view", 0.01))
    val (bits, k) = (14, 512) // n << k: every compress is the identity

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[String, EventStream.QuantileReadout]()
    val q = EventStream.quantileSketches(input.toDS(), bits = bits, k = k)
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.QuantileReadout], _: Long) =>
        df.collect().foreach(r => got(r.event_type) = r)
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()

    val all = b1 ++ b2 ++ b3
    for (typ <- Seq("view", "purchase")) {
      val hist = all.filter(_.event_type == typ).toDF()
        .selectExpr("cast(round(value * 100) as long) as cents")
      // batch twin: one build over the full history
      val built = QDigest.build(hist, "cents", bits = bits, k = k)
      val r = got(typ)
      assert(r.n == built.n && r.nodes == built.nodes,
        s"$typ: stream=(${r.n}, ${r.nodes}) build=(${built.n}, ${built.nodes})")
      assert((r.p50, r.p95, r.p99) ==
        ((built.quantile(0.50), built.quantile(0.95), built.quantile(0.99))))
      // persisted-union lifecycle: per-batch partials written as rows,
      // fromDf-merged — must also be byte-identical
      val partials = Seq(b1, b2, b3).map(_.filter(_.event_type == typ))
        .filter(_.nonEmpty)
        .map(b => QDigest.toDf(spark, QDigest.build(
          b.toDF().selectExpr("cast(round(value * 100) as long) as cents"),
          "cents", bits = bits, k = k)))
        .reduce(_ unionAll _)
      val unioned = QDigest.fromDf(partials)
      assert(r.nodes == unioned.nodes && r.n == unioned.n,
        s"$typ: stream=${r.nodes} union=${unioned.nodes}")
    }
  }

  test("quantileSketches: compressed regime keeps n exact, state bounded, and ranks within bits*n/k") {
    import org.apache.spark.sql.Dataset
    // k=64 with 600 mostly-unit leaf masses forces real compression
    // across batches (threshold floor(600/64)=9 folds the 1-count
    // leaves) while keeping the rank bound bits*n/k = 112 << n = 600 —
    // a falsifiable assertion, not a vacuous one; squares mod 4000
    // cents make the mass uneven
    val vals = (1 to 600).map(i => ((i * i) % 4000) / 100.0)
    val batches = vals.grouped(200).zipWithIndex.map { case (vs, bi) =>
      vs.zipWithIndex.map { case (v, i) =>
        ev(bi * 1000L + i, f"${10 + bi}%02d:${i % 60}%02d", i % 7, "view", v) }
    }.toSeq
    val (bits, k) = (12, 64)

    val input = MemoryStream[Event]
    var last: EventStream.QuantileReadout = null
    val q = EventStream.quantileSketches(input.toDS(), bits = bits, k = k)
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.QuantileReadout], _: Long) =>
        df.collect().foreach(r => last = r)
      }.start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    assert(last.n == 600L) // merge is exact count addition
    assert(last.nodes.size <= 3 * k, s"state must stay O(k): ${last.nodes.size}")
    // rank-error bound of the repeated merge+compress lifecycle:
    // | trueRank(reported) - target | <= bits * n / k
    val sorted = vals.map(v => math.round(v * 100)).sorted
    val bound = bits.toLong * last.n / k
    for ((p, rep) <- Seq(0.50 -> last.p50, 0.95 -> last.p95, 0.99 -> last.p99)) {
      val target = math.ceil(p * last.n).toLong
      val lo = sorted.count(_ < rep).toLong  // min possible rank of rep
      val hi = sorted.count(_ <= rep).toLong // max possible rank of rep
      val err = if (target < lo) lo - target else if (target > hi) target - hi else 0L
      assert(err <= bound, s"q=$p reported=$rep trueRank=[$lo,$hi] target=$target err=$err bound=$bound")
    }
  }

  test("hllCounters: drained stream equals the batch HLL exactly; register merge is idempotent") {
    import org.apache.spark.sql.Dataset
    def uev(id: Long, uid: Long, typ: String) =
      Event(id, Timestamp.valueOf("2024-03-10 10:00:00"), uid, typ, 1.0)
    // enough distinct keys to exercise many buckets; two types
    val b1 = (1L to 400L).map(u => uev(u, u, "a")) :+ uev(9001L, 7L, "b")
    val b2 = (401L to 900L).map(u => uev(1000 + u, u, "a")) ++
      (1L to 50L).map(u => uev(20000 + u, u * 13, "b"))
    // batch 3 is ALL duplicates of earlier keys — the readout must not move
    val b3 = (1L to 100L).map(u => uev(30000 + u, u, "a"))

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[String, (Long, Double)]()
    var afterB2a: (Long, Double) = null
    var batchNo = 0
    val q = EventStream.hllCounters(input.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.HllReadout], _: Long) =>
        batchNo += 1
        df.collect().foreach { r =>
          got(r.event_type) = ((r.n_buckets_hit, r.hll_distinct))
          if (batchNo == 2 && r.event_type == "a")
            afterB2a = ((r.n_buckets_hit, r.hll_distinct))
        }
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()

    // duplicate-only batch left type a unchanged (idempotent register max)
    assert(got("a") == afterB2a, s"dup batch moved the sketch: ${got("a")} vs $afterB2a")

    val all = (b1 ++ b2 ++ b3).toDF()
    val batch = graft.ops.Hll.hllDistinct(all, Seq("event_type"), "user_id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    for (typ <- Seq("a", "b"))
      assert(got(typ) == batch(typ), s"$typ: stream=${got(typ)} batch=${batch(typ)}")
    // sanity: the estimate is in the raw-regime ballpark of truth (900 for a)
    assert(math.abs(got("a")._2 - 900.0) / 900.0 < 0.25, got.toString)
  }

  test("exactDistinct: drained stream equals batch COUNT(DISTINCT); duplicates and word boundaries exact") {
    import org.apache.spark.sql.Dataset
    def uev(id: Long, uid: Long, typ: String) =
      Event(id, Timestamp.valueOf("2024-03-10 10:00:00"), uid, typ, 1.0)
    // ids straddle 32-bit word boundaries (31/32/63/64) and repeat across batches
    val b1 = Seq(1L, 31L, 32L, 63L).zipWithIndex.map { case (u, i) => uev(i, u, "a") }
    val b2 = Seq(64L, 31L, 1000L).zipWithIndex.map { case (u, i) => uev(100 + i, u, "a") } :+
      uev(200L, 7L, "b")
    val b3 = Seq(1L, 32L, 64L).zipWithIndex.map { case (u, i) => uev(300 + i, u, "a") } // all dups

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[String, Long]()
    var afterB2a = -1L
    var batchNo = 0
    val q = EventStream.exactDistinct(input.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.DistinctReadout], _: Long) =>
        batchNo += 1
        df.collect().foreach { r =>
          got(r.event_type) = r.n_distinct
          if (batchNo == 2 && r.event_type == "a") afterB2a = r.n_distinct
        }
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()

    assert(got("a") == afterB2a, "duplicate-only batch moved the exact count")
    val all = (b1 ++ b2 ++ b3).toDF()
    val batch = all.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.toMap == batch, s"stream=$got batch=$batch")
    assert(got("a") == 6L && got("b") == 1L)
  }

  test("bootstrapCounters: drained per-rep sums derive the batch Poisson-bootstrap CI bit-exactly") {
    import org.apache.spark.sql.Dataset
    def uev(id: Long, v: Double) =
      Event(id, Timestamp.valueOf("2024-03-10 10:00:00"), id % 7, "purchase", v)
    val b1 = (1L to 30L).map(i => uev(i, (i * 13 % 97 + 1).toDouble / 4))
    val b2 = (31L to 55L).map(i => uev(i, (i * 29 % 83 + 2).toDouble / 8))
    val b3 = (56L to 70L).map(i => uev(i, (i * 7 % 61 + 1).toDouble))
    val B = 16

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[Int, (Long, Long)]()
    val q = EventStream.bootstrapCounters(input.toDS(), b = B)
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.BootRepReadout], _: Long) =>
        df.collect().foreach(r => got(r.rep) = ((r.m, r.s)))
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == B)

    // batch CI over the same rows, reshaped as the orders the batch op reads
    val all = b1 ++ b2 ++ b3
    val orders = all.toDF()
      .select(col("event_id").as("o_orderkey"), col("value").as("o_totalprice"))
    val batch = graft.ops.Relational.bootstrapCiPoisson(orders, b = B).collect()(0)

    // derive the CI from the drained stream state with the batch's exact
    // rank convention — must reproduce the batch row bit-for-bit
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val means = got.toSeq.collect { case (rep, (m, s)) if m > 0 =>
      (s.toDouble / m.toDouble / 100.0, rep)
    }.sorted
    val loRank = math.ceil(0.025 * B).toInt.max(1)
    val hiRank = math.ceil(0.975 * B).toInt
    assert(batch.getDouble(3) == round6(means(loRank - 1)._1), "ci_lo")
    assert(batch.getDouble(4) == round6(means(hiRank - 1)._1), "ci_hi")
    // and the stream's pooled mass reproduces the point estimate inputs
    val cents = all.map(e => math.round(e.value * 100))
    assert(batch.getLong(0) == all.size.toLong)
    assert(batch.getDouble(2) == round6(cents.sum.toDouble / all.size / 100.0))
    // duplicate-free pure addition: re-deriving per-rep sums locally
    // matches (independent mirror of the two-uniforms-per-digest draw)
    val thresholds = graft.ops.Relational.PoissonCdf52
    def draws(key: Long): Seq[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until (B + 1) / 2).flatMap { blk =>
        val hex = md.digest(s"${key}_$blk".getBytes("UTF-8"))
          .map(x => f"$x%02x").mkString
        Seq(java.lang.Long.parseLong(hex.substring(0, 13), 16),
          java.lang.Long.parseLong(hex.substring(16, 29), 16))
      }.take(B).map { u =>
        thresholds.indexWhere(u < _) match { case -1 => 8L; case i => i.toLong }
      }
    }
    val local = (0 until B).map { rep =>
      val ks = all.map { e =>
        val k = draws(e.event_id)(rep)
        (k, k * math.round(e.value * 100))
      }
      rep -> ((ks.map(_._1).sum, ks.map(_._2).sum))
    }.toMap
    assert(got.toMap == local, "stream state != local recomputation")
  }

  test("cmsCounters: drained stream sketch is byte-identical to the one-batch df.stat build") {
    import org.apache.spark.sql.Dataset
    def uev(id: Long, uid: Long, typ: String) =
      Event(id, Timestamp.valueOf("2024-03-10 10:00:00"), uid, typ, 1.0)
    val b1 = (1L to 300L).map(u => uev(u, u % 37, "a"))
    val b2 = (301L to 500L).map(u => uev(u, u % 11, "a")) :+ uev(9001L, 5L, "b")
    val b3 = (501L to 600L).map(u => uev(u, u % 37, "a"))

    val input = MemoryStream[Event]
    val got = scala.collection.mutable.Map[String, (Long, Array[Byte])]()
    val q = EventStream.cmsCounters(input.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (df: Dataset[EventStream.CmsReadout], _: Long) =>
        df.collect().foreach(r => got(r.event_type) = ((r.n_items, r.sketch)))
      }.start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
    } finally q.stop()

    val all = (b1 ++ b2 ++ b3)
    for (typ <- Seq("a", "b")) {
      val rows = all.filter(_.event_type == typ)
      val batch = rows.toDF().stat.countMinSketch(col("user_id"), 4, 1024, 42)
      val bos = new java.io.ByteArrayOutputStream(); batch.writeTo(bos)
      val (n, bytes) = got(typ)
      assert(n == rows.size.toLong, s"$typ n_items")
      assert(java.util.Arrays.equals(bytes, bos.toByteArray),
        s"$typ: stream sketch != batch sketch bytes")
      // never underestimates
      val sk = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      val truth = rows.groupBy(_.user_id).view.mapValues(_.size.toLong)
      truth.foreach { case (uid, c) =>
        assert(sk.estimateCount(uid) >= c, s"$typ uid=$uid underestimated") }
    }
  }
}
