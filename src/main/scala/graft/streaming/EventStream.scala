package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: the batch operators re-expressed as
  * streaming transforms (readStream → transform → writeStream).
  * The reference is batch-per-month re-runs (configs/etl_config.json:28);
  * this is the streaming upgrade path for the same event shape.
  */
object EventStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_events: Long,
                                  total_value: Double, closed: Boolean)

  /** Tumbling-window counts with a watermark: late events beyond 1 hour
    * are dropped; state is bounded. */
  def windowedCounts(events: DataFrame,
                     window_dur: String = "1 hour",
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_dur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming dedup: drop repeated event_ids within the watermark
    * horizon — the streaming form of the pipeline's C13 stage; state is
    * bounded by the watermark. */
  def streamingDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  final case class SessionState(start: Long, last: Long, n: Long, value: Double)

  /** flatMapGroupsWithState state for [[sessionWindows]]: the user's
    * gap-disjoint in-flight sessions (every pair separated by more than
    * the gap), sorted by start. More than one session is live exactly
    * when out-of-order arrival has opened an earlier session that the
    * watermark has not yet sealed — so the list length is bounded by
    * the watermark delay / gap ratio, and state stays small. */
  final case class SessionBuffer(sessions: List[SessionState])

  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                                 session_end: java.sql.Timestamp, n_events: Long,
                                 total_value: Double)

  /** Gap-based session windows via flatMapGroupsWithState (append mode,
    * event-time timeout), with the SAME semantics as the built-in
    * `session_window` aggregation: two events share a session iff they
    * are chained by steps of at most `gap`. Implemented as an
    * order-independent interval merge — each incoming event is a
    * singleton [ts, ts] interval, folded with the buffered sessions by
    * the usual sort-and-merge (adjacent intervals coalesce when
    * separated by ≤ gap) — so out-of-order and cross-micro-batch
    * arrival cannot change the result: an event that lands between two
    * buffered sessions and bridges them merges them into one.
    *
    * A session emits exactly one row, and only once it is provably
    * final: when the watermark passes last_event + gap (no event that
    * could extend or bridge it can still be admitted). Sessions are
    * NEVER closed at micro-batch boundaries — a gap-exceeding later
    * event leaves the earlier session buffered, because a not-yet-late
    * out-of-order event could still extend it. The event-time timeout
    * is registered at the earliest pending last_event + gap, so every
    * buffered session eventually seals even if the group goes quiet.
    * This is the arbitrary-state upgrade of the built-in session_window
    * aggregation (w4): use it when the per-session result needs logic
    * an agg can't express. */
  def sessionWindows(events: Dataset[Event],
                     gap: java.time.Duration = java.time.Duration.ofMinutes(30),
                     watermark: String = "1 hour"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMillis = gap.toMillis
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuffer, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SessionBuffer]) =>
          def close(s: SessionState): ClosedSession =
            ClosedSession(uid, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.value)
          val prior = state.getOption.map(_.sessions).getOrElse(Nil)
          val merged =
            if (state.hasTimedOut) prior
            else {
              val all = (prior.iterator ++ rows.map(e =>
                SessionState(e.ts.getTime, e.ts.getTime, 1L, e.value)))
                .toArray.sortBy(s => (s.start, s.last))
              val out = List.newBuilder[SessionState]
              var cur: SessionState = null
              all.foreach { s =>
                cur =
                  if (cur == null) s
                  else if (s.start - cur.last <= gapMillis)
                    SessionState(cur.start, math.max(cur.last, s.last),
                      cur.n + s.n, cur.value + s.value)
                  else { out += cur; s }
              }
              if (cur != null) out += cur
              out.result()
            }
          // Seal strictly: an event AT ts == watermark is still admitted
          // by the watermark filter, so last + gap == watermark could in
          // principle still be extended.
          val wm = state.getCurrentWatermarkMs()
          val (sealed_, live) = merged.partition(_.last + gapMillis < wm)
          if (live.isEmpty) state.remove()
          else {
            state.update(SessionBuffer(live))
            // must be > current watermark; the max() guards the fire-at-
            // equality edge so re-registration never throws
            state.setTimeoutTimestamp(
              math.max(live.map(_.last).min + gapMillis, wm + 1L))
          }
          sealed_.iterator.map(close)
      }
  }

  /** Stream-stream interval join: attribute each purchase to EVERY
    * preceding view-like event of the same user within `horizon` —
    * multi-touch attribution, one output row per (purchase, view) pair.
    * For single-row last-touch semantics use [[lastTouchAttribution]],
    * which chains a windowed reduction onto this join. Both sides carry
    * watermarks and the join condition bounds event time on both ends —
    * the two constraints Structured Streaming needs to evict state, so
    * neither side's buffer grows without bound. Inner join: a purchase
    * with no preceding view inside the horizon drops out (attribution
    * fails, not the pipeline). State per key is bounded by
    * watermark + horizon.
    *
    * At scale the join key (user_id) shuffles both streams once;
    * per-user event rates bound the state — the same discipline as the
    * batch as-of join (AsOf.scala), of which this is the streaming
    * twin restricted to the watermark horizon. */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      horizon: String = "1 hour",
                      watermark: String = "1 hour"): DataFrame = {
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("p_ts"), col("v_ts"), col("value"))
  }

  /** Last-touch attribution: exactly ONE row per attributed purchase,
    * carrying the MOST RECENT in-horizon view (ties on v_ts broken by
    * the larger view_id). Chains a time-windowed aggregation onto the
    * multi-touch [[attributionJoin]] — Structured Streaming permits a
    * stateful agg after a stream-stream join in append mode when the
    * grouping includes an event-time window; every join row for one
    * purchase shares its p_ts, so a tumbling window on p_ts keeps the
    * purchase's candidates in a single group, which finalizes (and
    * emits once) when the watermark passes the window end.
    *
    * At scale: the join shuffles on user_id, the reduction re-shuffles
    * only the already-horizon-filtered (purchase, view) pairs on the
    * purchase key — output-sized, not input-sized. */
  def lastTouchAttribution(views: DataFrame, purchases: DataFrame,
                           horizon: String = "1 hour",
                           watermark: String = "1 hour"): DataFrame =
    attributionJoin(views, purchases, horizon, watermark)
      .groupBy(window(col("p_ts"), horizon), col("user_id"),
        col("purchase_id"))
      // p_ts/value are constant within a group (they belong to the one
      // purchase) but can't sit in the groupBy: the raw p_ts still
      // carries the event-time tag and a stateful op allows only one
      .agg(max(col("p_ts")).as("p_ts"),
        max(struct(col("v_ts"), col("view_id"))).as("_last"),
        max(col("value")).as("value"))
      .select(col("user_id"), col("purchase_id"), col("p_ts"),
        col("_last.v_ts").as("v_ts"), col("_last.view_id").as("view_id"),
        col("value"))

  /** Custom state: per-user session aggregation with a processing-time
    * timeout (mapGroupsWithState — the arbitrary-state operator). */
  def sessionize(events: Dataset[Event]): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionSummary, SessionSummary](
        GroupStateTimeout.ProcessingTimeTimeout) {
        case (uid, rows, state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val s = state.get.copy(closed = true)
            state.remove()
            s
          } else {
            val prev = state.getOption.getOrElse(SessionSummary(uid, 0L, 0.0, closed = false))
            var n = prev.n_events
            var v = prev.total_value
            rows.foreach { e => n += 1; v += e.value }
            val next = prev.copy(n_events = n, total_value = v)
            state.update(next)
            state.setTimeoutDuration("30 minutes")
            next
          }
      }
  }

  /** [[decayedCounters]] state: per event type, the exact per-day
    * masses still inside the horizon — `day` is the UTC epoch day,
    * `n`/`cents` the day's event count and integer-cent value sum.
    * Bounded at `horizon`+1 entries per type. */
  final case class DayMass(day: Long, n: Long, cents: Long)
  final case class DecayState(days: List[DayMass])

  final case class DecayedReadout(event_type: String, n_events: Long,
                                  decayed_count: Double, decayed_value: Double)

  /** Streaming twin of [[graft.ops.EventAnalytics.decayedCounts]] — the
    * incrementally-maintained decayed counter the batch scaladoc points
    * at. State per event type is the day-mass table (exact integers,
    * bounded at horizon+1 entries); each micro-batch folds its events
    * in, advances the type's reference day to its max observed day,
    * prunes days beyond the horizon, and emits the refreshed readout
    * (update mode: one row per type touched in the batch).
    *
    * EXACT cross-batch semantics, proven in
    * StreamBatchEquivalenceSpec: for every type, the emitted readout
    * equals the batch operator run over that type's full event history
    * — out-of-order days re-weight correctly because mass is stored
    * PER DAY (an integer halving of a running total would round; the
    * day table never does). The one deliberate deviation from the
    * batch form: the reference day is per type (a streaming group
    * cannot see the global max without a second stateful stage), so
    * equivalence is against the batch op applied per type.
    *
    * Arithmetic mirrors the batch/oracle path bit-for-bit: cents =
    * BigDecimal.valueOf(value·100) HALF_UP (Spark's own double Round),
    * weights 2^(h−step) as exact BigInt, one correctly-rounded
    * divide by the exact double 2^h, 6-dp HALF_UP rounds. */
  def decayedCounters(events: Dataset[Event],
                      horizon: Int = 40): Dataset[DecayedReadout] = {
    require(horizon >= 1 && horizon <= 60,
      s"decayedCounters: horizon must be in [1, 60], got $horizon")
    val spark = events.sparkSession
    import spark.implicits._
    import java.math.{BigDecimal => JBD, RoundingMode}
    def round6(x: Double): Double =
      JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue
    val denom = math.pow(2.0, horizon) // exact double
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[DecayState, DecayedReadout](
        GroupStateTimeout.NoTimeout) {
        case (typ, rows, state: GroupState[DecayState]) =>
          val prev: Map[Long, (Long, Long)] = state.getOption
            .map(_.days.map(d => d.day -> ((d.n, d.cents))).toMap)
            .getOrElse(Map.empty)
          val merged = rows.foldLeft(prev) { (m, e) =>
            val day = Math.floorDiv(e.ts.getTime, 86400000L) // UTC epoch day
            val cents = JBD.valueOf(e.value * 100)
              .setScale(0, RoundingMode.HALF_UP).longValueExact()
            val (n, c) = m.getOrElse(day, (0L, 0L))
            m.updated(day, (n + 1L, c + cents))
          }
          val ref = merged.keysIterator.max
          val pruned = merged.filter { case (d, _) => ref - d <= horizon }
          state.update(DecayState(pruned.iterator
            .map { case (d, (n, c)) => DayMass(d, n, c) }.toList.sortBy(_.day)))
          var nEvents = 0L
          var wn = BigInt(0); var wv = BigInt(0)
          pruned.foreach { case (d, (n, c)) =>
            val w = BigInt(1) << (horizon - (ref - d).toInt)
            nEvents += n; wn += w * n; wv += w * c
          }
          DecayedReadout(typ, nEvents,
            round6(wn.doubleValue / denom),
            round6(wv.doubleValue / denom / 100.0))
      }
  }

  /** [[quantileSketches]] state/readout: the per-type running q-digest
    * (heap-numbered node→count map, [[graft.sketch.QDigest.Sketch]]
    * layout) plus the three headline quantiles read off it. */
  final case class QdState(n: Long, nodes: Map[Long, Long])
  final case class QuantileReadout(event_type: String, n: Long,
                                   p50: Long, p95: Long, p99: Long,
                                   nodes: Map[Long, Long])

  /** Streaming quantile readout — the q-digest face of the streaming
    * tier, composing the persisted per-day sketch lifecycle
    * ([[graft.sketch.QDigest.toDf]]/`fromDf`) with the
    * [[decayedCounters]] state pattern: per event type, the state is
    * ONE compressed q-digest over every value seen so far; each
    * micro-batch folds its values in as a locally-compressed partial
    * (exactly a persisted "day" sketch), merges by exact count
    * addition, recompresses at the new global threshold, and emits the
    * refreshed readout (update mode — latest row per type wins, the
    * [[newVsReturning]] contract).
    *
    * Values enter as integer cents (BigDecimal HALF_UP, bit-identical
    * to the batch/oracle rounding idiom in [[decayedCounters]]), so the
    * sketch domain is the same [0, 2^bits) integer universe as
    * [[graft.sketch.QDigest.build]].
    *
    * Equivalence contract (proven in StreamBatchEquivalenceSpec):
    * `n` is EXACT always (merge is count addition). While n < k the
    * compression threshold floor(n/k) is 0, every compress is the
    * identity, and the emitted node map is the exact leaf histogram —
    * BYTE-IDENTICAL to `QDigest.build` over the full history and to
    * `QDigest.fromDf` over the per-batch partials (the persisted-union
    * property, preserved across the streaming lifecycle). Once
    * compression engages, the emitted sketch obeys the q-digest
    * repeated-merge rank bound ≤ bits·n/k (Shrivastava et al. SenSys
    * '04 — folding always happens at the CURRENT threshold, and
    * thresholds are monotone in n), and state stays ≤ ~3k nodes per
    * type regardless of stream length.
    *
    * Scale shape: state is O(k) longs per event type — the mergeable-
    * sketch story 100 TB streams need: no raw values retained, no
    * unbounded growth, and the per-batch partial is itself a valid
    * sketch a foreachBatch writer could persist for the batch-side
    * union lifecycle. */
  def quantileSketches(events: Dataset[Event], bits: Int = 20,
                       k: Int = 512): Dataset[QuantileReadout] = {
    require(bits >= 1 && bits <= 32, s"quantileSketches: bits must be in [1,32], got $bits")
    require(k >= 8, s"quantileSketches: k must be >= 8, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    import graft.sketch.QDigest
    import java.math.{BigDecimal => JBD, RoundingMode}
    val lim = 1L << bits
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[QdState, QuantileReadout](GroupStateTimeout.NoTimeout) {
        case (typ, rows, state: GroupState[QdState]) =>
          val leaf = scala.collection.mutable.Map.empty[Long, Long]
          var nB = 0L
          rows.foreach { e =>
            val cents = JBD.valueOf(e.value * 100)
              .setScale(0, RoundingMode.HALF_UP).longValueExact()
            require(cents >= 0 && cents < lim,
              s"quantileSketches: value $cents cents outside [0, 2^$bits)")
            val id = (1L << bits) + cents
            leaf.update(id, leaf.getOrElse(id, 0L) + 1L)
            nB += 1L
          }
          val partial = QDigest.Sketch(bits, k, nB, leaf.toMap).compress
          val prev = state.getOption
            .map(s => QDigest.Sketch(bits, k, s.n, s.nodes))
            .getOrElse(QDigest.empty(bits, k))
          val sk = prev.merge(partial).compress
          state.update(QdState(sk.n, sk.nodes))
          QuantileReadout(typ, sk.n,
            sk.quantile(0.50), sk.quantile(0.95), sk.quantile(0.99), sk.nodes)
      }
  }

  /** [[funnelProgress]] state: `frozen` — the chain prefix the
    * watermark has sealed (step i's first-time, provably final);
    * `pending` — per still-open step index, the sorted distinct event
    * times that could yet enter the chain (all > max(frozen.last,
    * watermark) after pruning, so the state is bounded by the
    * watermark horizon's event count, never the user's history). */
  final case class FunnelChainState(frozen: List[Long],
                                    pending: Map[Int, List[Long]])
  final case class FunnelProgress(user_id: Long, n_steps: Int,
                                  step_times: List[Long])

  /** Streaming twin of [[graft.ops.EventAnalytics.funnel]] — per-user
    * ordered-step funnel progress maintained incrementally with EXACT
    * late-data semantics inside the watermark: t₁ = first step-1 time,
    * tᵢ = first step-i time strictly after tᵢ₋₁, recomputed per batch
    * from the buffered candidate times, so an out-of-order earlier
    * step-1 event re-derives the whole downstream chain (a
    * fire-and-forget "reached step i" flag could never retract — the
    * same reasoning as [[newVsReturning]]'s day-set state).
    *
    * The watermark is what BOUNDS the state: a chain value tᵢ with
    * every earlier step sealed and tᵢ ≤ watermark is FINAL (any event
    * that could lower it would carry ts < tᵢ ≤ watermark — already
    * inadmissible), so it freezes out of the candidate buffers; and a
    * candidate time ≤ watermark for a still-open step is either the
    * next chain value (frozen on this very batch) or unreachable
    * (chain values above it must exceed the watermark, which future
    * events can't undercut), so buffers prune to times >
    * max(frozen.last, watermark). State per user = sealed prefix +
    * horizon-bounded buffers. Pruning happens on the group's next
    * arrival (mapGroupsWithState; no timer needed for correctness —
    * the chain itself is exact at every emission).
    *
    * Update mode: each batch that touches a user emits their CURRENT
    * (n_steps, step_times); a reader's latest-row-per-user view
    * aggregates to exactly the batch funnel at any point —
    * StreamBatchEquivalenceSpec pins it against an independent local
    * chain reference under out-of-order and duplicate delivery. */
  def funnelProgress(events: Dataset[Event], steps: Seq[String],
                     watermark: String = "1 hour"): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnelProgress: steps must be non-empty")
    require(steps.distinct.size == steps.size, "funnelProgress: steps must be distinct")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx: Map[String, Int] = steps.zipWithIndex.toMap
    val k = steps.size
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelChainState, FunnelProgress](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[FunnelChainState]) =>
          val prev = state.getOption.getOrElse(FunnelChainState(Nil, Map.empty))
          val f0 = prev.frozen.length
          val floor = prev.frozen.lastOption.getOrElse(Long.MinValue)
          // fold admissible new candidates into the per-step buffers
          val pending = rows.foldLeft(prev.pending) { (m, e) =>
            stepIdx.get(e.event_type) match {
              case Some(i) if i >= f0 && e.ts.getTime > floor =>
                val ts = e.ts.getTime
                val l = m.getOrElse(i, Nil)
                if (l.contains(ts)) m
                else m.updated(i, (ts :: l).sorted)
              case _ => m
            }
          }
          // recompute the open chain suffix from the buffers
          var t = floor
          val suffix = List.newBuilder[Long]
          var i = f0
          var open = true
          while (open && i < k) {
            pending.get(i).flatMap(_.find(_ > t)) match {
              case Some(ti) => suffix += ti; t = ti; i += 1
              case None => open = false
            }
          }
          val chain = prev.frozen ++ suffix.result()
          // seal the prefix the watermark has made final, prune buffers
          val wm = state.getCurrentWatermarkMs()
          val nFrozen = {
            var n = f0
            while (n < chain.length && chain(n) <= wm) n += 1
            n
          }
          val frozen = chain.take(nFrozen)
          val keepAbove = math.max(frozen.lastOption.getOrElse(Long.MinValue), wm)
          val pruned = pending.collect {
            case (si, l) if si >= nFrozen =>
              si -> l.filter(_ > keepAbove)
          }.filter(_._2.nonEmpty)
          state.update(FunnelChainState(frozen, pruned))
          FunnelProgress(uid, chain.length, chain)
      }
  }

  final case class NvrState(days: List[Long])
  final case class NvrReadout(user_id: Long, first_day: Long, days: List[Long])

  /** Continuously-maintained per-user active-day state — the streaming
    * twin of [[graft.ops.EventAnalytics.newVsReturning]]: each update
    * emits the user's CURRENT (first day, sorted active-day set), so a
    * reader's latest-row-per-user view aggregates to exactly the batch
    * new-vs-returning split at any point (the same latest-state-wins
    * contract as [[decayedCounters]]).
    *
    * Out-of-order robustness is the reason the state is the full day
    * SET, not a first-day scalar: a late batch carrying an EARLIER day
    * retroactively flips which day was "new" for that user, and only
    * the set re-derives that correctly — a fired-and-forgotten
    * is_new flag could never be retracted. State is bounded by the
    * day DOMAIN per user (one long per active day, the
    * [[graft.ops.EventAnalytics.newVsReturning]] collect_set bound),
    * never by the event count. Days are UTC epoch days
    * (floorDiv(ts, 86400000) — the batch op's to_date under the
    * session's UTC timezone). */
  def newVsReturning(events: Dataset[Event]): Dataset[NvrReadout] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[NvrState, NvrReadout](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[NvrState]) =>
          val prev = state.getOption.map(_.days.toSet).getOrElse(Set.empty[Long])
          val merged = rows.foldLeft(prev) { (s, e) =>
            s + Math.floorDiv(e.ts.getTime, 86400000L)
          }
          val sorted = merged.toList.sorted
          state.update(NvrState(sorted))
          NvrReadout(uid, sorted.head, sorted)
      }
  }

  /** [[exactDistinct]] state: 32-bit occupancy words keyed by word
    * index — exact, mergeable by OR, bounded by the KEY DOMAIN
    * (⌈|ids|/32⌉ ints per type). That domain bound is the contract that
    * separates it from [[hllCounters]]' constant 256 B: exact when the
    * key universe is bounded (user ids), sketch when it is not. */
  final case class BitmapState(words: Map[Long, Int])
  final case class DistinctReadout(event_type: String, n_distinct: Long)

  /** Streaming EXACT distinct-user counts per event type — the
    * streaming twin of `COUNT(DISTINCT user_id)` (and of
    * [[graft.ops.Relational]]'s bitmap-word rollup): per-type occupancy
    * bitmaps OR-accumulate across micro-batches, so late, duplicate and
    * out-of-order events are no-ops by construction and a drained
    * stream's count EQUALS the batch count-distinct on the same rows
    * (spec-pinned). State grows with the observed id domain, never with
    * event volume — the explicit trade against [[hllCounters]]. */
  def exactDistinct(events: Dataset[Event]): Dataset[DistinctReadout] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[BitmapState, DistinctReadout](GroupStateTimeout.NoTimeout) {
        case (typ, rows, state: GroupState[BitmapState]) =>
          var words = state.getOption.map(_.words).getOrElse(Map.empty[Long, Int])
          rows.foreach { e =>
            val w = Math.floorDiv(e.user_id, 32L)
            val bit = 1 << Math.floorMod(e.user_id, 32L).toInt
            words = words.updated(w, words.getOrElse(w, 0) | bit)
          }
          state.update(BitmapState(words))
          DistinctReadout(typ,
            words.valuesIterator.map(Integer.bitCount(_).toLong).sum)
      }
  }

  /** [[cmsCounters]] state: one serialized count-min sketch per event
    * type — `depth·width` longs, constant regardless of key cardinality
    * or event volume. Readout carries the bytes so equivalence against
    * a batch-built sketch is checkable at the byte level. */
  final case class CmsState(bytes: Array[Byte])
  final case class CmsReadout(event_type: String, n_items: Long,
                              sketch: Array[Byte])

  /** Streaming count-min frequency sketch per event type — the
    * ADDITIVE-sketch twin completing the streaming quartet
    * ([[hllCounters]] register-max, [[exactDistinct]] bitmap-OR,
    * [[quantileSketches]] q-digest): CMS counts are pure addition, so
    * micro-batch order, duplicates and lateness cannot change the final
    * table, and a drained stream's sketch is BYTE-IDENTICAL to
    * `df.stat.countMinSketch` built over the same rows in one batch
    * (spec-pinned — same depth/width/seed, same long hashing). Point
    * estimates never underestimate; overestimates are bounded by the
    * standard eps/confidence trade the caller picks via width/depth. */
  def cmsCounters(events: Dataset[Event], depth: Int = 4, width: Int = 1024,
                  seed: Int = 42): Dataset[CmsReadout] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[CmsState, CmsReadout](GroupStateTimeout.NoTimeout) {
        case (typ, rows, state: GroupState[CmsState]) =>
          val cms = state.getOption match {
            case Some(s) =>
              CountMinSketch.readFrom(new java.io.ByteArrayInputStream(s.bytes))
            case None => CountMinSketch.create(depth, width, seed)
          }
          rows.foreach(e => cms.addLong(e.user_id))
          val bos = new java.io.ByteArrayOutputStream()
          cms.writeTo(bos)
          val bytes = bos.toByteArray
          state.update(CmsState(bytes))
          CmsReadout(typ, cms.totalCount(), bytes)
      }
  }

  /** [[hllCounters]] state: the 256 HLL register maxima, one byte each —
    * a CONSTANT 256 B per event type forever, whatever the cardinality.
    * Register 0 means "never hit" (true rho is always ≥ 1). */
  final case class HllRegState(regs: Array[Byte])
  final case class HllReadout(event_type: String, n_buckets_hit: Long,
                              hll_distinct: Double)

  /** Streaming twin of [[graft.ops.Hll.hllDistinct]] — continuously-
    * maintained distinct-user estimates per event type. The state is the
    * HLL register array itself, and register max is idempotent and
    * order-insensitive, so late/duplicate/out-of-order events need no
    * special casing at all: replay cannot move a register down. Every
    * arithmetic step — the md5-60 hash, bucket/rho split, exact integer
    * harmonic sum in 2^(−53) units, the one alpha·m²/s double tail —
    * mirrors the batch operator symbol-for-symbol, so a drained stream's
    * readout EQUALS the batch estimate on the same rows (spec-pinned),
    * which is exactly the mergeable-sketch contract that lets 100 TB
    * deployments serve the same number from both paths.
    *
    * Exact distinct is deliberately absent here: it would need per-key
    * state (unbounded); the batch face carries it as the error baseline. */
  def hllCounters(events: Dataset[Event]): Dataset[HllReadout] = {
    val spark = events.sparkSession
    import spark.implicits._
    val TwoTo53 = 9007199254740992L
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    // 60-bit md5 prefix of the key's decimal string — identical to the
    // batch side's conv(substring(md5(cast(key as string)), 1, 15), 16, 10)
    def hash60(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[HllRegState, HllReadout](GroupStateTimeout.NoTimeout) {
        case (typ, rows, state: GroupState[HllRegState]) =>
          val regs = state.getOption.map(_.regs.clone())
            .getOrElse(new Array[Byte](256))
          rows.foreach { e =>
            val h = hash60(e.user_id.toString)
            val bucket = (h >>> 52).toInt
            val w = h & ((1L << 52) - 1)
            val rho =
              if (w == 0L) 53
              else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))
            if (rho > regs(bucket)) regs(bucket) = rho.toByte
          }
          state.update(HllRegState(regs))
          var hit = 0L
          var sp = 0L
          var j = 0
          while (j < 256) {
            if (regs(j) > 0) { hit += 1; sp += 1L << (53 - regs(j)) }
            j += 1
          }
          val s = sp + (256L - hit) * TwoTo53
          val est = round6(
            0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * TwoTo53.toDouble / s.toDouble)
          HllReadout(typ, hit, est)
      }
  }

  /** [[bootstrapCounters]] state: the two exact sums one bootstrap
    * resample needs — Σ Poisson count and Σ count·cents. 16 bytes per
    * rep, b reps total, regardless of stream volume. */
  final case class BootRepState(m: Long, s: Long)
  final case class BootRepReadout(rep: Int, m: Long, s: Long)

  /** Streaming Poisson-bootstrap counters — the resampling-inference
    * twin of [[graft.ops.Relational.bootstrapCiPoisson]]: each event
    * contributes its deterministic Poisson(1) draws (the SAME
    * PoissonBootstrapDraws kernel — two 52-bit md5 uniforms per
    * "id_blk" digest vs the shared ⌊CDF·2⁵²⌋ thresholds) to every
    * resample's two sums. The state is pure addition — micro-batch order and lateness
    * cannot change the drained table, and the per-rep (m, s) pairs are
    * EXACTLY the decimal sums the batch operator aggregates, so the CI
    * derived from a drained stream is bit-equal to the batch CI over
    * the same rows (spec-pinned). This is the scalable-bootstrap
    * deployment story: a live stream maintains 2·b longs and can
    * answer "mean with CI so far" at any moment. Cent scaling is
    * HALF-UP (round half away from zero) on BOTH signs — the same
    * rule as the batch twin's Spark `round()` — so a stream carrying
    * negative values (refunds) still matches bit-for-bit; a bare
    * `math.round` would floor negative half-cents (−12.5 → −12 where
    * the batch says −13). */
  def bootstrapCounters(events: Dataset[Event], b: Int = 64): Dataset[BootRepReadout] = {
    require(b >= 2 && b <= 4096, s"bootstrapCounters: b=$b out of range")
    val spark = events.sparkSession
    import spark.implicits._
    events.flatMap { e =>
      val v = e.value * 100
      val cents = if (v >= 0) math.round(v) else -math.round(-v)
      // the SAME kernel as the batch draw — the twins cannot diverge
      val ks = org.apache.spark.sql.graftext.GraftKernels
        .poissonBootstrapDraws(e.event_id, b)
      (0 until b).iterator.map { rep =>
        val k = ks.getLong(rep)
        (rep, k, k * cents)
      }
    }.groupByKey(_._1)
      .mapGroupsWithState[BootRepState, BootRepReadout](GroupStateTimeout.NoTimeout) {
        case (rep, rows, state: GroupState[BootRepState]) =>
          var m = state.getOption.map(_.m).getOrElse(0L)
          var s = state.getOption.map(_.s).getOrElse(0L)
          rows.foreach { r => m += r._2; s += r._3 }
          state.update(BootRepState(m, s))
          BootRepReadout(rep, m, s)
      }
  }
}
