package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Declarative data-quality constraints and statistical anomaly
  * readouts — the validation tier a 100 TB ingest runs BEFORE letting
  * a batch into the corpus (the public shape popularized by AWS Deequ:
  * constraints declared as data, evaluated as one report).
  */
object DataQuality {

  /** A declared constraint. Each check names the table it audits (the
    * report spans tables — e.g. a foreign-key check reads two) and
    * produces exactly one report row. `name` doubles as the stable
    * report key, so two checks in one suite must not share it.
    *
    * Scan-fusion contract: [[runChecks]] fuses the row-level checks
    * of "the same table" into one aggregation, where same-table is
    * witnessed by DataFrame REFERENCE equality (`eq`) — the only safe
    * identity here (plan equality is undecidable; schema equality
    * would fuse different tables). To share one scan across several
    * checks, pass the SAME DataFrame object to each; two logically
    * identical but separately-constructed DataFrames are correct but
    * scan once per object.
    */
  sealed trait Check { def name: String }

  /** No nulls in `c`. */
  final case class Completeness(df: DataFrame, table: String, c: String) extends Check {
    def name = s"completeness:$table.$c"
  }

  /** `cols` is a unique key: every duplicate row beyond its group's
    * first is a violation. Rows with a NULL key component count as
    * violations too (countDistinct drops them, so they land on the
    * violation side of total − distinct — a null "key" never keys).
    */
  final case class Uniqueness(df: DataFrame, table: String, cols: Seq[String]) extends Check {
    def name = s"uniqueness:$table.${cols.mkString("+")}"
  }

  /** Value domain: `c` must be one of `values` (NULL violates — an
    * absent code is not a member of the domain). */
  final case class InSet(df: DataFrame, table: String, c: String, values: Seq[String]) extends Check {
    def name = s"in_set:$table.$c"
  }

  /** Closed numeric range [lo, hi] (NULL violates). */
  final case class InRange(df: DataFrame, table: String, c: String, lo: Double, hi: Double) extends Check {
    def name = s"in_range:$table.$c"
  }

  /** Referential integrity: every non-matching child key (including
    * NULL — an equality join never matches NULL) is a violation. */
  final case class ForeignKey(child: DataFrame, childTable: String, childCol: String,
      parent: DataFrame, parentCol: String) extends Check {
    def name = s"foreign_key:$childTable.$childCol"
  }

  /** Evaluate a constraint suite into one report:
    * (check_name, total, violations, passed), one row per check, in
    * the declared suite order.
    *
    * Plan shape (the Deequ scan-sharing discipline): checks are
    * GROUPED BY SOURCE TABLE and each table's ROW-LEVEL checks
    * (completeness / in-set / in-range) compile to ONE fused
    * column-pruned aggregation; a foreign-key check's `total` rides
    * its child table's fused pass too, so a five-check orders+lineitem
    * suite scans each table once for all its row-level work instead of
    * once per check. Two check kinds keep their own plans, on
    * exchange-shape grounds: a Uniqueness check runs as its OWN
    * key-only two-phase distinct — fusing it would drag every other
    * check's partial sums through the data-sized distinct exchange
    * (≈4× the exchange bytes on a unique key, measured slower at sf1)
    * while the split pass exchanges bare 8-byte keys — and the
    * foreign-key ORPHAN count is a LEFT ANTI join on the key columns
    * only (8-byte exchanges; at dimension-sized parents Catalyst
    * broadcasts it). The per-table 1-row aggregates and per-check
    * 1-row sidecars then crossJoin (broadcast-nested-loop over 1-row
    * sides) and one literal-ordered array-of-structs inline-explodes
    * into the report — each aggregate is computed exactly once in ONE
    * job, nothing is collected driver-side.
    */
  def runChecks(checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "runChecks: empty suite")
    require(checks.map(_.name).distinct.size == checks.size,
      "runChecks: duplicate check names in suite")
    // group by source table IDENTITY (the same DataFrame object passed
    // to several checks shares one scan; distinct objects stay apart —
    // reference equality is the only safe "same table" witness here)
    def srcOf(k: Check): DataFrame = k match {
      case Completeness(df, _, _) => df
      case Uniqueness(df, _, _) => df
      case InSet(df, _, _, _) => df
      case InRange(df, _, _, _, _) => df
      case ForeignKey(child, _, _, _, _) => child
    }
    val sources: Seq[DataFrame] = checks.map(srcOf)
      .foldLeft(Vector.empty[DataFrame]) { (acc, df) =>
        if (acc.exists(_ eq df)) acc else acc :+ df
      }
    def groupIdx(df: DataFrame): Int = sources.indexWhere(_ eq df)
    // one fused aggregate per table: _tN = row count, _vN_i = row-level
    // check i's violation count (absent for Uniqueness and FK — those
    // come from the key-only sidecars below)
    val violAgg: PartialFunction[(Check, Int), Column] = {
      case (Completeness(_, _, c), i) =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast("bigint").as(s"_v$i")
      case (InSet(_, _, c, values), i) =>
        sum(when(col(c).isin(values: _*), 0L).otherwise(1L)).cast("bigint").as(s"_v$i")
      case (InRange(_, _, c, lo, hi), i) =>
        sum(when(col(c).between(lo, hi), 0L).otherwise(1L)).cast("bigint").as(s"_v$i")
    }
    val tableAggs: Seq[DataFrame] = sources.zipWithIndex.map { case (df, t) =>
      val aggs = count(lit(1)).cast("bigint").as(s"_t$t") +:
        checks.zipWithIndex.filter { case (k, _) => srcOf(k) eq df }
          .collect(violAgg)
      df.agg(aggs.head, aggs.tail: _*)
    }
    val sidecars: Seq[DataFrame] = checks.zipWithIndex.collect {
      case (Uniqueness(df, _, cols), i) =>
        // key-only pass: the distinct exchange carries nothing but the
        // audited key columns
        df.select(cols.map(col): _*)
          .agg((count(lit(1)) - countDistinct(col(cols.head), cols.tail.map(col): _*))
            .cast("bigint").as(s"_v$i"))
      case (ForeignKey(child, _, childCol, parent, parentCol), i) =>
        child.select(col(childCol))
          .join(parent.select(col(parentCol)), col(childCol) === col(parentCol), "left_anti")
          .agg(count(lit(1)).cast("bigint").as(s"_v$i"))
    }
    val onerow = (tableAggs ++ sidecars).reduce(_ crossJoin _)
    val reportRows: Seq[Column] = checks.zipWithIndex.map { case (k, i) =>
      val tot = col(s"_t${groupIdx(srcOf(k))}")
      // the fused row-level sums are sum(CASE ...) — NULL over an
      // EMPTY table, which would report NULL violations and NULL
      // passed; an empty table has zero violating rows, so coalesce
      // to 0 (the sidecar counts are count()-shaped and never NULL,
      // the coalesce is a no-op there)
      val v = coalesce(col(s"_v$i"), lit(0L))
      struct(lit(k.name).as("check_name"), tot.as("total"),
        v.as("violations"), (v === 0L).as("passed"))
    }
    onerow
      .select(explode(array(reportRows: _*)).as("r"))
      .select(col("r.check_name").as("check_name"), col("r.total").as("total"),
        col("r.violations").as("violations"), col("r.passed").as("passed"))
  }

  /** Rolling z-score anomaly detection: within each group (ordered by
    * `orderCols`, which MUST be a total order for determinism), score
    * each value against the trailing window of its `window` PREDECESSORS
    * (never itself — the textbook self-exclusion that stops a spike
    * from masking itself), and keep rows with |z| above `threshold`
    * and at least `minPrior` predecessors.
    *
    * ONE exchange: everything is window functions over a single
    * (partitionBy group, orderBy orderCols) sort — no self-join, no
    * second pass. At 100 TB that is one hash exchange on the group key
    * plus a per-partition sort, the minimum for any ordered-window op.
    *
    * Determinism contract (the [[Ols]]/[[Profile.corrMatrix]]
    * discipline): values are scaled to exact integer cents
    * (round(x·10^scale) — IEEE multiply exactly rounded, fixed-point
    * inputs never land on .5), the rolling sum and sum-of-squares are
    * exact BIGINT window sums, and
    *   z = (k·x − S) / √(k·(k·Q − S²) / (k−1))
    * (k = trailing count, S = Σ, Q = Σx²; sample std) drops to double
    * only at the final sqrt/divide — both engines see identical exact
    * integers, and IEEE sqrt/divide are correctly rounded. Rounded to
    * 6 dp. Windows with zero variance (k·Q = S²) are skipped rather
    * than divided by.
    */
  def rollingZscore(df: DataFrame, groupCol: String, orderCols: Seq[String],
      valueCol: String, window: Int = 10, minPrior: Int = 5,
      threshold: Double = 2.0, scale: Int = 2): DataFrame = {
    require(minPrior >= 2, "rollingZscore: need >= 2 predecessors for a sample std")
    // fail fast instead of silently overwriting caller data with the
    // working columns (the assert-absent hygiene the shuffleOrder
    // advisory established)
    val reserved = Seq("_x", "_k", "_s", "_q", "z").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"rollingZscore: input already carries reserved column(s) ${reserved.mkString(", ")}")
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(-window, -1)
    val x = round(col(valueCol) * pow(lit(10), lit(scale))).cast("long")
    val scored = df
      .withColumn("_x", x)
      .withColumn("_k", count(col("_x")).over(w))
      .withColumn("_s", sum(col("_x")).over(w))
      .withColumn("_q", sum(col("_x") * col("_x")).over(w))
    val k = col("_k")
    val varNum = k * col("_q") - col("_s") * col("_s") // exact BIGINT
    val z = (k * col("_x") - col("_s")).cast("double") /
      sqrt(varNum.cast("double") * k.cast("double") / (k - 1L).cast("double"))
    scored
      .filter(k >= minPrior && varNum > 0L)
      .withColumn("z", round(z, 6))
      .filter(abs(col("z")) > threshold)
      .select((col(groupCol) +: orderCols.map(col)) :+ col("z"): _*)
  }

  /** Welch's two-sample t-test between two groups of a metric — the
    * A/B readout (unequal variances, the version that is actually safe
    * to default to). One map-side-combined pass computes both groups'
    * exact moments as conditional aggregates (n as BIGINT, Σx and Σx²
    * over integer cents as DECIMAL(38,0) — the [[rollingZscore]]
    * discipline), and every double appears only in the final formula
    * chain, written in ONE fixed operation order that the SQL oracle
    * mirrors term-for-term:
    *   vᵢ = (nᵢ·Qᵢ − Sᵢ²) / (nᵢ·(nᵢ−1)),   aᵢ = vᵢ/nᵢ   (cents²)
    *   t  = (S₁/n₁ − S₂/n₂) / √(a₁ + a₂)
    *   ν  = (a₁+a₂)² / (a₁²/(n₁−1) + a₂²/(n₂−1))   (Welch–Satterthwaite)
    * t is computed entirely in cents — the numerator and denominator
    * carry the same exact 10^scale factor, so the statistic equals the
    * unit-space value without ever introducing an inexact /100.
    * Means are reported in units (one final divide each). Requires
    * nᵢ ≥ 2 per group (sample variance).
    *
    * Output: one row — group_a, group_b, n_a, n_b, mean_a, mean_b,
    * t_stat, dof (6 dp). */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
             groupA: String, groupB: String, scale: Int = 2): DataFrame = {
    val dec = "decimal(38,0)"
    val x = round(col(valueCol) * pow(lit(10), lit(scale))).cast("long")
    def side(g: String, sfx: String) = Seq(
      sum(when(col(groupCol) === g, 1L).otherwise(0L)).cast("bigint").as(s"n$sfx"),
      sum(when(col(groupCol) === g, col("_x")).otherwise(0L).cast(dec)).cast(dec).as(s"s$sfx"),
      sum(when(col(groupCol) === g, col("_x") * col("_x")).otherwise(0L).cast(dec))
        .cast(dec).as(s"q$sfx"))
    val agg = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol), x.as("_x"))
      .agg((side(groupA, "1") ++ side(groupB, "2")).head,
        (side(groupA, "1") ++ side(groupB, "2")).tail: _*)
    def v(n: Column, s: Column, q: Column): Column =
      (n.cast(dec) * q - s * s).cast("double") /
        (n * (n - 1L)).cast("double")
    val a1 = v(col("n1"), col("s1"), col("q1")) / col("n1").cast("double")
    val a2 = v(col("n2"), col("s2"), col("q2")) / col("n2").cast("double")
    val m1 = col("s1").cast("double") / col("n1").cast("double")
    val m2 = col("s2").cast("double") / col("n2").cast("double")
    val denomScale = math.pow(10.0, scale) // exact double for scale ≤ 22
    // a group below 2 rows has no sample variance: surface NULL, never
    // an Infinity-contaminated statistic (the overflow-witness
    // discipline of the OLS moments)
    val ok = col("n1") >= 2L && col("n2") >= 2L
    agg.select(
      lit(groupA).as("group_a"), lit(groupB).as("group_b"),
      col("n1").as("n_a"), col("n2").as("n_b"),
      round(m1 / denomScale, 6).as("mean_a"),
      round(m2 / denomScale, 6).as("mean_b"),
      when(ok, round((m1 - m2) / sqrt(a1 + a2), 6)).as("t_stat"),
      when(ok, round((a1 + a2) * (a1 + a2) /
        (a1 * a1 / (col("n1") - 1L).cast("double") +
         a2 * a2 / (col("n2") - 1L).cast("double")), 6)).as("dof"))
  }

  /** First-significant-digit distribution vs Benford's law — the
    * classic forensic screen for fabricated numeric data. For each
    * digit 1–9: observed count, observed frequency, the Benford
    * expectation log10(1+1/d), and |obs − exp|.
    *
    * Determinism: the first digit is extracted from the DECIMAL STRING
    * of the exact integer round(x·10^scale) — integer-to-string is
    * exact and identical in every engine, where a log10/power route
    * would ride libm. The expectations are 6-dp literals (embedded
    * constants, not runtime log10 calls) so both engines compare
    * against bit-identical doubles. Frequencies are count ratios —
    * exact longs to double, correctly-rounded divide, 6-dp round.
    * Non-positive values carry no leading digit and are excluded.
    *
    * One scan + a ≤9-row aggregate; the total for frequencies is a
    * window sum over the 9-row result, not a second pass.
    */
  def benford(df: DataFrame, c: String, scale: Int = 2): DataFrame = {
    val expected = Seq(0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val counts = df
      .select(round(col(c) * pow(lit(10), lit(scale))).cast("long").as("iv"))
      .filter(col("iv") >= 1L) // sub-half-unit positives round to 0: no leading digit
      .select(substring(col("iv").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = sum(col("n")).over(Window.partitionBy())
    counts
      .withColumn("freq", col("n").cast("double") / total)
      .withColumn("expected", element_at(array(expected.map(lit): _*), col("digit")))
      .select(col("digit"), col("n"),
        round(col("freq"), 6).as("freq"), col("expected"),
        round(abs(col("freq") - col("expected")), 6).as("deviation"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between two
    * sources' distributions of an integral column — the standard
    * "did this source's length/score distribution shift" gate a
    * training-data pipeline runs before mixing a refreshed crawl:
    * D = max over values of |F̂_A(v) − F̂_B(v)|, the ECDF gap.
    *
    * Determinism: D is a RATIONAL — the gap numerator is the exact
    * integer |ra·n_b − rb·n_a| (cross-multiplied running counts), the
    * max is taken over integers, and the single divide by n_a·n_b
    * happens once at the end; the attainment point is the smallest v
    * reaching the max. No float ECDF ever enters a comparison.
    * (Magnitudes: ra·n_b ≤ n_a·n_b must fit a long — safe through
    * ~3·10⁹ rows per side.)
    *
    * Scale shape: one map-side-combined exchange collapses both
    * sources to the shared value grid (bounded by the value DOMAIN,
    * not the row count); the running counts ride a grid-sized ordered
    * window ([[madDaily]]'s bounded-window justification); the grid's
    * checkpoint job observes the totals and the gap table's the max,
    * so the argmin is one filter.
    *
    * Output: one row — `n_a`, `n_b`, `ks_d` (6 dp), `ks_at` (the
    * value attaining D). */
  def ksDrift(docs: DataFrame, sourceA: String, sourceB: String,
              valCol: String = "n_chars"): DataFrame = {
    require(sourceA != sourceB, "ksDrift: sources must differ")
    val grid = docs.filter(col("source").isin(sourceA, sourceB))
      .groupBy(col(valCol).as("v"))
      .agg(sum(when(col("source") === sourceA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === sourceB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v")) // grid-sized: bounded by the value domain
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // each checkpoint's job observes the scalar the next pass reads:
    // the totals, then the max gap
    val (run, tot) = GraftPins.ck(grid
      .withColumn("ra", sum(col("ca")).over(w))
      .withColumn("rb", sum(col("cb")).over(w)))(
      max(col("ra")).as("na"), max(col("rb")).as("nb"))
    val (gaps, m) = GraftPins.ck(GraftPins.withScalars(run, tot)
      .withColumn("dnum", abs(col("ra") * col("nb") - col("rb") * col("na"))))(
      max(col("dnum")).as("mx"))
    GraftPins.withScalars(gaps, m).where(col("dnum") === col("mx"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("dnum")).as("_mx"), min(col("v")).as("_at"))
      // an absent side has no ECDF: NULL witness, never a NaN from 0/0
      // (the welchT degenerate-group discipline)
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("_mx").cast("double") / (col("n_a") * col("n_b")), 6)).as("ks_d"),
        when(col("n_a") > 0 && col("n_b") > 0, col("_at")).as("ks_at"))
  }

  /** Robust center/spread of the per-type daily event-count series:
    * median and MAD (median absolute deviation) — the outlier-immune
    * twin of mean/stddev that [[rollingZscore]]-style monitors break
    * on when the baseline itself contains spikes (one 100× incident
    * day drags a mean for a week; the median never moves).
    *
    * Scale shape: the log collapses to the (type, day) grid in ONE
    * map-side-combined exchange, checkpointed; both median passes run
    * rank windows on grid-sized partitions (the [[graft.ops
    * .EventAnalytics.changepointDaily]] bounded-window justification),
    * and the medians rejoin the grid broadcast (≤ |types| rows).
    *
    * Determinism: everything stays exact integers in doubled units —
    * median·2 = the two middle values' sum (even-n interpolation with
    * no division), deviations |2c − median2|, MAD·4 = the deviation
    * median's doubled sum — and the final /2 and /4 are EXACT binary
    * scalings of integers, so the doubles carry no rounding at all.
    *
    * Output: one row per `event_type` — `n_days`, `median_daily`,
    * `mad_daily`. */
  def madDaily(events: DataFrame): DataFrame = {
    val daily = GraftPins.cut(events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c")))
    def median2Of(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("event_type")).orderBy(col(v), col("day"))
      val wn = Window.partitionBy(col("event_type"))
      df.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_days"),
          (sum(when(col("rn") === expr("(n + 1) div 2"), col(v))) +
            sum(when(col("rn") === expr("(n + 2) div 2"), col(v)))).as(out))
    }
    val med = median2Of(daily, "c", "median2")
    val devs = daily.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("day"),
        abs(col("c") * 2 - col("median2")).as("dd"))
    val mad = median2Of(devs, "dd", "mad4")
      .select(col("event_type"), col("mad4"))
    med.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("n_days"),
        (col("median2").cast("double") / 2).as("median_daily"),
        (col("mad4").cast("double") / 4).as("mad_daily"))
  }

  /** Theil–Sen robust daily trend per event type — the median of all
    * pairwise day-count slopes (Theil 1950 / Sen 1968): the
    * outlier-immune twin of an OLS trend exactly as [[madDaily]] is of
    * mean/stddev — one incident day drags a least-squares slope for
    * weeks; the pairwise median shrugs it off (29% breakdown point).
    *
    * Determinism: slopes are exact-integer differences under ONE
    * correctly-rounded double divide; the median is a rank selection
    * under the total order (slope, d1, d2) with the two middle
    * elements added (one addition of exactly two doubles — no fold),
    * halved, and rounded at 6 dp. A type with a single active day has
    * no pairs: NULL witness, never a 0/0 ([[ksDrift]]'s discipline).
    *
    * Scale shape: the log collapses to the (type, day) grid in ONE
    * map-side-combined exchange, checkpointed (pair build + day count
    * share it); the pair self-join and rank window are per-type and
    * bounded by the day DOMAIN squared (the [[madDaily]]
    * bounded-window justification — 3 years ≈ 600k pairs/type), never
    * by the event count.
    *
    * Output: one row per `event_type` — `n_days`, `n_pairs`,
    * `ts_slope` (events/day per day, 6 dp; NULL if n_days < 2). */
  def theilSenDaily(events: DataFrame): DataFrame = {
    val daily = GraftPins.cut(events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01").cast("date")).as("d"), col("c")))
    val pairs = daily.select(col("event_type"), col("d").as("d1"), col("c").as("c1"))
      .join(daily.select(col("event_type"), col("d").as("d2"), col("c").as("c2")),
        Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .select(col("event_type"), col("d1"), col("d2"),
        ((col("c2") - col("c1")).cast("double") / (col("d2") - col("d1"))).as("slope"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("d1"), col("d2"))
    val wn = Window.partitionBy(col("event_type"))
    val med = pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_pairs"),
        ((sum(when(col("rn") === expr("(n + 1) div 2"), col("slope"))) +
          sum(when(col("rn") === expr("(n + 2) div 2"), col("slope")))) / 2).as("m"))
    daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
      .join(broadcast(med), Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        round(col("m"), 6).as("ts_slope"))
  }

  /** Mann–Kendall trend test of the per-type daily series — the
    * SIGNIFICANCE companion to [[theilSenDaily]]'s robust slope (the
    * pairing every hydrology/monitoring handbook ships together:
    * Theil–Sen says how steep, Mann–Kendall says whether the monotone
    * trend is distinguishable from noise at all):
    * S = Σ_{i<j} sgn(x_j − x_i) over the day-ordered counts,
    * Var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18 with the standard
    * tie correction, and the continuity-corrected
    * z = (S∓1)/√Var(S) (0 at S = 0).
    *
    * Determinism: S and both variance numerators are exact integer
    * sums over the day grid; Var(S) is ONE exact-long-over-18 divide
    * and z one mirrored divide/sqrt chain; an all-tied series has
    * Var(S) = 0 and reports NULL z (surfaced, not NaN).
    *
    * Scale shape: one exchange to the (type, day) grid; the pair
    * stream is grid², generated per type from the checkpointed grid —
    * day-grid-sized, never data-sized. */
  def mannKendallDaily(events: DataFrame): DataFrame = {
    // pairs + ties + n all read the grid
    val daily = GraftPins.cut(events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01").cast("date")).as("d"), col("c")))
    val sTab = daily.select(col("event_type"), col("d").as("d1"), col("c").as("c1"))
      .join(daily.select(col("event_type"), col("d").as("d2"), col("c").as("c2")),
        Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("c2") > col("c1"), 1L)
        .when(col("c2") < col("c1"), -1L).otherwise(0L)).cast("long").as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).cast("long").as("tt"))
    val base = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .join(broadcast(sTab), Seq("event_type"), "left")
      .join(broadcast(ties), Seq("event_type"))
      .select(col("event_type"), col("n").as("n_days"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        ((col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tt"))
          .cast("double") / 18.0).as("var_s"))
    base.select(col("event_type"), col("n_days"), col("s_stat"),
      round(col("var_s"), 6).as("var_s"),
      when(col("var_s") > 0,
        round(when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)), 6)).as("z"))
  }

  /** Kendall's τ-b between daily event count and daily value mass, per
    * event type — the concordance complement to [[theilSenDaily]]'s
    * robust slope: do busier days carry proportionally more value, read
    * through EVERY day pair rather than a fitted line. τ-b applies the
    * standard tie correction: τ = (nc − nd) / √((n0 − t_x)(n0 − t_y)).
    *
    * Exactness: concordance is pure SIGN logic on exact integers (count
    * and cents deltas — no products anywhere, so nothing can overflow at
    * any scale); the single sqrt/divide tail is mirrored; an all-tied
    * axis reports NULL, never a 0/0 NaN.
    *
    * Scale shape: the log collapses to the (type, day) grid in one
    * map-side-combined exchange, checkpointed; the pair build is the
    * [[theilSenDaily]] shape — an equi-join on event_type bounded by the
    * day DOMAIN squared per type, never a log self-join; the rollup is
    * grid-sized. Output per type: `event_type`, `n_days`,
    * `n_concordant`, `n_discordant`, `tau_b` (6 dp). */
  def kendallDaily(events: DataFrame): DataFrame = {
    val daily = GraftPins.cut(events.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("v")))
    val pairs = daily.select(col("event_type"), col("day").as("d1"),
        col("c").as("c1"), col("v").as("v1"))
      .join(daily.select(col("event_type"), col("day").as("d2"),
        col("c").as("c2"), col("v").as("v2")), Seq("event_type"))
      .filter(col("d1") < col("d2"))
    val agg = pairs.groupBy(col("event_type")).agg(
      count(lit(1)).as("n0"),
      sum(when((col("c2") > col("c1") && col("v2") > col("v1")) ||
        (col("c2") < col("c1") && col("v2") < col("v1")), 1L).otherwise(0L)).as("nc"),
      sum(when((col("c2") > col("c1") && col("v2") < col("v1")) ||
        (col("c2") < col("c1") && col("v2") > col("v1")), 1L).otherwise(0L)).as("nd"),
      sum(when(col("c1") === col("c2"), 1L).otherwise(0L)).as("tx"),
      sum(when(col("v1") === col("v2"), 1L).otherwise(0L)).as("ty"))
    daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
      .join(broadcast(agg), Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        coalesce(col("nc"), lit(0L)).as("n_concordant"),
        coalesce(col("nd"), lit(0L)).as("n_discordant"),
        when((col("n0") - col("tx")) > 0 && (col("n0") - col("ty")) > 0,
          round((col("nc") - col("nd")).cast("double") /
            sqrt((col("n0") - col("tx")).cast("double") *
              (col("n0") - col("ty")).cast("double")), 6)).as("tau_b"))
  }

  /** Functional-dependency audit — the schema-discovery DQ face: for
    * each candidate FD `lhs → rhs`, does every lhs value map to exactly
    * one rhs value, and if not, how badly is it violated (how many lhs
    * values fan out, and to at most how many rhs). The classic use is
    * validating denormalization assumptions before a join collapse —
    * an FD that "mostly holds" is exactly the bug that silently
    * duplicates rows downstream.
    *
    * Scale shape: per candidate, one map-side-combined exchange carries
    * the DISTINCT (lhs, rhs) pairs (countDistinct's partial dedup), and
    * the rollup is lhs-domain-sized; candidates union into one result.
    * All counts exact. Output per candidate: `lhs`, `rhs`, `n_lhs`,
    * `n_violating`, `max_rhs_per_lhs`, `holds`. */
  def fdCheck(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "fdCheck: need at least one candidate FD")
    pairs.map { case (a, b) =>
      df.groupBy(col(a)).agg(countDistinct(col(b)).as("k"))
        .agg(count(lit(1)).cast("long").as("n_lhs"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).cast("long").as("n_violating"),
          max(col("k")).cast("long").as("max_rhs_per_lhs"))
        .select(lit(a).as("lhs"), lit(b).as("rhs"), col("n_lhs"),
          col("n_violating"), col("max_rhs_per_lhs"),
          (col("n_violating") === 0L).as("holds"))
    }.reduce(_.unionAll(_))
  }

  /** Population Stability Index per source against a reference source —
    * the production-monitoring complement to [[ksDrift]] (KS reads the
    * worst ECDF gap; PSI reads the WHOLE distribution shift through
    * the standard banking/scoring deciles): PSI = Σ_buckets
    * (pᵢ−qᵢ)·ln(pᵢ/qᵢ), with the usual <0.1 stable / 0.1-0.25 drifting
    * / >0.25 shifted reading.
    *
    * Construction pinned exactly on both engines: bucket boundaries
    * are the reference source's decile ORDER STATISTICS — the value at
    * rank ⌈k·n/B⌉ = (k·n+B−1) div B (integer arithmetic, ties broken
    * by doc id) for k = 1..B−1 — and a value v lands in bucket
    * 1 + |{k : v > b_k}|. Shares are Laplace-smoothed
    * (c+1)/(n+B) (the DSIR idiom — an empty bucket must not produce
    * ln 0), each (p−q)·ln(p/q) term is ROUND(…, 6) then DECIMAL(18,6)
    * before summing (the theil discipline: the one transcendental
    * never rides an order-dependent double fold).
    *
    * Scale shape: boundaries come from [[graft.ops.Relational
    * .globalRank]] over the reference slice (two-phase, no
    * single-partition sort), collapse to a ≤B−1-row array broadcast to
    * the scan; the corpus then collapses to (source, bucket) counts in
    * ONE map-side-combined exchange, checkpointed once (source-count
    * sized) so the reference-share branch never re-scans; everything
    * after is |sources|·B rows.
    *
    * Output: one row per non-reference source — `source`, `n_rows`,
    * `psi` (6 dp). */
  def psiDrift(docs: DataFrame, refSource: String, valCol: String = "n_chars",
               nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000,
      s"psiDrift: nBuckets must be in [2, 1000], got $nBuckets")
    val b = nBuckets
    val ref = docs.filter(col("source") === refSource)
      .select(col(valCol).cast("long").as("x"), col("doc_id"))
    // the rank's subtotal collect already counts the reference rows
    val (ranked, nRef) = graft.ops.Relational.globalRankN(
      ref, Seq(col("x"), col("doc_id")), "r")
    val ks = ranked.sparkSession.range(1, b).select(col("id").as("k"))
    val bounds = ranked.withColumn("n", lit(nRef))
      .join(broadcast(ks), col("r") === expr(s"(k * n + $b - 1) div $b"))
      .agg(transform(array_sort(collect_list(struct(col("k"), col("x")))),
        s => s.getField("x")).as("bounds"))
    // the p and q branches both read it
    val counts = GraftPins.cut(docs
      .select(col("source"), col(valCol).cast("long").as("x"))
      .crossJoin(broadcast(bounds))
      .select(col("source"),
        (lit(1) + size(filter(col("bounds"), bd => col("x") > bd))).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("c")))
    val tot = counts.groupBy(col("source")).agg(sum(col("c")).cast("long").as("ns"))
    val bgrid = ranked.sparkSession.range(1, b + 1).select(col("id").cast("int").as("bucket"))
    val shares = tot.crossJoin(broadcast(bgrid))
      .join(counts, Seq("source", "bucket"), "left")
      .select(col("source"), col("bucket"), col("ns"),
        ((coalesce(col("c"), lit(0L)) + 1).cast("double") / (col("ns") + b)).as("p"))
    val refShares = shares.filter(col("source") === refSource)
      .select(col("bucket"), col("p").as("q"))
    shares.filter(col("source") =!= refSource)
      .join(broadcast(refShares), Seq("bucket"))
      .select(col("source"), col("ns"),
        round((col("p") - col("q")) * log(col("p") / col("q")), 6)
          .cast("decimal(18,6)").as("term"))
      .groupBy(col("source"), col("ns"))
      .agg(sum(col("term")).as("ts"))
      .select(col("source"), col("ns").as("n_rows"),
        round(col("ts").cast("double"), 6).as("psi"))
  }

  /** Weight-of-evidence / information-value feature screen (the credit-
    * scoring staple, Siddiqi 2006): for a categorical feature bucket i
    * against a binary label, WOEᵢ = ln(goodshareᵢ / badshareᵢ) and
    * IV = Σᵢ (goodshareᵢ − badshareᵢ)·WOEᵢ — the standard "is this
    * feature worth a model's time" readout (IV < 0.02 useless,
    * > 0.3 strong). Laplace +1 on the bucket counts guards empty cells
    * exactly (integer smoothing, no float epsilon).
    *
    * Determinism: the WOE ratio is formed as ONE exact integer
    * cross-multiplication (gᵢ+1)·(B+K) / (bᵢ+1)·(G+K) before its single
    * double divide and ln — never share-of-share double chains; ln (the
    * file's one transcendental here, same as [[psiDrift]]) is
    * ROUND(…, 6) before reuse; each IV term is ROUND-then-DECIMAL before
    * the sum, so the cross-engine total is exact decimal addition of
    * identically-rounded terms.
    *
    * Scale shape: one map-side-combined exchange collapses the fact
    * table to the bucket grid (≤ |feature domain| rows, checkpointed;
    * its job observes the totals, and the scored grid's job the IV sum,
    * both read as literals); everything after the collapse is
    * grid-sized. Output: per bucket — `bucket`,
    * `n_events`, `n_good`, `n_bad`, `woe` — plus the constant `iv`. */
  def woeIv(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(
      round(col("l_discount") * 100).cast("int").as("bucket"),
      (col("l_returnflag") === "R").cast("long").as("y"))
    // each checkpoint's job observes the totals the next pass reads
    val (g, tot) = GraftPins.ck(base.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("y")).cast("long").as("n_good"))
      .withColumn("n_bad", col("n_events") - col("n_good")))(
      sum(col("n_good")).cast("long").as("gt"),
      sum(col("n_bad")).cast("long").as("bt"),
      count(lit(1)).cast("long").as("k"))
    val (scored, iv) = GraftPins.ck(GraftPins.withScalars(g, tot)
      .withColumn("woe", round(log(
        ((col("n_good") + 1) * (col("bt") + col("k"))).cast("double") /
          ((col("n_bad") + 1) * (col("gt") + col("k"))).cast("double")), 6))
      .withColumn("term", round(
        ((col("n_good") + 1).cast("double") / (col("gt") + col("k")).cast("double")
          - (col("n_bad") + 1).cast("double") / (col("bt") + col("k")).cast("double"))
          * col("woe"), 6).cast("decimal(18,6)")))(
      sum(col("term")).cast("decimal(18,6)").as("ivd"))
    GraftPins.withScalars(scored, iv)
      .select(col("bucket"), col("n_events"), col("n_good"), col("n_bad"),
        col("woe"), col("ivd").cast("double").as("iv"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test with the
    * tie-corrected normal approximation — the nonparametric sibling of
    * [[welchT]]: does group A's value distribution stochastically
    * dominate group B's, without assuming normality or caring about
    * outliers.
    *
    * Exactness: ranks are the same doubled-average-rank integers as
    * [[Profile.spearmanMatrix]] (2r̄ = 2·prefix − cnt + 1 off the value
    * grid), so 2·R_A and 2·U_A = 2R_A − n_A(n_A+1) are exact; the tie
    * correction Σ(t³−t) and the variance numerator
    * n_A·n_B·((N³−N) − Σ(t³−t)) ride DECIMAL(38,0) with pre-cast
    * operands; z = (2U_A − n_A·n_B) / (2·σ) is ONE mirrored double tail
    * (a single sqrt and divide — no transcendentals beyond sqrt).
    *
    * Scale shape: one filtered map-side-combined value-grid collapse;
    * [[Relational.prefixSum]]'s two-phase running count (never a global
    * rank window); one hash join on the 8-byte value key; two 1-row
    * sidecars crossed. Output: one row — `n_a`, `n_b`, `u_a`, `z`. */
  def mannWhitney(orders: DataFrame, grpCol: String = "o_orderpriority",
                  grpA: String = "1-URGENT", grpB: String = "5-LOW",
                  valCol: String = "o_totalprice"): DataFrame = {
    // the grid AND the rank join read it
    val base = GraftPins.cut(orders.filter(col(grpCol).isin(grpA, grpB))
      .select((col(grpCol) === grpA).cast("long").as("ga"),
        round(col(valCol) * 100).cast("long").as("v")))
    val grid = base.groupBy(col("v")).agg(count(lit(1)).as("_cnt"))
    val pre = Relational.prefixSum(grid, Seq(col("v")), "_cnt", "_pre")
      .select(col("v"), (lit(2L) * col("_pre") - col("_cnt") + 1L).as("r2"),
        col("_cnt"))
    val dec19 = "decimal(19,0)"
    val agg = base.join(pre.select(col("v"), col("r2")), Seq("v"))
      .agg(sum(col("ga")).cast(dec19).as("na"),
        count(lit(1)).cast(dec19).as("n"),
        sum(when(col("ga") === 1, col("r2")).otherwise(lit(0L)).cast(dec19))
          .cast("decimal(38,0)").as("r2a"))
    val ties = pre.agg(
      sum(col("_cnt").cast(dec19) * col("_cnt").cast(dec19) * col("_cnt").cast(dec19)
        - col("_cnt").cast(dec19)).cast("decimal(38,0)").as("t3"))
    // The exact-decimal part stops at the tie-corrected tail
    // (N³−N)−Σ(t³−t), which fits DECIMAL(38,0) to N ≈ 10¹²; the former
    // n_A·n_B·tail product overflowed 38 digits (and DuckDB's HUGEINT)
    // from N ≈ 5·10⁷ — a silent z→NULL cliff at large SFs. The variance
    // na·nb·(tail/(12N(N−1))) is one mirrored double chain from there
    // (the oracle replays the identical op order).
    agg.crossJoin(broadcast(ties))
      .withColumn("nb", (col("n") - col("na")).cast("decimal(19,0)"))
      .withColumn("u2", (col("r2a") - col("na") * (col("na") + 1))
        .cast("decimal(38,0)"))
      .withColumn("tail3", ((col("n") * col("n") * col("n") - col("n")) - col("t3"))
        .cast("decimal(38,0)"))
      .select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        (col("u2").cast("double") / lit(2.0)).as("u_a"),
        round((col("u2") - col("na") * col("nb")).cast("double") /
          (lit(2.0) * sqrt(col("na").cast("double") * col("nb").cast("double") *
            (col("tail3").cast("double") /
              (lit(12.0) * col("n").cast("double") * (col("n") - 1).cast("double"))))),
          6).as("z"))
  }

  /** Jensen–Shannon divergence between the reference source's TOKEN
    * distribution and the rest of the corpus — the vocabulary-drift
    * companion of [[psiDrift]]'s value-bucket drift (Lin 1991): with
    * M = ½(P+Q),
    *   JSD = ½·KL(P‖M) + ½·KL(Q‖M) ∈ [0, ln 2],
    * symmetric and finite even on disjoint vocabularies (a token
    * absent from one side contributes only through the present side's
    * p·ln(p/m) term — no smoothing constant to tune, unlike PSI's
    * Laplace buckets).
    *
    * Determinism: tokens ride the md5-60 hash family (the x_pmi
    * construction — exchanges carry 8-byte hashes, oracle replays the
    * digests); the vocabulary floor keeps combined-count ≥ `minCount`
    * types and the totals renormalize over the KEPT vocabulary (stated
    * contract — drift is measured on the stable vocabulary); per-type
    * p/q/m are pinned-order double chains off exact BIGINT counts, and
    * each p·ln(p/m) term is ROUND(…, 10) then DECIMAL(28,10) before
    * summing (the theil/psi discipline: the transcendental never rides
    * an order-dependent double fold; 10 dp keeps rare-type mass that
    * 6 dp would truncate).
    *
    * Scale shape: one tokenize+explode pass collapses to the
    * vocab-sized (hash, c_ref, c_other) rollup — the only data-sized
    * exchange, map-side combined, checkpointed once for the term pass,
    * whose job observes the totals; everything after is
    * vocabulary-sized.
    *
    * Output: ONE row — n_vocab, n_tok_ref, n_tok_other, kl_ref,
    * kl_other, jsd (6 dp, nats). */
  def jsDivergence(docs: DataFrame, refSource: String, textCol: String = "text",
                   minCount: Long = 5): DataFrame = {
    require(minCount >= 1, s"jsDivergence: minCount must be >= 1, got $minCount")
    // the term pass reads the checkpoint; its job observes the totals
    val (counts, totals) = GraftPins.ck(docs
      .select((col("source") === refSource).as("_ref"),
        explode(split(col(textCol), "\\s+")).as("_tok"))
      .select(col("_ref"),
        conv(substring(md5(col("_tok")), 1, 15), 16, 10).cast("long").as("_h"))
      .groupBy(col("_h"))
      .agg(sum(when(col("_ref"), 1L).otherwise(0L)).cast("long").as("_cp"),
        sum(when(!col("_ref"), 1L).otherwise(0L)).cast("long").as("_cq"))
      .filter(col("_cp") + col("_cq") >= minCount))(
      count(lit(1)).cast("long").as("n_vocab"),
      sum(col("_cp")).cast("long").as("n_tok_ref"),
      sum(col("_cq")).cast("long").as("n_tok_other"))
    val pi = col("_cp").cast("double") / col("n_tok_ref")
    val qi = col("_cq").cast("double") / col("n_tok_other")
    val mi = (pi + qi) / lit(2.0)
    GraftPins.withScalars(counts, totals)
      .select(col("n_vocab"), col("n_tok_ref"), col("n_tok_other"),
        round(when(col("_cp") > 0, pi * log(pi / mi)).otherwise(lit(0.0)), 10)
          .cast("decimal(28,10)").as("_tp"),
        round(when(col("_cq") > 0, qi * log(qi / mi)).otherwise(lit(0.0)), 10)
          .cast("decimal(28,10)").as("_tq"))
      .groupBy(col("n_vocab"), col("n_tok_ref"), col("n_tok_other"))
      .agg(sum(col("_tp")).as("_klp"), sum(col("_tq")).as("_klq"))
      .select(col("n_vocab"), col("n_tok_ref"), col("n_tok_other"),
        round(col("_klp").cast("double"), 6).as("kl_ref"),
        round(col("_klq").cast("double"), 6).as("kl_other"),
        round((col("_klp").cast("double") + col("_klq").cast("double")) / 2.0, 6)
          .as("jsd"))
  }

  /** k-anonymity audit over a quasi-identifier combination (Sweeney
    * 2002, public): every group of rows sharing the quasi-identifier
    * values with FEWER than k members is a re-identification risk —
    * the standard pre-release check on any table whose "anonymous"
    * rows still carry linkable attribute combinations (training-data
    * compliance runs this before publishing metadata/provenance
    * tables). Returns the violating groups with their occupancy; an
    * empty result IS the k-anonymity certificate.
    *
    * Scale shape: ONE map-side-combined aggregation over the quasi
    * columns and a filter — no joins, no windows; the output is
    * bounded by the quasi-value cross-product, never the data. Exact
    * integer counts, so the result is engine-reproducible. */
  def kAnonymityViolations(df: DataFrame, quasiCols: Seq[Column],
                           k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymityViolations: need quasi-identifier columns")
    require(k >= 2, s"kAnonymityViolations: k must be >= 2, got $k")
    df.groupBy(quasiCols: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** l-diversity audit (Machanavajjhala et al. 2007, public) — the
    * companion check [[kAnonymityViolations]] can't express: a
    * quasi-identifier group can satisfy k-anonymity and STILL leak the
    * sensitive attribute if (nearly) all its members share one value
    * (the homogeneity attack). Reports every quasi-group whose
    * sensitive column carries fewer than `l` DISTINCT values, with
    * occupancy and diversity. Same scale shape as the k check — one
    * aggregation (the distinct count is exact), output bounded by the
    * quasi cross-product. */
  def lDiversityViolations(df: DataFrame, quasiCols: Seq[Column],
                           sensitiveCol: Column, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversityViolations: need quasi-identifier columns")
    require(l >= 2, s"lDiversityViolations: l must be >= 2, got $l")
    df.groupBy(quasiCols: _*)
      .agg(count(lit(1)).as("n"),
        count_distinct(sensitiveCol).as("l_div"))
      .filter(col("l_div") < l)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007, public) —
    * the distributional check [[lDiversityViolations]] stops short of:
    * a quasi-group can carry l distinct sensitive values and STILL
    * leak (skewness/similarity attacks) if its sensitive-value
    * DISTRIBUTION sits far from the table-wide one. For a categorical
    * sensitive attribute the paper's Earth Mover's Distance reduces to
    * the variational distance D(g) = ½ Σ_v |c_gv/n_g − c_v/n|; groups
    * with D > t are reported with occupancy and distance.
    *
    * Exactness: D(g)·(2·n_g·n) = Σ_{v∈g} |c_gv·n − c_v·n_g| +
    * n_g·(n − Σ_{v∈g} c_v) (values absent from the group contribute
    * their global share — folded into one closed form so only values
    * PRESENT in the group are enumerated). Both terms are exact
    * integers in DECIMAL(38,0) (c·n products clear a 64-bit long at
    * corpus scale); the single divide casts exact numerator and
    * denominator to double and rounds at 6 dp — engine-reproducible
    * like the Cohen's-kappa row.
    *
    * Scale shape: ONE map-side-combined aggregation over
    * quasi × sensitive to the cell table (bounded by the value
    * cross-product, never the data), a broadcast of the
    * sensitive-marginal table, a cell-sized window for the group
    * totals, and a cell-sized rollup — no data-sized join or window
    * anywhere past the first aggregation. */
  def tClosenessViolations(df: DataFrame, quasiCols: Seq[Column],
                           sensitiveCol: Column, t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "tClosenessViolations: need quasi-identifier columns")
    require(t > 0.0 && t < 1.0, s"tClosenessViolations: t must be in (0,1), got $t")
    val base = df.select(quasiCols :+ sensitiveCol.as("_sv"): _*)
    val quasiNames = base.columns.dropRight(1).toSeq
    val cells = base.groupBy(base.columns.map(col): _*)
      .agg(count(lit(1)).as("_cgv"))
    val glob = cells.groupBy(col("_sv")).agg(sum(col("_cgv")).as("_cv"))
    val tot = glob.agg(sum(col("_cv")).cast("long").as("_n"))
    val w = Window.partitionBy(quasiNames.map(col): _*)
    cells.join(broadcast(glob), "_sv").crossJoin(broadcast(tot))
      .withColumn("_ng", sum(col("_cgv")).over(w))
      .withColumn("_spres", sum(col("_cv")).over(w))
      .groupBy(quasiNames.map(col): _*)
      .agg(max(col("_ng")).as("n"),
        sum(abs(col("_cgv").cast("decimal(38,0)") * col("_n") -
          col("_cv").cast("decimal(38,0)") * col("_ng"))).as("_present"),
        max(col("_n")).as("_nTot"),
        max(col("_n") - col("_spres")).as("_absentCv"))
      .select((quasiNames.map(col) :+ col("n") :+
        round((col("_present") +
          col("n").cast("decimal(38,0)") * col("_absentCv")).cast("double") /
          (lit(2.0) * col("n") * col("_nTot")), 6).as("t_dist")): _*)
      .filter(col("t_dist") > t)
  }
}
