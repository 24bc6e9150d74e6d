package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Relational operator catalog over the TPC-H-ish tables.
  *
  * Determinism rules (the driver hash-compares against a DuckDB oracle):
  *   - double SUM/AVG is order-dependent → cast each addend to
  *     DECIMAL(18,4) (exact arithmetic, associative) and cast the final
  *     result to DOUBLE in BOTH engines;
  *   - DuckDB SUM(integer) returns HUGEINT → CAST(... AS BIGINT) in the
  *     oracle to match Spark's LongType;
  *   - aliases must be byte-identical on both sides.
  */
object Relational {

  /** Exact decimal sum of a double expression, surfaced as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** q1_agg — TPC-H Q1 shape: scan-heavy groupBy aggregation on
    * lineitem. At 100 TB this is a map-side partial agg + one shuffle on
    * (returnflag, linestatus) — 6 groups, so the reduce side is trivial;
    * all heavy lifting stays in whole-stage codegen over the scan.
    *
    * Determinism: products of doubles round differently across engines
    * at the decimal cast (Spark casts via the shortest string repr,
    * DuckDB rounds the exact binary value), so all arithmetic here is
    * done IN decimal: cast each raw 2-decimal column to DECIMAL(12,4)
    * first (where both engines agree), multiply exactly — (12,4)×(13,4)
    * stays within 38 digits in both — and quantize each product back to
    * scale 4 via round(x, 4), which is HALF_UP for positives in BOTH
    * engines (a downscale CAST would not do: Spark's rounds HALF_UP but
    * DuckDB's truncates toward zero). The sums are then exact and the
    * final double casts bit-identical.
    */
  val q1Agg: Q = Q(
    "q1_agg",
    (s, d) => {
      val one = lit(1).cast("decimal(12,4)")
      val ep = col("l_extendedprice").cast("decimal(12,4)")
      val disc = col("l_discount").cast("decimal(12,4)")
      val tax = col("l_tax").cast("decimal(12,4)")
      val discPrice = round(ep * (one - disc), 4)
      val charge = round(discPrice * (one + tax), 4)
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,4)")).cast("double").as("sum_qty"),
          sum(ep).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order")
        )
    },
    Some("""
      WITH l AS (
        SELECT l_returnflag, l_linestatus,
               CAST(l_quantity AS DECIMAL(12,4)) AS qty,
               CAST(l_extendedprice AS DECIMAL(12,4)) AS ep,
               CAST(l_discount AS DECIMAL(12,4)) AS disc,
               CAST(l_tax AS DECIMAL(12,4)) AS tax
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(qty) AS DOUBLE) AS sum_qty,
             CAST(SUM(ep) AS DOUBLE) AS sum_base_price,
             CAST(SUM(round(ep * (CAST(1 AS DECIMAL(12,4)) - disc), 4)) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(round(round(ep * (CAST(1 AS DECIMAL(12,4)) - disc), 4) * (CAST(1 AS DECIMAL(12,4)) + tax), 4)) AS DOUBLE) AS sum_charge,
             COUNT(*) AS count_order
      FROM l
      GROUP BY l_returnflag, l_linestatus
    """.stripMargin.trim)
  )

  /** Distributive-aggregate merge — incremental materialized-view
    * maintenance: fold a delta partition's aggregate table into the
    * standing one without touching raw history. Sound exactly for the
    * distributive algebra (COUNT and SUM re-sum, MIN/MAX re-extremize;
    * AVG must be carried as sum+cnt, exact DISTINCT cannot be merged
    * at all — ship a sketch like [[Hll]] for that), so each non-key
    * column must DECLARE its algebra in its name: `cnt`/`cnt_*`/
    * `sum_*` re-sum, `min_*`/`max_*` re-extremize; anything else
    * fails fast rather than merging wrongly.
    *
    * One union of two agg-sized tables + one map-side-combined
    * re-aggregation — at 100 TB the raw data is never re-read; that
    * is the entire point. Carry SUMs as DECIMAL so the re-sum is
    * order-independent (the [[dsum]] discipline). */
  def mergeDistributive(prev: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "mergeDistributive: need at least one key")
    require(prev.columns.toSeq == delta.columns.toSeq,
      s"mergeDistributive: schema mismatch ${prev.columns.toSeq} vs ${delta.columns.toSeq}")
    val aggs = prev.columns.filterNot(keys.contains).map { c =>
      if (c == "cnt" || c.startsWith("cnt_") || c.startsWith("sum_")) sum(col(c)).as(c)
      else if (c.startsWith("min_")) min(col(c)).as(c)
      else if (c.startsWith("max_")) max(col(c)).as(c)
      else throw new IllegalArgumentException(
        s"mergeDistributive: column '$c' does not declare a mergeable algebra " +
          "(cnt/cnt_*/sum_* re-sum, min_*/max_* re-extremize)")
    }
    require(aggs.nonEmpty, "mergeDistributive: no aggregate columns to merge")
    prev.unionAll(delta).groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Calendar-spine densification: the per-(day, priority) daily order
    * rollup with every missing day filled as an explicit zero row over
    * the global [min, max] order-date range — dense time series are
    * what every rolling window, ACF, or forecast downstream assumes
    * (a gap read as "no row" silently shortens windows; a gap read as
    * zero is a business fact made explicit).
    *
    * Scale shape: the raw table touches ONE map-side-combined exchange
    * — the collapse to the (day, priority) grid, checkpointed so
    * every downstream consumer reads the grid, not the data (the
    * single-pass idiom). Date bounds and the priority domain are
    * derived FROM the grid (grid-sized aggregations, not re-scans);
    * the spine is generated DISTRIBUTED by `sequence()`-explode of the
    * 1-row bounds sidecar (never a driver loop), and the spine⋈rollup
    * join is between two bounded grids (days × |priorities|),
    * broadcast by AQE. At 100 TB nothing but the first aggregation
    * ever touches data-sized input.
    *
    * Determinism: counts are exact BIGINTs, revenue rides
    * DECIMAL(18,4) ([[dsum]] discipline) with zero-fill applied in
    * decimal before the final double cast. */
  def calendarFillDaily(orders: DataFrame): DataFrame = {
    val rollup = GraftPins.cut(orders
      .groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,4)")).as("rev")))
    val bounds = rollup.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val days = bounds.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val prios = rollup.select(col("o_orderpriority")).distinct()
    val spine = days.crossJoin(prios)
    spine.join(rollup, Seq("day", "o_orderpriority"), "left")
      .select(col("day"), col("o_orderpriority"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("rev"), lit(0).cast("decimal(18,4)")).cast("double").as("revenue"))
  }

  /** Exact distinct counting via 32-bit bitmap words — the roll-up
    * sketch for COUNT(DISTINCT) datacubes: each (group, id⟫5) cell
    * OR-accumulates a one-hot word, and the distinct count is the
    * popcount sum of the words. Unlike HLL ([[Hll]]) the answer is
    * EXACT, and unlike COUNT(DISTINCT) the per-group state is
    * mergeable across partitions, days, and cube cells (bit_or is
    * commutative/idempotent — re-aggregation never double-counts),
    * which is why bitmap indexes are the standard materialization for
    * distinct-count rollups. Requires a non-negative integral id.
    *
    * Scale shape: one map-side-combined exchange to the (group, word)
    * grid — at most |ids|/32 cells per group, each carrying a single
    * long — then a grid-sized popcount rollup. No shuffle ever carries
    * raw ids twice, and the words stay 8 bytes regardless of density
    * (32 ids per cell at full occupancy; a roaring-style container
    * switch is the sparse-regime refinement). */
  def bitmapDistinct(df: DataFrame, grpCol: String, idCol: String): DataFrame = {
    val words = df
      .groupBy(col(grpCol), expr(s"$idCol div 32").as("word"))
      .agg(expr(s"bit_or(shiftleft(1L, cast($idCol % 32 as int)))").as("mask"))
    words.groupBy(col(grpCol))
      .agg(count(lit(1)).as("n_words"),
        sum(expr("bit_count(mask)")).cast("long").as("n_distinct"))
  }

  /** Exact distributed NTILE without a single-partition global sort —
    * the [[graft.corpus.Corpus.pplBuckets]] rank machinery, factored
    * for any (orderCols → bucket) assignment: range-shuffle on the
    * order key, per-partition `row_number` (parallel, bounded),
    * per-partition counts collected (nPart rows, driver-tiny) and
    * folded into broadcast offsets so rank = local rank + offset; the
    * bucket is then the exact NTILE definition (first n mod b buckets
    * take one extra row). Tie order must be made total by the caller
    * (include a unique id in `orderCols`) — then DuckDB's NTILE over
    * the same ORDER BY replays it literally. Range boundaries need not
    * be reproducible: any placement yields the same total order and
    * therefore the same rank. */
  def exactNtile(df: DataFrame, nBuckets: Int, orderCols: Seq[String],
                 out: String): DataFrame = {
    require(nBuckets > 0, s"exactNtile: nBuckets must be > 0, got $nBuckets")
    rangeRun("exactNtile", df, orderCols.map(col), out, count(lit(1)), 0L, _ + _) {
      (w, offset, n) =>
        val base = n / nBuckets
        val rem = n % nBuckets
        val rank = row_number().over(w).cast("long") + offset
        val bucket =
          if (base == 0) rank
          else when(rank <= lit((base + 1) * rem),
              (rank - 1) / lit(base + 1) + 1)
            .otherwise(lit(rem) + (rank - 1 - lit((base + 1) * rem)) / lit(base) + 1)
        bucket.cast("long")
    }._1
  }

  /** The two-phase range scan behind [[exactNtile]], [[prefixSum]],
    * [[prefixMax]], [[globalRank]] and Corpus' `packShards` /
    * `packSequences` — a global order with no single-partition sort:
    * range-shuffle `df` on `orderCols` into `numPartitions` (default:
    * the session's shuffle partitions) partitions, sorted within, tag
    * each row with its partition `_pid` (baked into the rows, so a
    * later coalesce cannot rename it) and checkpoint that once
    * (AQE-off: one job, the range layout kept). Then collect the
    * partial aggregate `part` (a LONG) per (`_pid`, `stratum`) —
    * nPart·|strata| rows, driver-tiny, one AQE-off job over the
    * checkpoint — and fold each stratum's partials in partition order
    * from `zero` with `op`: the result is each slice's starting offset,
    * keyed (pid, stratum value; null without a stratum), plus the fold
    * of every partial (the row count when `part` counts). */
  private[graft] def rangeScan(df: DataFrame, orderCols: Seq[Column], part: Column,
                               zero: Long, op: (Long, Long) => Long,
                               stratum: Option[Column] = None, numPartitions: Int = 0)
      : (DataFrame, Map[(Int, Any), Long], Long) = {
    val spark = df.sparkSession
    val nPart = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = GraftPins.cut(df.repartitionByRange(nPart, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("_pid", spark_partition_id()), keepLayout = true)
    val keys = col("_pid") +: stratum.map(_.as("_stratum")).toSeq
    val subs = GraftPins.withAqeOff(spark)(ranged.groupBy(keys: _*).agg(part).collect())
      // an all-NULL partition's partial is NULL: it contributes nothing
      .map(r => (r.getInt(0), if (stratum.isEmpty) null else r.get(1),
        if (r.isNullAt(keys.size)) zero else r.getLong(keys.size)))
    val offsets = subs.groupBy(_._2).values.flatMap { rows =>
      val inOrder = rows.sortBy(_._1)
      inOrder.map(r => (r._1, r._2)).zip(inOrder.map(_._3).scanLeft(zero)(op).init)
    }.toMap
    (ranged, offsets, subs.map(_._3).foldLeft(zero)(op))
  }

  /** [[rangeScan]] with one output column: `value(w, offset, total)`
    * gets the per-partition window `w` (partitioned by `_pid`,
    * ordered by `orderCols`), the partition's starting offset as a
    * column and the fold of all partials; the result is checkpointed
    * (AQE-off: the `_pid` exchange, window and write are one job). */
  private def rangeRun(name: String, df: DataFrame, orderCols: Seq[Column], out: String,
                       part: Column, zero: Long, op: (Long, Long) => Long)(
      value: (org.apache.spark.sql.expressions.WindowSpec, Column, Long) => Column)
      : (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains(out) && !df.columns.contains("_pid"),
      s"$name: input already carries '$out' or '_pid'")
    val (ranged, offsets, total) = rangeScan(df, orderCols, part, zero, op)
    val offset =
      if (offsets.isEmpty) lit(zero)
      else element_at(map(offsets.toSeq.sortBy(_._1._1)
        .flatMap { case ((p, _), o) => Seq(lit(p), lit(o)) }: _*), col("_pid"))
    val w = Window.partitionBy(col("_pid")).orderBy(orderCols: _*)
    (GraftPins.cut(ranged.withColumn(out, value(w, offset, total)).drop("_pid"),
      keepLayout = true), total)
  }

  /** Cohort LTV (lifetime-value) matrix — the subscription-analytics
    * staple: customers grouped by the calendar month of their FIRST
    * order (the cohort), each cohort's activity and revenue tracked by
    * month offset from that start, with the running cumulative revenue
    * that an LTV curve plots. Month arithmetic is exact integer month
    * indexes (year·12 + month), never day-count division.
    *
    * Scale shape: the cohort month is a per-customer window min riding
    * ONE `o_custkey` hash exchange (no self-join of orders against a
    * first-order table); the (cohort, offset) collapse is the only
    * other data-sized exchange, and the cumulative window runs on that
    * bounded grid (≤ months² cells). Revenue rides DECIMAL(18,4) with
    * the cumulative sum still in decimal; doubles appear only in the
    * final rounded projection.
    *
    * Output: `cohort_month` ("YYYY-MM"), `month_offset`, `n_active`
    * (distinct customers active that offset), `revenue` (2 dp),
    * `cum_revenue` (2 dp, running by offset within cohort). */
  def ltvCohort(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
    val base = orders.select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        col("o_totalprice").cast("decimal(18,4)").as("price"))
      .withColumn("m", (year(col("d")) * 12 + month(col("d")) - 1).cast("long"))
      .withColumn("cm", min(col("m")).over(w))
    val grid = base.groupBy(col("cm"), (col("m") - col("cm")).as("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        sum(col("price")).as("rev"))
    val wc = Window.partitionBy(col("cm")).orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.withColumn("cum", sum(col("rev")).over(wc))
      .select(
        format_string("%04d-%02d", expr("cm div 12").cast("int"),
          (col("cm") % 12 + 1).cast("int")).as("cohort_month"),
        col("month_offset"), col("n_active"),
        round(col("rev").cast("double"), 2).as("revenue"),
        round(col("cum").cast("double"), 2).as("cum_revenue"))
  }

  /** Distributed exact prefix sum of an integral column over a total
    * order — the running-sum primitive behind sweep lines
    * ([[graft.ops.EventAnalytics.peakConcurrency]]), Pareto/ABC
    * cutoffs ([[abcClassification]]) and token-budget packing
    * ([[graft.corpus.Corpus.packShards]]' pattern, window form),
    * WITHOUT the single-partition global window that funnels the
    * whole table through one task: range-shuffle on `orderCols`,
    * per-partition running sums in parallel bounded windows,
    * per-partition subtotals (nPart rows, driver-tiny) folded into
    * broadcast offsets — the [[exactNtile]] rank machinery, sum form.
    *
    * `orderCols` must be a TOTAL order (include a unique id):
    * with duplicate keys the within-tie accumulation order — and so
    * every tied row's prefix value — would be nondeterministic.
    * `valCol` must be integral (the subtotals ride exact longs).
    * The result is checkpointed: each row carries `out` =
    * Σ valCol over all rows ≤ it in the order, current row included.
    *
    * Tiny inputs (≤ [[DriverGate.PrefixSumRows]] — value GRIDS, not
    * data: spearman's rounded-quantity grid is 50 rows, the discount
    * grid 11) skip the whole range machinery: the big path
    * ([[rangeScan]]) costs ~4 scheduled jobs per call (range sampling,
    * range checkpoint, subtotal collect, output checkpoint), which on a
    * grid-sized input is pure scheduling (the
    * r15 spearman probe: 3 prefixSums ≈ half the row's fixed
    * overhead). The tiny path checkpoints the input once (the same job
    * observes its row count), and returns a LAZY single-partition
    * bounded window — gate-sized by construction, zero further jobs,
    * and the identical exact integer prefix. */
  def prefixSum(df: DataFrame, orderCols: Seq[Column], valCol: String,
                out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains(out) && !df.columns.contains("_pid"),
      s"prefixSum: input already carries '$out' or '_pid'")
    val spark = df.sparkSession
    // one materialization either way: the big path's range sampling and
    // subtotal collect would re-execute the input; the gate reads the
    // row count the checkpoint job observes
    val (in, st) = GraftPins.ck(df)(count(lit(1)).as("n"))
    if (DriverGate.admits(spark, "prefixSum", DriverGate.PrefixSumRows, st.getLong(0))) {
      // pmod(…, 1) = constant partition key: the repo's bounded
      // single-partition window idiom (no "no partition" plan warning)
      val wAll = Window.partitionBy(pmod(col(valCol).cast("long"), lit(1)))
        .orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return in.withColumn(out, sum(col(valCol)).over(wAll).cast("long"))
    }
    rangeRun("prefixSum", in, orderCols, out, sum(col(valCol)).cast("long"), 0L, _ + _) {
      (w, offset, _) => sum(col(valCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long") + offset
    }._1
  }

  /** Distributed exact prefix MAX over a total order — [[prefixSum]]'s
    * running-maximum sibling (same two-phase machinery: range shuffle,
    * parallel bounded windows, driver-tiny per-partition maxima folded
    * into broadcast offsets; max is associative and commutative, so
    * the offset for partition p is just the max of all earlier
    * partitions' maxima). The running high-water mark this computes is
    * what event-time systems track per stream. Same total-order and
    * integral-type contract as [[prefixSum]]. */
  def prefixMax(df: DataFrame, orderCols: Seq[Column], valCol: String,
                out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    rangeRun("prefixMax", df, orderCols, out, max(col(valCol)).cast("long"), Long.MinValue,
      math.max) { (w, offset, _) =>
      greatest(max(col(valCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"), offset)
    }._1
  }

  /** Distributed exact global rank over a total order — the third
    * face of the two-phase machinery ([[exactNtile]] buckets,
    * [[prefixSum]]/[[prefixMax]] running aggregates, this one the raw
    * 1-based rank): range shuffle, parallel per-partition row_numbers,
    * driver-tiny per-partition counts folded into broadcast offsets.
    * Same total-order contract (include a unique id). */
  def globalRank(df: DataFrame, orderCols: Seq[Column], out: String): DataFrame =
    globalRankN(df, orderCols, out)._1

  /** [[globalRank]] and its row count, which the subtotal collect
    * already holds (no job of its own). */
  private[graft] def globalRankN(df: DataFrame, orderCols: Seq[Column],
                                 out: String): (DataFrame, Long) =
    rangeRun("globalRank", df, orderCols, out, count(lit(1)), 0L, _ + _) {
      (w, offset, _) => row_number().over(w).cast("long") + offset
    }

  /** Customer revenue concentration — the exact Gini coefficient of
    * lifetime revenue across customers (the "do 1% of accounts carry
    * the book" inequality readout; 0 = perfectly even, →1 = one
    * account is the business): closed-form rank-weighted Gini
    * G = 2·Σ rᵢxᵢ / (n·Σx) − (n+1)/n over revenues sorted ascending,
    * ties broken by customer key (a total order, so both engines
    * weight identically).
    *
    * Determinism & scale: revenue collapses to integer cents in ONE
    * custkey exchange; the rank is [[globalRank]] (no single-partition
    * sort of the customer table); Σx and Σ r·x ride DECIMAL(38,0)
    * exactly, and the two divides + one subtraction are the mirrored
    * IEEE tail. */
  def giniRevenue(orders: DataFrame): DataFrame = {
    val rev = orders.groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
    val ranked = globalRank(rev, Seq(col("cents"), col("o_custkey")), "r")
    ranked.agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).cast("decimal(38,0)").as("s"),
        sum(col("r").cast("decimal(19,0)") * col("cents").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("w"))
      .select(col("n_customers"),
        round(col("s").cast("double") / 100, 2).as("total_revenue"),
        round(lit(2.0) * col("w").cast("double") /
            (col("n_customers") * col("s").cast("double")) -
          (col("n_customers") + 1).cast("double") / col("n_customers"), 6).as("gini"))
  }

  /** Theil T inequality index over customer revenue — the
    * decomposable complement to [[giniRevenue]]: T = (1/n)·Σ
    * (xᵢ/μ)·ln(xᵢ/μ), 0 for perfect equality, ln(n) when one customer
    * holds everything; `theil_norm` = T / ln(n) rescales to [0, 1].
    *
    * Determinism discipline: the base is the same exact integer-cent
    * per-customer table as [[giniRevenue]]; μ comes from an exact
    * DECIMAL(38,0) total (one correctly-rounded double divide); each
    * per-customer term (r·ln r, the file's one transcendental) is
    * ROUND(…, 6) THEN cast DECIMAL(18,6) before summing, so the
    * cross-engine sum is exact decimal addition of identically-rounded
    * terms — the x_mix_epochs sqrt idiom ([[graft.corpus.Corpus]]),
    * never an order-dependent double fold.
    *
    * Scale shape: one map-side-combined exchange collapses orders to
    * customers; the total is observed by the customer table's
    * checkpoint job and read as a literal; the term rollup is a second
    * map-side-combined aggregation. No window, no sort, no global
    * single partition anywhere.
    *
    * Output: one row — `n_customers`, `theil` (6 dp),
    * `theil_norm` (6 dp; NULL for one customer, where ln n = 0). */
  def theilRevenue(orders: DataFrame): DataFrame = {
    // checkpointed once; its job observes the total the term pass reads
    val (rev, tot) = GraftPins.ck(orders.groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
      .filter(col("cents") > 0))( // 0·ln 0 is NaN; zero-mass holders carry no entropy
      count(lit(1)).as("n"), sum(col("cents")).cast("decimal(38,0)").as("s"))
    GraftPins.withScalars(rev, tot)
      .select(col("n"),
        round((col("cents").cast("double") * col("n") / col("s").cast("double")) *
            log(col("cents").cast("double") * col("n") / col("s").cast("double")), 6)
          .cast("decimal(18,6)").as("term"))
      .groupBy(col("n"))
      .agg(sum(col("term")).as("ts"))
      .select(col("n").as("n_customers"),
        round(col("ts").cast("double") / col("n"), 6).as("theil"),
        // one customer: ln 1 = 0 leaves the normalized index undefined
        when(col("n") > 1,
          round(col("ts").cast("double") / col("n") / log(col("n").cast("double")), 6))
          .as("theil_norm"))
  }

  /** Theil T between/within decomposition by customer nation — the
    * property that justifies Theil over Gini ([[theilRevenue]]'s
    * scaladoc): T_total = Σ_g share_g·T_within_g + Σ_g share_g·
    * ln(share_g / popshare_g), exactly — so the inequality number
    * splits into "inequality AMONG a nation's customers" and
    * "inequality BETWEEN nations", and a governance dashboard can say
    * which one moved. (Gini does not decompose additively.)
    *
    * Determinism: the same exact integer-cent base, exact decimal
    * group totals, per-term ROUND-then-DECIMAL for the within sums
    * (the [[theilRevenue]] transcendental discipline), and the
    * between term is one fixed-shape double expression per group,
    * mirrored by the oracle. Zero-mass customers are excluded
    * identically (0·ln 0).
    *
    * Scale shape: one customer-key exchange (map-side combined), the
    * nation dim broadcast, the group table broadcast back into the
    * term pass (|nations| rows), two grid-sized rollups; the grand
    * totals are observed by the group table's checkpoint job. Output per
    * nation: `nationkey`, `n_customers`, `income_share`,
    * `theil_within`, `between_term` (all 6 dp). */
  def theilDecomposition(orders: DataFrame, customer: DataFrame): DataFrame = {
    // group totals AND the term pass read it
    val rev = GraftPins.cut(orders.groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_nationkey").cast("int").as("nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("nationkey"), col("cents")))
    val (g, tot) = GraftPins.ck(rev.groupBy(col("nationkey"))
      .agg(count(lit(1)).as("ng"), sum(col("cents")).cast("decimal(38,0)").as("sg")))(
      sum(col("ng")).cast("long").as("n"), sum(col("sg")).cast("decimal(38,0)").as("s"))
    val terms = rev.join(broadcast(g), Seq("nationkey"))
      .select(col("nationkey"),
        round((col("cents").cast("double") * col("ng") / col("sg").cast("double")) *
          log(col("cents").cast("double") * col("ng") / col("sg").cast("double")), 6)
          .cast("decimal(18,6)").as("term"))
      .groupBy(col("nationkey")).agg(sum(col("term")).as("tsum"))
    GraftPins.withScalars(g.join(terms, Seq("nationkey")), tot)
      .select(col("nationkey"), col("ng").as("n_customers"),
        round(col("sg").cast("double") / col("s").cast("double"), 6).as("income_share"),
        round(col("tsum").cast("double") / col("ng"), 6).as("theil_within"),
        round(col("sg").cast("double") / col("s").cast("double") *
          log(col("sg").cast("double") * col("n") /
            (col("ng") * col("s").cast("double"))), 6).as("between_term"))
  }

  /** ABC / Pareto inventory classification — every part ranked by
    * lifetime revenue, classed A while the running revenue share is
    * ≤ 80%, B through 95%, C beyond (the classic 80/15/5 stocking
    * policy cut), reported as the per-class rollup.
    *
    * Scale shape: lineitem collapses to the per-part revenue table in
    * ONE map-side-combined exchange; the cumulative share is a
    * [[prefixSum]] over (revenue desc, partkey) — parts are
    * data-sized in a real catalog, so no single-partition window —
    * and the class cuts compare exact integer cents cross-multiplied
    * against the total, observed by the running sum's checkpoint job
    * (cum·5 ≤ tot·4 IS share ≤ 0.8: no float share ever decides a
    * boundary).
    *
    * Output: one row per class — `abc_class`, `n_parts`, `revenue`
    * (2 dp), `share` (6 dp). */
  def abcClassification(lineitem: DataFrame): DataFrame = {
    val rev = lineitem.groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("cents"))
    val (cum, tot) = GraftPins.ck(
      prefixSum(rev, Seq(col("cents").desc, col("l_partkey")), "cents", "cum"))(
      max(col("cum")).as("tot"))
    GraftPins.withScalars(cum, tot)
      .withColumn("abc_class",
        when(col("cum") * 5 <= col("tot") * 4, lit("A"))
          .when(col("cum") * 20 <= col("tot") * 19, lit("B"))
          .otherwise(lit("C")))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("cents")).cast("double") / 100, 2).as("revenue"),
        round(sum(col("cents")).cast("double") / max(col("tot")), 6).as("share"))
  }

  /** Inter-order gap profile — the purchase-cadence readout (how long
    * between a customer's consecutive orders): exact mean, median and
    * p90 of the per-customer day gaps, computed WITHOUT sorting the
    * gap table: day gaps live on a small integer domain (≤ the date
    * range in days), so the gap table collapses to a (gap → count)
    * frequency grid — the count-of-counts trick ([[graft.ops.Skew]]'s
    * precedent) — and every rank statistic reads the grid's running
    * counts. Median is the two-middle-ranks average ((n+1)÷2,
    * (n+2)÷2, exact doubled-integer form), p90 the smallest gap whose
    * running count reaches ⌈0.9·n⌉.
    *
    * Scale shape: one custkey exchange for the lag window, one
    * map-side-combined collapse to the grid; the grid window is
    * bounded by the day-domain (10³ rows for a 3-year log), never
    * data-sized.
    *
    * Output: one row — `n_gaps`, `mean_gap` (6 dp), `median_gap`,
    * `p90_gap`. */
  def interOrderGapProfile(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d"), col("o_orderkey"))
    val gaps = orders
      .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
      .withColumn("gap", datediff(col("d"), lag(col("d"), 1).over(w)))
      .where(col("gap").isNotNull)
    val grid = gaps.groupBy(col("gap")).agg(count(lit(1)).as("cnt"))
    val wg = Window.orderBy(col("gap")) // grid-sized: bounded by the day domain
    // grid-sized; its job observes the totals the rank stats read
    val (run, tot) = GraftPins.ck(grid.withColumn("rc", sum(col("cnt")).over(
      wg.rowsBetween(Window.unboundedPreceding, Window.currentRow))))(
      max(col("rc")).as("n"), sum(col("gap") * col("cnt")).as("gs"))
    GraftPins.withScalars(run, tot)
      .agg(
        max(col("n")).as("n_gaps"),
        round(max(col("gs")).cast("double") / max(col("n")), 6).as("mean_gap"),
        ((min(when(col("rc") >= expr("(n + 1) div 2"), col("gap"))) +
          min(when(col("rc") >= expr("(n + 2) div 2"), col("gap"))))
          .cast("double") / 2).as("median_gap"),
        min(when(col("rc") * 10 >= col("n") * 9, col("gap"))).as("p90_gap"))
  }

  /** Kaplan–Meier survival curve of customer lifetime — the churn
    * analysis staple (Kaplan & Meier 1958): lifetime = days between a
    * customer's first and last order; a customer whose last order
    * falls within `censorDays` of the data's end is RIGHT-CENSORED
    * (still alive — they may simply not have ordered yet), everyone
    * else's lifetime ended (churn event). At each event time t with
    * d_t churns out of n_t at-risk customers, the survival estimate
    * multiplies by (n_t − d_t)/n_t.
    *
    * Determinism: the product recursion rides scaled integers —
    * s9' = (2·s9·(n−d) + n) div (2·n), exact half-up at 9 dp — so a
    * recursive CTE replays the curve bit-for-bit (magnitudes: 2·s9·n
    * must fit a long — safe through ~4·10⁹ at-risk customers). The
    * at-risk counts are exact window-cumulated integers.
    *
    * Scale shape: ONE custkey exchange collapses orders to the
    * checkpointed per-customer (first, last) table; the horizon (observed
    * by its checkpoint job) and the lifetimes derive from that table
    * (orders is never re-scanned), the population size from the
    * duration grid's checkpoint job, and everything after lives on the
    * duration grid (bounded by the day domain) — cumulative at-risk
    * via a grid window, the sequential KM product as a day-array
    * `aggregate()` fold that EMITS the running curve (the
    * [[graft.ops.EventAnalytics.sesForecastDaily]] pattern, prefix
    * form), exploded back to rows.
    *
    * Output: one row per event time — `duration_days`, `n_risk`,
    * `n_events`, `survival` (6 dp, the post-t estimate). */
  def kmSurvival(orders: DataFrame, censorDays: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(censorDays >= 0, s"kmSurvival: censorDays must be >= 0, got $censorDays")
    // one custkey exchange serves lifetimes; its job observes the horizon
    val (perCust, horizon) = GraftPins.ck(orders
      .groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("first"),
        max(to_date(col("o_orderdate"))).as("last")))(max(col("last")).as("dmax"))
    val life = GraftPins.withScalars(perCust, horizon)
      .select(datediff(col("last"), col("first")).as("t"),
        when(datediff(col("dmax"), col("last")) > censorDays, 1L).otherwise(0L)
          .as("event"))
    // grid-sized; serves at-risk and the fold, its job observes N
    val (grid, n) = GraftPins.ck(life.groupBy(col("t"))
      .agg(count(lit(1)).cast("long").as("tot"), sum(col("event")).as("d")))(
      sum(col("tot")).cast("long").as("n"))
    val wg = Window.orderBy(col("t")) // grid-sized: bounded by the day domain
    val risked = GraftPins.withScalars(grid
      .withColumn("before", coalesce(sum(col("tot")).over(
        wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))), n)
      .select(col("t"), (col("n") - col("before")).as("risk"), col("d"))
      .where(col("d") > 0)
    val arr = risked
      .agg(sort_array(collect_list(struct(col("t"), col("risk"), col("d")))).as("a"))
    // prefix-emitting fold: acc = (s9, rows); each step multiplies the
    // scaled survival and appends the post-step row
    val curve = arr.select(explode(expr("""
        aggregate(a,
          named_struct('s9', 1000000000L,
                       'rows', cast(array() as array<struct<t:int,risk:bigint,d:bigint,s9:bigint>>)),
          (acc, x) -> named_struct(
            's9', (2L * acc.s9 * (x.risk - x.d) + x.risk) div (2L * x.risk),
            'rows', array_append(acc.rows, named_struct(
              't', x.t, 'risk', x.risk, 'd', x.d,
              's9', (2L * acc.s9 * (x.risk - x.d) + x.risk) div (2L * x.risk)))),
          acc -> acc.rows)
      """)).as("r"))
    curve.select(col("r.t").as("duration_days"), col("r.risk").as("n_risk"),
      col("r.d").as("n_events"),
      round(col("r.s9").cast("double") / 1000000000L, 6).as("survival"))
  }

  /** Per-segment mean with a 95% normal confidence interval — the
    * "is this segment really different" readout under every dashboard
    * comparison: mean ± 1.96·s/√n from EXACT integer-cents moments
    * (sum and sum-of-squares ride BIGINT/DECIMAL(38,0); only the final
    * sqrt/divide chain is IEEE, mirrored by the oracle — the
    * [[graft.ops.DataQuality]] Welch-t discipline). Sample variance
    * (n−1); a 1-row segment reports NULL bounds, never Infinity.
    *
    * Scale shape: ONE map-side-combined exchange to the segment grid;
    * nothing else touches data-sized input.
    *
    * Output: one row per segment — `n`, `mean` (2 dp), `ci_lo`,
    * `ci_hi` (2 dp). */
  def segmentCi(orders: DataFrame, segCol: String = "o_orderpriority"): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val g = orders.groupBy(col(segCol))
      .agg(count(lit(1)).as("n"),
        sum(cents).cast("decimal(38,0)").as("s1"),
        sum((cents * cents).cast("decimal(38,0)")).as("s2"))
    // var = (n*s2 - s1^2) / (n*(n-1)) in cents^2, exact until the divide
    val mean = col("s1").cast("double") / col("n") / 100.0
    val varc = (col("n").cast("decimal(38,0)") * col("s2") - col("s1") * col("s1"))
      .cast("double") / (col("n") * (col("n") - 1)).cast("double")
    val half = lit(1.96) * sqrt(varc / col("n").cast("double")) / 100.0
    g.select(col(segCol), col("n"),
      round(mean, 2).as("mean"),
      when(col("n") > 1, round(mean - half, 2)).as("ci_lo"),
      when(col("n") > 1, round(mean + half, 2)).as("ci_hi"))
  }

  /** Incremental JOIN maintenance — the delta algebra
    * Δ(A ⋈ B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB that materialized-view
    * engines apply when BOTH sides of a join receive new rows (the
    * join twin of [[mergeDistributive]]'s aggregate law): the
    * maintained view is V₀ ∪ [[joinDeltaRows]], and only
    * delta-proportional work touches the big tables.
    *
    * Scale shape: with |Δ| ≪ |base| each of the three terms joins a
    * delta against a base (or delta against delta) — the deltas
    * broadcast, so maintenance never re-shuffles the base tables;
    * the full re-join this replaces shuffles BOTH bases every
    * refresh. (Equi-key only; the caller appends the result to the
    * stored view.) */
  def joinDeltaRows(aOld: DataFrame, aDelta: DataFrame,
                    bOld: DataFrame, bDelta: DataFrame,
                    aKey: String, bKey: String): DataFrame = {
    def j(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, col(aKey) === col(bKey))
    j(aDelta, bOld).unionByName(j(aOld, bDelta)).unionByName(j(aDelta, bDelta))
  }

  /** Bloom semi-join reduction — the classic shuffle-shrinking
    * technique for a selective big⋈small join: build a bloom filter
    * over the small side's keys, probe it on the big side BEFORE the
    * join's exchange, and let only probable matches shuffle. With a
    * selective small side (a quarter of orders against years of line
    * items) the exchange shrinks by roughly the selectivity; bloom
    * false positives only waste a few shuffled rows — the join
    * afterwards makes the RESULT exactly the plain join (no false
    * negatives), which is what the oracle pins.
    *
    * This is what Spark's AQE runtime bloom filter does implicitly —
    * but that machinery caps the sketch at plan-literal sizes
    * (`runtime.bloomFilter.maxNumBits`, 8 MB default) and bails above
    * them; this explicit form rides a TORRENT BROADCAST probe
    * ([[org.apache.spark.sql.graftext.VectorExpressions
    * .bloomMightContainBcast]] — the ingest-dedup transport), so the
    * sketch can be sized for ~10⁹-key dimensions. Build is one
    * pass over the small side's keys (per-partition filters
    * tree-reduced — the [[graft.dedup.Dedup]] build shape).
    *
    * The broadcast handle lives until the context cleaner collects
    * it; a long-lived driver that calls this in a loop should prefer
    * [[bloomPrunedJoinWithHandle]] and `destroy()` after consuming
    * the result (the heavyHitterTokens precedent). */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame,
                      bigKey: String, smallKey: String,
                      fpp: Double = 0.01): DataFrame =
    bloomPrunedJoinWithHandle(big, small, bigKey, smallKey, fpp)._1

  /** [[bloomPrunedJoin]] returning the broadcast handle for explicit
    * `destroy()` once the result has been consumed. */
  def bloomPrunedJoinWithHandle(big: DataFrame, small: DataFrame,
                                bigKey: String, smallKey: String, fpp: Double = 0.01)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]) = {
    require(fpp > 0 && fpp < 1, s"bloomPrunedJoin: fpp must be in (0,1), got $fpp")
    val V = org.apache.spark.sql.graftext.VectorExpressions
    val keys = small.select(xxhash64(col(smallKey)).as("_k"))
    val n = math.max(keys.count(), 1L)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    val partials = keys.queryExecution.toRdd.mapPartitions { it =>
      val f = org.apache.spark.util.sketch.BloomFilter.create(n, numBits)
      it.foreach(r => f.putLong(r.getLong(0)))
      Iterator(f)
    }
    val filter = try partials.treeReduce((a, b) => a.mergeInPlace(b))
      catch {
        case _: UnsupportedOperationException =>
          org.apache.spark.util.sketch.BloomFilter.create(n, numBits)
      }
    val bloom = big.sparkSession.sparkContext.broadcast(filter)
    val pruned = big.filter(V.bloomMightContainBcast(bloom, xxhash64(col(bigKey))))
    (pruned.join(small, col(bigKey) === col(smallKey)), bloom)
  }

  /** Revenue mix by part price decile — where the money actually sits
    * on the catalog's price ladder (the merchandising "price
    * architecture" view): parts cut into exact retail-price deciles,
    * line-item revenue rolled up per decile.
    *
    * Scale shape: the decile cut is [[exactNtile]] on the PART table —
    * parts are catalog-sized but can be hundreds of millions of rows,
    * so no single-partition NTILE window — and the (partkey, decile)
    * map then joins lineitem on partkey (broadcastable while the
    * catalog fits, the same judgment as any dimension join). Revenue
    * rides the integer-cents discipline.
    *
    * Output: one row per decile — `price_decile`, `n_parts`,
    * `n_lines`, `revenue` (2 dp). */
  def priceDecileMix(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val deciles = exactNtile(
      part.select(col("p_partkey"), col("p_retailprice")),
      10, Seq("p_retailprice", "p_partkey"), "price_decile")
    val cents = round(col("l_extendedprice") * 100).cast("long")
    lineitem.select(col("l_partkey"), cents.as("cents"))
      .join(broadcast(deciles.select(col("p_partkey"), col("price_decile"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("price_decile"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_lines"),
        round(sum(col("cents")).cast("double") / 100, 2).as("revenue"))
  }

  /** RFM segmentation — the classic marketing cube: each customer
    * scored 1..5 by quintile on Recency (days since last order, global
    * max date as "today"), Frequency (order count) and Monetary
    * (lifetime revenue), reported as the 125-cell (r, f, m) matrix
    * with customer counts and revenue. Score orientation is ascending
    * metric order (r_q = 1 ⇒ MOST recent, f_q/m_q = 5 ⇒ most
    * frequent/valuable); ties break by customer key so every
    * assignment is total-order deterministic.
    *
    * Scale shape: one data-sized exchange collapses orders to the
    * per-customer metric table (~|customers| rows); the three quintile
    * assignments are [[exactNtile]] range-shuffles of that bounded
    * table (no single-partition sort anywhere); the final rollup is
    * grid-sized. Monetary rides exact integer cents end-to-end. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val mx = orders.agg(max(to_date(col("o_orderdate"))).as("d1"))
    val perCust = orders.crossJoin(broadcast(mx))
      .groupBy(col("o_custkey"))
      .agg(min(datediff(col("d1"), to_date(col("o_orderdate")))).as("rec"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
    val scored = Seq(
      (Seq("rec", "o_custkey"), "r_q"),
      (Seq("freq", "o_custkey"), "f_q"),
      (Seq("cents", "o_custkey"), "m_q"))
      .foldLeft(perCust) { case (df, (ord, out)) => exactNtile(df, 5, ord, out) }
    scored.groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("cents")).cast("double") / 100.0, 2).as("total_revenue"))
  }

  /** Distributed PERCENT_RANK within groups — the scalable form of
    * `percent_rank().over(Window.partitionBy(grp).orderBy(v))`, whose
    * plan serializes each group into ONE task's sort: with a handful of
    * group values (event types, countries) a 10× log is 10× more rows
    * through the same few threads — measured 3.7× at 10× data on
    * x_quantile_norm before this replacement.
    *
    * Construction: collapse to the (grp, v) VALUE GRID (map-side
    * combined — also what makes value ties exact by construction),
    * run [[prefixSum]]'s two-phase running count over the (grp, v)
    * total order, convert to within-group min-ranks by subtracting the
    * broadcast per-group start offset, and hash-join the grid back.
    * percent_rank = (minrank − 1)/(n − 1) with ties sharing the tie
    * group's MIN rank — exactly SQL PERCENT_RANK, including the
    * single-row-group → 0.0 convention. The output `out` is the raw
    * double (callers round).
    *
    * Scale shape: one grid collapse, one range exchange over grid rows,
    * one tiny broadcast of per-group totals, one value-key join back —
    * every stage parallel in the DATA, none in the group count. */
  /** The grid half of [[groupedPercentRank]], exposed for rank-pick
    * consumers ([[Ols.conformalPerGroup]]'s per-group quantile): the
    * within-group VALUE GRID with exact long ranks — one row per
    * (grp, v) with `_cnt` (tie count), `_minrank` (1-based min rank of
    * the tie run, so the run covers ranks [_minrank, _minrank+_cnt−1])
    * and `_gn` (group size). Same construction, same scale shape
    * (grid collapse + two-phase running count + broadcast offsets);
    * output column names are fixed and `_`-prefixed. */
  def groupedValueRanks(df: DataFrame, grp: String, v: String): DataFrame = {
    val grid = df.groupBy(col(grp), col(v)).agg(count(lit(1)).as("_cnt"))
    val pre = prefixSum(grid, Seq(col(grp), col(v)), "_cnt", "_pre")
    val gtot = pre.groupBy(col(grp))
      .agg(max(col("_pre")).as("_gend"), sum(col("_cnt")).cast("long").as("_gn"))
      .withColumnRenamed(grp, "_tg")
    pre.join(broadcast(gtot), col(grp) <=> col("_tg"))
      .select(col(grp), col(v), col("_cnt"),
        (col("_pre") - col("_cnt") - (col("_gend") - col("_gn")) + 1L).as("_minrank"),
        col("_gn"))
  }

  def groupedPercentRank(df: DataFrame, grp: String, v: String,
                         out: String): DataFrame = {
    require(!df.columns.contains(out),
      s"groupedPercentRank: input already carries '$out'")
    val ranks = groupedValueRanks(df, grp, v)
      .select(col(grp).as("_rg"), col(v).as("_rv"), col("_minrank"), col("_gn"))
    // Null-safe join back: a plain (grp, v) equi-join silently DROPS rows
    // whose group or value is NULL, whereas the PERCENT_RANK window this
    // replaces keeps them (nulls rank first under Spark's default
    // asc_nulls_first — which is also where the grid's range exchange
    // sorts them, so the computed _minrank is already correct for them).
    df.join(ranks, df(grp) <=> ranks("_rg") && df(v) <=> ranks("_rv"))
      .drop("_rg", "_rv")
      .withColumn(out,
        when(col("_gn") === 1L, lit(0.0))
          .otherwise((col("_minrank") - 1L).cast("double") /
            (col("_gn") - 1L).cast("double")))
      .drop("_minrank", "_gn")
  }

  /** Decile-migration matrix — the rank-mobility readout: customers
    * bucketed into revenue deciles in year A and again in year B, with
    * the count and revenue mass of every (from, to) cell. Decile 0 means
    * "absent that year" (churned on the B side, newly active on the A
    * side), so the matrix carries churn and acquisition along with the
    * mobility diagonal.
    *
    * Both decile cuts ride [[exactNtile]] (range shuffle + per-partition
    * window + driver-tiny offset table — never a single-partition global
    * NTILE window), over the total order (cents, custkey) so the cut is
    * deterministic and DuckDB's NTILE replays it exactly. The year
    * tables join on the customer key (both sides already collapsed to
    * one row per customer — map-side-combined aggregates, so the join
    * input is customer-sized no matter how many orders), full-outer to
    * keep single-year customers.
    *
    * Output: `decile_from`, `decile_to` (0 = absent), `n_customers`,
    * `revenue_from`, `revenue_to` (exact cents, one rounded divide). */
  def decileMigration(orders: DataFrame, yearA: Int = 1996, yearB: Int = 1997,
                      nBuckets: Int = 10): DataFrame = {
    def yearRev(y: Int): DataFrame = orders
      .filter(year(to_date(col("o_orderdate"))) === y)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
    val da = exactNtile(yearRev(yearA), nBuckets, Seq("cents", "o_custkey"), "dec")
      .select(col("o_custkey"), col("dec").as("dec_a"), col("cents").as("cents_a"))
    val db = exactNtile(yearRev(yearB), nBuckets, Seq("cents", "o_custkey"), "dec")
      .select(col("o_custkey"), col("dec").as("dec_b"), col("cents").as("cents_b"))
    da.join(db, Seq("o_custkey"), "full_outer")
      .groupBy(coalesce(col("dec_a"), lit(0L)).cast("int").as("decile_from"),
        coalesce(col("dec_b"), lit(0L)).cast("int").as("decile_to"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        round(sum(coalesce(col("cents_a"), lit(0L))).cast("decimal(38,0)")
          .cast("double") / 100, 2).as("revenue_from"),
        round(sum(coalesce(col("cents_b"), lit(0L))).cast("decimal(38,0)")
          .cast("double") / 100, 2).as("revenue_to"))
  }

  /** Herfindahl–Hirschman revenue-concentration index per customer
    * nation — the market-concentration staple: HHI = Σ sᵢ² over customer
    * revenue shares sᵢ within the nation, 1/n for perfect equality, 1.0
    * for a monopoly customer.
    *
    * Exactness: Σ centsᵢ² and the total are exact decimals (operands
    * cast to DECIMAL(19,0) BEFORE the product so an extreme customer
    * overflows to NULL rather than wrapping — the Ols.moments witness
    * discipline); HHI = sq/tot² is then ONE double expression with a
    * pinned op order, mirrored in the oracle, so both engines round the
    * same double.
    *
    * Scale shape: orders collapse to customers in one map-side-combined
    * exchange; the nation dimension attaches by broadcast; the nation
    * rollup is a second tiny combine. No window, no sort. */
  def hhiConcentration(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rev = orders.groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
    rev.join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        rev("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("int").as("nationkey"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum(col("cents")).cast("decimal(38,0)").as("tot"),
        sum(col("cents").cast("decimal(19,0)") * col("cents").cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("sq"))
      .select(col("nationkey"), col("n_customers"),
        round(col("tot").cast("double") / 100, 2).as("total_revenue"),
        round(col("sq").cast("double") /
          (col("tot").cast("double") * col("tot").cast("double")), 6).as("hhi"),
        round(lit(1.0) / col("n_customers"), 6).as("hhi_floor"))
  }

  /** Poisson-bootstrap 95% CI for the mean order value — the
    * resampling complement to [[segmentCi]]'s normal-theory interval:
    * instead of assuming √n-normality, each of `b` virtual resamples
    * re-weights every row by an independent Poisson(1) count (the
    * streaming/scalable bootstrap: at n→∞ multinomial(n, 1/n) resample
    * counts converge to iid Poisson(1), so one pass over the data with
    * b counters per row replaces b materialized resamples), and the CI
    * is the percentile interval over the b resample means.
    *
    * Determinism: the Poisson draw is inverse-CDF over a 52-bit
    * integer uniform u = md5(orderkey‖rep)[0:13] — the catalog's md5
    * cross-engine family — compared against precomputed INTEGER
    * thresholds ⌊CDF(k)·2⁵²⌋ (exact integer compares, no float parse
    * anywhere in the draw); per-rep sums are exact decimals; each
    * resample mean is ONE double divide chain mirrored by the oracle;
    * the percentile picks ranks ⌈0.025·g⌉ and ⌈0.975·g⌉ over the
    * (mean, rep) total order, where g is the SURVIVING rep count
    * (= b on any non-degenerate input).
    *
    * Scale shape: the ×b row expansion happens map-side (explode of a
    * b-literal array) and is consumed by the partial hash-aggregate in
    * the SAME stage — the exchange carries b partial rows per task,
    * never b× the data. The rank/percentile pass runs on the b-row
    * grid. At 100 TB this is the textbook one-pass bootstrap: no
    * resample is ever materialized. */
  /** ⌊CDF_Poisson(1)(k)·2⁵²⌋ for k = 0..7; a 52-bit uniform ≥ the last
    * threshold draws 8. Canonical array lives in the native kernel
    * ([[org.apache.spark.sql.graftext.GraftKernels.PoissonCdf52]]);
    * shared by [[bootstrapCiPoisson]] and its streaming twin
    * ([[graft.streaming.EventStream.bootstrapCounters]]) so the draws
    * can never diverge. */
  val PoissonCdf52: Seq[Long] =
    org.apache.spark.sql.graftext.GraftKernels.PoissonCdf52.toSeq

  def bootstrapCiPoisson(orders: DataFrame, b: Int = 64): DataFrame = {
    require(b >= 2 && b <= 4096, s"bootstrapCiPoisson: b=$b out of range")
    import org.apache.spark.sql.expressions.Window
    val base = orders.select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    // Parallelize the draw past a small scan's single input split by
    // round-robining the NARROW base (key + cents — measured
    // 35.8 s → ~2 s at sf0.1), but ONLY when the scan is actually
    // under-split: on a multi-split 100 TB scan the exchange is a full
    // shuffle of (key, cents) bought for nothing, so it is gated on
    // the source's planned partition count. The b draws per row come
    // out of ONE native kernel call (PoissonBootstrapDraws — b/2
    // interpreted concat→md5→substr→conv chains measured a
    // 5.4×-at-10× compute tax), and the resample sums are 2b RUNNING
    // AGGREGATES over the base — no ×b row expansion is ever
    // materialized: the b-element draw array feeds b (m, s) sum pairs
    // in one pass, and only the 1×2b result reshapes (posexplode of
    // two b-literal arrays) into the b-row grid.
    val nPart = orders.sparkSession.sessionState.conf.numShufflePartitions
    val srcParts = base.rdd.getNumPartitions
    val spread: DataFrame => DataFrame =
      if (srcParts < nPart) _.repartition(nPart) else identity
    val perRepAggs: Seq[Column] = (0 until b).flatMap { j =>
      Seq(sum(element_at(col("ks"), j + 1)).cast("decimal(38,0)").as(s"_m$j"),
        sum(element_at(col("ks"), j + 1).cast("decimal(19,0)")
          * col("cents").cast("decimal(19,0)")).cast("decimal(38,0)").as(s"_s$j"))
    }
    val one = spread(base)
      .select(col("cents"),
        org.apache.spark.sql.graftext.VectorExpressions
          .poissonBootstrapDraws(col("o_orderkey"), b).as("ks"))
      .agg(perRepAggs.head, perRepAggs.tail: _*)
    val perRep = one
      .select(posexplode(arrays_zip(
        array((0 until b).map(j => col(s"_m$j")): _*),
        array((0 until b).map(j => col(s"_s$j")): _*))))
      .select(col("pos").cast("int").as("rep"),
        col("col").getField("0").as("m"), col("col").getField("1").as("s"))
      .filter(col("m") > 0)
      .select(col("rep"),
        (col("s").cast("double") / col("m").cast("double") / 100.0).as("mean_b"))
    // percentile ranks over the SURVIVING rep count (reps with zero
    // total Poisson mass — possible only on tiny inputs — drop out of
    // the grid; ranking over the fixed b there would leave rank
    // ⌈0.975·b⌉ unoccupied and return a silently-NULL ci_hi). On any
    // real input every rep survives and the ranks equal the fixed-b
    // ones. The oracle mirrors the surviving-count ranks.
    val rnW = Window.orderBy(col("mean_b"), col("rep")) // ≤ b-row grid
    val gW = Window.partitionBy()
    val ci = perRep.withColumn("rn", row_number().over(rnW).cast("long"))
      .withColumn("g", count(lit(1)).over(gW))
      .agg(max(when(col("rn") === greatest(ceil(lit(0.025) * col("g")), lit(1L)),
          col("mean_b"))).as("lo"),
        max(when(col("rn") === ceil(lit(0.975) * col("g")), col("mean_b"))).as("hi"))
    val point = base.agg(count(lit(1)).cast("long").as("n_rows"),
      sum(col("cents")).cast("decimal(38,0)").as("s1"))
    point.crossJoin(broadcast(ci))
      .select(col("n_rows"), lit(b).cast("long").as("n_reps"),
        round(col("s1").cast("double") / col("n_rows") / 100.0, 6).as("mean"),
        round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
  }

  def all: Seq[Q] = Seq(q1Agg)
}
