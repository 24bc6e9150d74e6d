package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Table profiling and categorical statistics — the ANALYZE-side of an
  * analytics engine: column statistics for planning/data-quality
  * dashboards, and contingency testing for feature independence.
  */
object Profile {

  /** Column profile: for each requested column its row count, null
    * count, EXACT distinct count, and (numeric columns) min/max as
    * double. One aggregation branch per column, unioned.
    *
    * Why PER-COLUMN branches and not one fused multi-distinct
    * aggregate: "one pass" intuition is wrong for columnar storage.
    * Each branch's parquet scan is pruned to exactly its column
    * (PlanAuditSpec pins this), so the N branches together read each
    * column's bytes exactly once — the same total I/O as a single
    * fused scan. The fused alternative (all countDistincts in one
    * statement) plans via Expand, which multiplies every input row
    * (N+1)× BEFORE partial aggregation — measured 3.7× slower at
    * sf0.1 (1.18s vs 4.37s, history/BENCH_SCALE.md). Each branch's exchange
    * carries per-partition distinct values only (map-side partial agg
    * keyed by value), identical either way; at 100 TB the branch shape
    * wins on scan-stage CPU and loses nothing on I/O or shuffle.
    *
    * Strings profile as (n, n_null, n_distinct) with null min/max —
    * cross-engine string collation is not part of the determinism
    * contract; numeric min/max are exact doubles.
    */
  def profile(df: DataFrame, numericCols: Seq[String], otherCols: Seq[String]): DataFrame = {
    val all = numericCols ++ otherCols
    require(all.nonEmpty, "profile: need at least one column")
    val rows = all.map { c =>
      val isNum = numericCols.contains(c)
      val mn = if (isNum) min(col(c)).cast("double") else lit(null).cast("double")
      val mx = if (isNum) max(col(c)).cast("double") else lit(null).cast("double")
      df.select(col(c)).agg(
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast("bigint").as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        mn.as("min_v"), mx.as("max_v"))
        .select(lit(c).as("col_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"))
    }
    rows.reduce(_ unionAll _)
  }

  /** Pearson correlation matrix over numeric columns, ONE pass.
    *
    * Every pairwise r comes out of a single map-side-combined aggregate
    * of exact moment sums — for k columns that is 1 + k + k(k+1)/2
    * sums in one statement (k=4 → 15), no Expand (no distinct), no
    * second scan; the pair unpivot explodes a struct array over the
    * 1-row result in the same plan. At 100 TB this is one pass
    * regardless of k — unlike [[profile]], fusing wins here: per-pair
    * branches would read k(k−1) column-instances (3× the bytes at k=4)
    * where the fused scan reads each column once, and there is no
    * Expand to multiply rows (plain sums, no distinct). The measured
    * sf0.1 CPU cost of fusion (2.0s vs 1.5s branch-shaped) is the
    * price of the 3× I/O reduction that dominates at scale.
    *
    * Determinism contract (the [[Ols]] discipline): inputs are scaled
    * by 10^scale and rounded to exact integers per row (IEEE multiply
    * is exactly rounded and fixed-point inputs never land on .5, so
    * both engines produce identical longs), every moment is an exact
    * DECIMAL(38,0) sum (NULL-on-
    * overflow witness, never a wrapped value), and
    * r = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²))
    * drops to double only at the end: the numerator/radicands are
    * identical exact integers in both engines, and IEEE sqrt/divide
    * are correctly rounded — bit-identical, no ln()-style libm drift.
    * Rounded to 6 dp as belt-and-braces. Scaling is invariant for r
    * (both axes scale linearly) — `scale` exists only to make
    * fixed-point columns exactly integral.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    require(cols.size >= 2, "corrMatrix: need at least two columns")
    def ix(c: String): Column =
      round(col(c) * pow(lit(10), lit(scale))).cast("long").cast("decimal(19,0)")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))
    val momentAggs =
      Seq(count(lit(1)).as("_n")) ++
        cols.map(c => sum(ix(c)).as(s"_s_$c")) ++
        cols.map(c => sum(ix(c) * ix(c)).as(s"_q_$c")) ++
        pairs.map { case (a, b) => sum(ix(a) * ix(b)).as(s"_p_${a}_$b") }
    val wide = df.agg(momentAggs.head, momentAggs.tail: _*)
    def dec(c: String): Column = col(c).cast("decimal(38,0)")
    // pair unpivot rides the SAME plan as the aggregate (explode of a
    // struct array over the 1 row) — a union of per-pair projections
    // would re-plan the moment aggregate per pair: k(k-1)/2 scans
    val rows = pairs.map { case (a, b) =>
      val n = dec("_n")
      val cov = (n * dec(s"_p_${a}_$b") - dec(s"_s_$a") * dec(s"_s_$b")).cast("double")
      val va = (n * dec(s"_q_$a") - dec(s"_s_$a") * dec(s"_s_$a")).cast("double")
      val vb = (n * dec(s"_q_$b") - dec(s"_s_$b") * dec(s"_s_$b")).cast("double")
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        col("_n").as("n"), round(cov / (sqrt(va) * sqrt(vb)), 6).as("corr"))
    }
    wide.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Equi-width histogram of a numeric column — the ANALYZE histogram:
    * nBuckets buckets spanning [min, max], each with its exact row
    * count and bounds. Two passes by necessity (bounds, then bucket)
    * but the first returns 1 row and both are map-side-combined
    * aggregations; the bucket pass groups on a computed int key, so at
    * 100 TB it is one scan + one nBuckets-row exchange.
    *
    * Determinism: min/max are exact column values; width = (max−min)/
    * nBuckets and (x−min)/width are IEEE-exactly-rounded doubles, so
    * FLOOR lands identically in both engines (no libm). The max value
    * itself is clamped into the last bucket (the standard half-open
    * [lo, hi) convention with a closed final bucket). Null rows are
    * excluded (they are the profile's n_null, not a bucket).
    */
  def histogram(df: DataFrame, c: String, nBuckets: Int = 20): DataFrame = {
    require(nBuckets >= 1, "histogram: need at least one bucket")
    val b = df.filter(col(c).isNotNull)
      .select(col(c).cast("double").as("x"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()(0)
    val (mn, mx) = (b.getDouble(0), b.getDouble(1))
    val width = (mx - mn) / nBuckets
    val bucket =
      if (width == 0d) lit(0) // constant column: everything in bucket 0
      else least(floor((col(c).cast("double") - lit(mn)) / lit(width)),
        lit(nBuckets - 1L)).cast("int")
    df.filter(col(c).isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("bucket"),
        round(lit(mn) + col("bucket") * lit(width), 6).as("lo"),
        round(lit(mn) + (col("bucket") + 1) * lit(width), 6).as("hi"),
        col("n_rows"))
  }

  /** Pearson chi-squared statistic for independence of two categorical
    * columns: chi² = Σ_cells (obs − exp)² / exp with exp = rowSum ·
    * colSum / n. Observed counts and marginals are exact BIGINTs
    * (computed from ONE contingency aggregation — marginals are window
    * sums over the cells table, cell-count-sized, not second passes
    * over the data); each cell's term is rounded to 6 dp and summed in
    * DECIMAL so the total is independent of cell order — the house
    * determinism pattern for float sums. Output: one row — `n_cells`,
    * `dof` = (R−1)(C−1), `chi2`.
    */
  def chi2(df: DataFrame, colA: String, colB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the FULL category grid, not just observed combinations — an
    // absent cell still contributes its (0 − exp)²/exp term (a groupBy
    // alone would silently drop exactly the cells that prove
    // association). Category lists are contingency-sized by contract;
    // the cross join is tiny. SHAPE DECISION, measured both ways in one
    // phase (history/BENCH_SCALE.md): the checkpoint-the-contingency variant
    // that wins for [[cramersV]] on orders (2.13 -> 0.96s) LOSES here
    // (0.98 -> 1.28s at sf1) — lineitem's two dictionary-encoded flag
    // columns re-scan cheaper than one scan + eager materialization —
    // so the two siblings deliberately keep different shapes.
    val observed = df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("o"))
    val cells = df.select(col(colA).as("a")).distinct()
      .crossJoin(df.select(col(colB).as("b")).distinct())
      .join(observed, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val withMargins = cells
      .withColumn("ra", sum(col("o")).over(Window.partitionBy(col("a"))))
      .withColumn("cb", sum(col("o")).over(Window.partitionBy(col("b"))))
      .withColumn("nn", sum(col("o")).over(Window.partitionBy()))
    val term = withMargins.select(
      col("a"), col("b"),
      round(
        (col("o") - (col("ra") * col("cb")).cast("double") / col("nn")) *
          (col("o") - (col("ra") * col("cb")).cast("double") / col("nn")) /
          ((col("ra") * col("cb")).cast("double") / col("nn")),
        6).cast("decimal(18,6)").as("t"))
    term.agg(
      count(lit(1)).as("n_cells"),
      ((countDistinct(col("a")) - 1) * (countDistinct(col("b")) - 1)).as("dof"),
      sum(col("t")).cast("double").as("chi2"))
  }

  /** Cramér's V association strength — the EFFECT SIZE [[chi2]] lacks:
    * χ² grows with n, so "significant" says nothing about strength at
    * scale; V = √(χ² / (n·min(r−1, c−1))) rescales it to [0, 1]
    * regardless of table size. Same contingency machinery as [[chi2]]
    * (full category grid, window-sum marginals, ROUND-then-DECIMAL cell
    * terms), plus the row total and one extra mirrored sqrt tail.
    * Output: one row — `n_rows`, `n_cells`, `dof`, `chi2`,
    * `cramers_v` (6 dp). */
  def cramersV(df: DataFrame, colA: String, colB: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE data-sized pass: the category domains come off the
    // contingency table itself (every category necessarily appears
    // there), so the full-grid densification never re-scans the data —
    // measured 1.9x at 10x with the three-scan formulation, linear-in-
    // grid after this cut
    val observed = GraftPins.cut(df.groupBy(col(colA).as("a"), col(colB).as("b"))
      .agg(count(lit(1)).as("o")))
    val cells = observed.select(col("a")).distinct()
      .crossJoin(observed.select(col("b")).distinct())
      .join(observed, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val withMargins = cells
      .withColumn("ra", sum(col("o")).over(Window.partitionBy(col("a"))))
      .withColumn("cb", sum(col("o")).over(Window.partitionBy(col("b"))))
      .withColumn("nn", sum(col("o")).over(Window.partitionBy()))
    val term = withMargins.select(
      col("a"), col("b"), col("o"), col("nn"),
      round(
        (col("o") - (col("ra") * col("cb")).cast("double") / col("nn")) *
          (col("o") - (col("ra") * col("cb")).cast("double") / col("nn")) /
          ((col("ra") * col("cb")).cast("double") / col("nn")),
        6).cast("decimal(18,6)").as("t"))
    term.agg(
      max(col("nn")).as("n_rows"),
      count(lit(1)).as("n_cells"),
      ((countDistinct(col("a")) - 1) * (countDistinct(col("b")) - 1)).as("dof"),
      least(countDistinct(col("a")) - 1, countDistinct(col("b")) - 1).as("mindim"),
      sum(col("t")).cast("double").as("chi2"))
      .select(col("n_rows"), col("n_cells"), col("dof"), col("chi2"),
        round(sqrt(col("chi2") /
          (col("n_rows") * col("mindim")).cast("double")), 6).as("cramers_v"))
  }

  /** Spearman rank-correlation matrix — [[corrMatrix]]'s nonparametric
    * sibling: Pearson over AVERAGE ranks (the standard tie treatment),
    * which measures monotone rather than linear association and shrugs
    * off the outliers that dominate raw-value covariance.
    *
    * Exactness: ranks never become floats. A tied group's average rank
    * is (2·minrank + cnt − 1)/2, so the DOUBLED rank 2r̄ = 2·prefix −
    * cnt + 1 is an exact integer off the value grid's running count;
    * Pearson over the doubled ranks equals Pearson over the ranks
    * (invariant to affine maps), and all moments ride DECIMAL with
    * pre-cast operands. The one sqrt/divide tail mirrors [[corrMatrix]].
    *
    * Scale shape: per column, the value grid is a map-side-combined
    * collapse and the running count is [[Relational.prefixSum]]'s
    * two-phase range shuffle (value-domain-sized, never a
    * single-partition window); ranks re-attach by ONE hash join per
    * column on the 8-byte value key; the k-column moment pass is one
    * wide aggregation over the ranked rows — the corrMatrix shape.
    *
    * Output: one row per column pair — `col_x`, `col_y`, `n`, `rho`. */
  def spearmanMatrix(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    require(cols.size >= 2, "spearmanMatrix: need at least two columns")
    def ix(c: String): Column =
      round(col(c) * pow(lit(10), lit(scale))).cast("long")
    // r16 size-gated driver tiny path (the textrank/peel discipline —
    // history/OPTIMIZATION_r15.md "Not yet" #1): at gate size the per-column shape
    // is ~15 tiny scheduled jobs around microseconds of integer rank
    // arithmetic (sf0.1 floor 2.76 s ≈ sf1 floor 2.84 s at 10× data),
    // so inputs whose KEYED table is at or under
    // DriverGate.SpearmanRows (which also bounds the Long moment sums)
    // collect once and rank on the driver in the IDENTICAL exact
    // integer arithmetic (spec-pinned driver == distributed). Any NULL
    // keyed value falls back to the distributed path (whose inner rank
    // joins drop such rows) rather than re-deriving that semantics. At
    // 100 TB the distributed two-phase shape is the plan.
    val keyed = df.select(cols.map(c => ix(c).as(s"_v_$c")): _*)
    val d = DriverGate.collect("spearman", DriverGate.SpearmanRows, keyed)
      .flatMap(rows => spearmanDriver(df.sparkSession, rows, cols))
    if (d.isDefined) return d.get
    spearmanMoments(spearmanRanksPerColumn(df, cols, ix), cols)
  }

  /** Driver twin of the per-column rank pipeline + moment tail: exact
    * doubled average ranks (2r̄ = 2·prefix − cnt + 1 over each sorted
    * value array), Long moment sums (overflow-safe by the caller's
    * gate), BigInt cov/var products mirroring the DECIMAL(38,0)
    * arithmetic, and the same double-divide + round(…, 6) tail
    * (Spark's Round on double is BigDecimal(d).setScale(6, HALF_UP)
    * with NaN/Infinity passed through — mirrored verbatim). Returns
    * None when any keyed value is NULL: the distributed inner rank
    * joins drop those rows, and the driver twin stays out of that
    * semantics instead of duplicating it. */
  private def spearmanDriver(spark: org.apache.spark.sql.SparkSession,
                             rows: Array[org.apache.spark.sql.Row],
                             cols: Seq[String]): Option[DataFrame] = {
    val m = rows.length
    if (m == 0) return None // distributed emits NULL moments on empty input
    val k = cols.size
    val data = Array.ofDim[Long](k, m)
    var i = 0
    while (i < m) {
      val r = rows(i)
      var j = 0
      while (j < k) {
        if (r.isNullAt(j)) return None
        data(j)(i) = r.getLong(j)
        j += 1
      }
      i += 1
    }
    // per-column doubled average ranks off the sorted value array
    val rk = Array.ofDim[Long](k, m)
    var j = 0
    while (j < k) {
      val sorted = data(j).clone()
      java.util.Arrays.sort(sorted)
      val rankOf = new scala.collection.mutable.LongMap[Long]()
      var p = 0
      while (p < m) {
        val v = sorted(p)
        var q = p
        while (q < m && sorted(q) == v) q += 1
        // prefix (count ≤ v) is q; tied-group doubled average rank
        rankOf(v) = 2L * q - (q - p) + 1L
        p = q
      }
      i = 0
      while (i < m) { rk(j)(i) = rankOf(data(j)(i)); i += 1 }
      j += 1
    }
    // Long moment sums (gate-bounded: r ≤ 2n, Σr² ≤ 4n³)
    val s = new Array[Long](k)
    val q2 = new Array[Long](k)
    val pairs = for { a <- cols.indices; b <- cols.indices if a < b } yield (a, b)
    val pp = new Array[Long](pairs.size)
    i = 0
    while (i < m) {
      j = 0
      while (j < k) {
        val r = rk(j)(i)
        s(j) += r; q2(j) += r * r
        j += 1
      }
      var pi = 0
      while (pi < pairs.size) {
        pp(pi) += rk(pairs(pi)._1)(i) * rk(pairs(pi)._2)(i)
        pi += 1
      }
      i += 1
    }
    def toD(x: BigInt): Double = BigDecimal(x).toDouble
    val out = pairs.zipWithIndex.map { case ((a, b), pi) =>
      val n = BigInt(m)
      val cov = toD(n * BigInt(pp(pi)) - BigInt(s(a)) * BigInt(s(b)))
      val va = toD(n * BigInt(q2(a)) - BigInt(s(a)) * BigInt(s(a)))
      val vb = toD(n * BigInt(q2(b)) - BigInt(s(b)) * BigInt(s(b)))
      val rho0 = cov / (math.sqrt(va) * math.sqrt(vb))
      val rho =
        if (rho0.isNaN || rho0.isInfinite) rho0
        else BigDecimal(rho0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (cols(a), cols(b), m.toLong, rho)
    }
    import spark.implicits._
    Some(out.toDF("col_x", "col_y", "n", "rho"))
  }

  /** PER-COLUMN rank attachment: k independent value grids, k
    * prefixSum range exchanges, k hash joins of the data-sized key
    * table — checkpointed ON EVIDENCE: the re-scan variant (k+1
    * column-pruned parquet scans, no materialization) measured 5.78s vs
    * 4.42s at sf0.1 (history/BENCH_SF01_SPEAR_B_SOLO_r10.json). */
  private def spearmanRanksPerColumn(df: DataFrame, cols: Seq[String],
                                     ix: String => Column): DataFrame = {
    val keyed = GraftPins.cut(df.select(cols.map(c => ix(c).as(s"_v_$c")): _*))
    var ranked = keyed
    for (c <- cols) {
      val grid = keyed.groupBy(col(s"_v_$c")).agg(count(lit(1)).as("_cnt"))
      val pre = Relational.prefixSum(grid, Seq(col(s"_v_$c")), "_cnt", "_pre")
        .select(col(s"_v_$c"),
          (lit(2L) * col("_pre") - col("_cnt") + 1L).as(s"_r_$c"))
      ranked = ranked.join(pre, Seq(s"_v_$c"))
    }
    ranked
  }

  /** Shared moment tail: one wide DECIMAL aggregation over the ranked
    * rows → the k·(k−1)/2 Pearson-over-ranks cells. */
  private def spearmanMoments(ranked: DataFrame, cols: Seq[String]): DataFrame = {
    def rx(c: String): Column = col(s"_r_$c").cast("decimal(19,0)")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))
    val momentAggs =
      Seq(count(lit(1)).as("_n")) ++
        cols.map(c => sum(rx(c)).as(s"_s_$c")) ++
        cols.map(c => sum(rx(c) * rx(c)).as(s"_q_$c")) ++
        pairs.map { case (a, b) => sum(rx(a) * rx(b)).as(s"_p_${a}_$b") }
    val wide = ranked.agg(momentAggs.head, momentAggs.tail: _*)
    def dec(c: String): Column = col(c).cast("decimal(38,0)")
    val rows = pairs.map { case (a, b) =>
      val n = dec("_n")
      val cov = (n * dec(s"_p_${a}_$b") - dec(s"_s_$a") * dec(s"_s_$b")).cast("double")
      val va = (n * dec(s"_q_$a") - dec(s"_s_$a") * dec(s"_s_$a")).cast("double")
      val vb = (n * dec(s"_q_$b") - dec(s"_s_$b") * dec(s"_s_$b")).cast("double")
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        col("_n").as("n"), round(cov / (sqrt(va) * sqrt(vb)), 6).as("rho"))
    }
    wide.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }
}
