package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** In-engine closed-form model fitting: ordinary least squares with two
  * regressors, solved by the normal equations — the "calibrate a cheap
  * linear quality model against a trusted signal" step of a curation
  * pipeline (fit once over the corpus, then score with a narrow
  * per-row expression).
  *
  * The whole fit is ONE declarative plan: a single map-side-combined
  * aggregation produces the moment matrix (9 sums), and Cramer's rule
  * over those sums is a scalar projection — no driver collect, no
  * iteration, no gradient schedule. At 100 TB that is one pass over the
  * data with a 1-row result.
  *
  * Determinism contract (the hash-compared-oracle discipline): inputs
  * must be INTEGER columns, so every moment is an exact BIGINT sum
  * (order-free); the 3×3 determinants are computed in DECIMAL(38,0)
  * (the oracle uses HUGEINT — both exact while values fit), and only
  * the final coefficient RATIOS drop to DOUBLE — the nearest-double of
  * identical exact integers divided identically is identical in both
  * engines. A float-feature OLS would instead sum order-dependent
  * products and flake; integer features (counts, lengths) are what
  * corpus quality signals are anyway.
  *
  * Magnitude bound, stated honestly: a single product of two longs
  * always fits 38 digits (< 8.6e37), and every moment is summed as
  * DECIMAL(38,0) — overflow of a sum or of a determinant term (which
  * scale like n·(Σx²)² and pass 1e38 around 10⁹ rows of ~10³-token
  * docs) surfaces as NULL det/coefficients, never as a silently
  * wrapped value. At full 100 TB row counts, right-shift the features
  * by a constant k (x DIV 2^k stays integral and exact; the fit is on
  * the shifted scale) or center-and-scale in a first pass; the
  * arithmetic then still matches an oracle replay exactly.
  */
object Ols {

  /** Fit y ≈ b0 + b1·x1 + b2·x2 over integer-valued columns. Returns a
    * single row: (n_rows, det BIGINT-exactness witness cast to double,
    * b0, b1, b2). A singular moment matrix (collinear features) yields
    * det = 0.0 and null coefficients — surfaced, not masked. */
  def fit2(df: DataFrame, y: Column, x1: Column, x2: Column): DataFrame =
    solveFromMoments(moments(df, y, x1, x2, groupCols = Nil), keyCols = Nil)

  /** One independent fit PER GROUP — per-language / per-source quality
    * calibration. Exactly as scalable as the global fit: the moments of
    * every group come out of the SAME single map-side-combined pass
    * (one shuffle of nGroups×9 longs), and the per-group Cramer solve
    * is a narrow projection over the group-count-sized result. */
  def fit2PerGroup(df: DataFrame, groupCol: String,
                   y: Column, x1: Column, x2: Column): DataFrame =
    solveFromMoments(moments(df, y, x1, x2, groupCols = Seq(groupCol)),
      keyCols = Seq(groupCol))

  /** Split-conformal prediction interval around the [[fit2]] model —
    * the distribution-free calibration step (Vovk et al.; Lei et al.
    * 2018): hash-split the rows, fit on the train half, take the
    * ⌈q·(n+1)⌉-th smallest absolute residual on the held-out
    * calibration half as the interval half-width q̂. For ANY exchangeable
    * data, ŷ ± q̂ then covers the true y with probability ≥ q — no
    * normality assumption, unlike [[graft.ops.Relational.segmentCi]]'s
    * 1.96·σ band. `train_coverage` reports the empirical fraction of
    * TRAIN rows inside the band (an eval readout, not the guarantee).
    *
    * Determinism: the split is the catalog's md5-52-bit parity (no
    * engine RNG); the fit is [[fit2]]'s exact-integer Cramer solve;
    * residuals are ONE mirrored double chain off those coefficients;
    * the quantile is an exact rank pick (range-partitioned two-phase
    * [[graft.ops.Relational.globalRank]], ties broken by id) — never a
    * percentile approximation; the coverage compare uses the UNROUNDED
    * q̂. Rank ⌈q·(n_cal+1)⌉ is clamped to [1, n_cal] (q̂ = max residual
    * when the calibration half is smaller than 1/(1−q)).
    *
    * Scale shape: the keyed table's checkpoint job observes the fit's
    * moments, one residual pass reads the coefficients as literals, one
    * range exchange for the rank,
    * one more broadcast of the 1-row q̂ for coverage. n_cal is a single
    * count() driver scalar (the pmi-totals pattern). No global sort, no
    * window over data. */
  def conformal2(df: DataFrame, id: Column, y: Column, x1: Column,
                 x2: Column, q: Double = 0.9): DataFrame = {
    require(q > 0 && q < 1, s"conformal2: q must be in (0,1), got $q")
    // the residual pass reads the keyed table; its checkpoint job
    // observes the train half's moments, so the fit is a literal
    val (keyed, m) = GraftPins.ck(df.select(id.cast("long").as("_id"),
        y.cast("long").as("_y"), x1.cast("long").as("_x1"), x2.cast("long").as("_x2"))
      .withColumn("_cal",
        conv(substring(md5(col("_id").cast("string").cast("binary")), 1, 13),
          16, 10).cast("long") % 2 === 1))(
      momentAggs(col("_y"), col("_x1"), col("_x2"), keep = Some(!col("_cal"))): _*)
    val fit = solveFromMoments(GraftPins.withScalars(keyed, m), keyCols = keyed.columns)
    // checkpointed for the calibration rank + train coverage; its job
    // observes the calibration size
    val (resid, cal) = GraftPins.ck(fit
      .select(col("_id"), col("_cal"), col("n_rows").as("_ntr"),
        abs(col("_y").cast("double") - (col("b0")
          + col("b1") * col("_x1").cast("double")
          + col("b2") * col("_x2").cast("double"))).as("_resid")))(
      count(when(col("_cal"), 1)).as("n_cal"))
    val calR = resid.filter(col("_cal")).select(col("_id"), col("_resid"))
    val nCal = cal.getLong(0)
    val qRank = math.max(1L, math.min(nCal, math.ceil(q * (nCal + 1)).toLong))
    val qHat = Relational.globalRank(calR, Seq(col("_resid"), col("_id")), "_r")
      .filter(col("_r") === qRank).select(col("_resid").as("_q"))
    resid.filter(!col("_cal"))
      .crossJoin(broadcast(qHat))
      .agg(max(col("_ntr")).cast("long").as("n_train"),
        lit(nCal).cast("long").as("n_cal"),
        lit(qRank).cast("long").as("q_rank"),
        round(max(col("_q")), 6).as("q_hat"),
        round(sum(when(col("_resid") <= col("_q"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("train_coverage"))
  }

  /** Per-group split-conformal bands — the grouped twin of
    * [[conformal2]] (Mondrian/group-conditional conformal, Vovk's
    * taxonomy-conformal specialization): each group (language, source)
    * gets its own [[fit2PerGroup]] model AND its own calibration
    * quantile, so the ≥ q coverage guarantee holds PER GROUP under
    * within-group exchangeability — a global band would over-cover easy
    * languages and under-cover hard ones.
    *
    * Determinism: the same md5-parity split, exact-integer per-group
    * Cramer fits (one moment pass for ALL groups), mirrored residual
    * chains, and a per-group exact rank pick — the quantile comes from
    * [[graft.ops.Relational.groupedValueRanks]]'s value grid (rank
    * ⌈q·(n_cal_g+1)⌉, clamped to [1, n_cal_g], falls inside exactly one
    * tie run, whose value IS the q̂ the strict row-number pick would
    * return), never a per-group sort window — the group-serialization
    * anti-pattern groupedPercentRank was built to avoid.
    *
    * Output: one row per group — (grp, n_train, n_cal, q_rank, q_hat,
    * train_coverage). Groups with an empty calibration half drop out
    * (no quantile exists); groups with a singular train fit surface
    * null q̂/coverage (the [[fit2]] det-witness convention).
    *
    * Scale shape: one checkpointed keyed pass read three times; one
    * grouped moment exchange (nGroups×9 longs); the fit table and the
    * per-group q̂ table both broadcast; the rank machinery is
    * grid-sized. Nothing serializes per group. */
  def conformalPerGroup(df: DataFrame, grp: Column, id: Column, y: Column,
                        x1: Column, x2: Column, q: Double = 0.9): DataFrame = {
    require(q > 0 && q < 1, s"conformalPerGroup: q must be in (0,1), got $q")
    // read three times: fit, residuals, coverage
    val keyed = GraftPins.cut(df.select(grp.cast("string").as("_g"), id.cast("long").as("_id"),
        y.cast("long").as("_y"), x1.cast("long").as("_x1"), x2.cast("long").as("_x2"))
      .withColumn("_cal",
        conv(substring(md5(col("_id").cast("string").cast("binary")), 1, 13),
          16, 10).cast("long") % 2 === 1))
    val fits = fit2PerGroup(keyed.filter(!col("_cal")), "_g",
      col("_y"), col("_x1"), col("_x2"))
    // calibration grid + train coverage
    val resid = GraftPins.cut(keyed.join(broadcast(
        fits.select(col("_g"), col("n_rows").as("_ntr"),
          col("b0"), col("b1"), col("b2"))), "_g")
      .select(col("_g"), col("_id"), col("_cal"), col("_ntr"),
        abs(col("_y").cast("double") - (col("b0")
          + col("b1") * col("_x1").cast("double")
          + col("b2") * col("_x2").cast("double"))).as("_resid")))
    val qhat = Relational
      .groupedValueRanks(resid.filter(col("_cal")).select(col("_g"), col("_resid")),
        "_g", "_resid")
      .withColumn("_qrank",
        greatest(lit(1L), least(col("_gn"),
          ceil(lit(q) * (col("_gn") + lit(1L))).cast("long"))))
      .filter(col("_minrank") <= col("_qrank") &&
        col("_qrank") < col("_minrank") + col("_cnt"))
      .select(col("_g"), col("_gn").as("_ncal"), col("_qrank"), col("_resid").as("_q"))
    resid.filter(!col("_cal"))
      .join(broadcast(qhat), "_g")
      .groupBy(col("_g"))
      .agg(max(col("_ntr")).cast("long").as("n_train"),
        max(col("_ncal")).cast("long").as("n_cal"),
        max(col("_qrank")).cast("long").as("q_rank"),
        round(max(col("_q")), 6).as("q_hat"),
        round(sum(when(col("_resid") <= col("_q"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("train_coverage"))
      .withColumnRenamed("_g", "grp")
  }

  private def moments(df: DataFrame, y: Column, x1: Column, x2: Column,
                      groupCols: Seq[String]): DataFrame = {
    val aggs = momentAggs(y, x1, x2)
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The 9 moment sums over the rows where `keep` holds (all rows by
    * default). */
  private def momentAggs(y: Column, x1: Column, x2: Column,
                         keep: Option[Column] = None): Seq[Column] = {
    def k(c: Column): Column = keep.fold(c)(when(_, c))
    // widen BEFORE multiplying: the per-row product of two DECIMAL(19,0)
    // longs is exact in DECIMAL(38,0) (max |long|² < 8.6e37), and the
    // DECIMAL sums NULL on overflow instead of wrapping the way BIGINT
    // sums do in non-ANSI mode — overflow is a visible witness, not a
    // plausible-looking wrong coefficient.
    def w(c: Column): Column = k(c.cast("long").cast("decimal(19,0)"))
    val (yd, x1d, x2d) = (w(y), w(x1), w(x2))
    Seq(
      count(k(lit(1))).as("s00"),
      sum(x1d).as("s01"),
      sum(x2d).as("s02"),
      sum(x1d * x1d).as("s11"),
      sum(x1d * x2d).as("s12"),
      sum(x2d * x2d).as("s22"),
      sum(yd).as("t0"),
      sum(x1d * yd).as("t1"),
      sum(x2d * yd).as("t2"))
  }

  private def solveFromMoments(m: DataFrame, keyCols: Seq[String]): DataFrame = {
    def d(c: String): Column = col(c).cast("decimal(38,0)")
    // det of the symmetric moment matrix [[s00 s01 s02][s01 s11 s12][s02 s12 s22]]
    def det3(a: Column, b: Column, c: Column,
             e: Column, f: Column, g: Column,
             h: Column, i: Column, j: Column): Column =
      a * (f * j - g * i) - b * (e * j - g * h) + c * (e * i - f * h)
    val det = det3(d("s00"), d("s01"), d("s02"),
      d("s01"), d("s11"), d("s12"), d("s02"), d("s12"), d("s22"))
    val det0 = det3(d("t0"), d("s01"), d("s02"),
      d("t1"), d("s11"), d("s12"), d("t2"), d("s12"), d("s22"))
    val det1 = det3(d("s00"), d("t0"), d("s02"),
      d("s01"), d("t1"), d("s12"), d("s02"), d("t2"), d("s22"))
    val det2 = det3(d("s00"), d("s01"), d("t0"),
      d("s01"), d("s11"), d("t1"), d("s02"), d("s12"), d("t2"))
    m.select(keyCols.map(col) ++ Seq(
      col("s00").as("n_rows"),
      det.cast("double").as("det"),
      when(det =!= 0, det0.cast("double") / det.cast("double")).as("b0"),
      when(det =!= 0, det1.cast("double") / det.cast("double")).as("b1"),
      when(det =!= 0, det2.cast("double") / det.cast("double")).as("b2")): _*)
  }
}
