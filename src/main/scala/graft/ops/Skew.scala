package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Skew mitigation for shuffled equi-joins.
  *
  * When one join key dominates (a "hot" customer, a null-heavy key),
  * the task holding that key becomes the straggler. Salting fans the
  * hot key's rows across `nSalts` partitions: the fact side gets a
  * deterministic per-row salt, the dim side is replicated once per
  * salt value, and the join key becomes (key, salt).
  *
  * AQE's skew-join handling (spark.sql.adaptive.skewJoin.enabled, on by
  * default) solves the sort-merge case at runtime; explicit salting
  * remains the tool for hash aggregations and for engines/paths AQE
  * doesn't cover — and it composes with any join type.
  */
object Skew {

  /** Deterministic per-row salt in [0, nSalts): hashes the salt-by
    * columns (e.g. a unique row id) rather than calling rand(), so
    * retried tasks produce identical output — a correctness requirement
    * under speculative execution. */
  def salt(nSalts: Int, saltBy: Column*): Column =
    pmod(xxhash64(saltBy: _*), lit(nSalts.toLong)).cast("int")

  /** One-row key-distribution diagnosis for a prospective shuffle key —
    * the readout you run BEFORE picking a partitioning at 100 TB:
    * `n_rows`, `n_keys`, `max_cnt`, `avg_cnt`, `top_share` (hottest
    * key's row fraction — the straggler bound for a hash exchange on
    * this key), `cv` (population coefficient of variation of per-key
    * counts) and `gini` (0 = perfectly uniform, →1 = one key owns
    * everything).
    *
    * Plan shape: ONE data-sized exchange (the map-side-combined per-key
    * count on `keyCols`), then a second aggregation collapsing the key
    * counts to the count-of-counts table (one row per DISTINCT count
    * value — tiny: bounded by √(2·n_rows) distinct values, a few
    * thousand even at 10¹² rows), on which the rank-weighted Gini sum
    * rides a single-partition window in CLOSED FORM: a run of `m` keys
    * sharing count `c` after `nb` smaller keys contributes
    * c·(m·nb + m(m+1)/2) to Σᵢ i·cᵢ — no per-key global sort, ever
    * (the same collapse that makes [[graft.corpus.Corpus]]'s NTILE
    * exact at scale). Gini = (2·Σᵢi·cᵢ − (n+1)·ΣC) / (n·ΣC) over
    * ascending per-key counts.
    *
    * Determinism: every moment (Σc, Σc², the weighted rank sum) is an
    * exact DECIMAL(38,0) integer — the window's ORDER BY cnt has one
    * row per distinct value, so no tie ambiguity exists — and doubles
    * appear only in the final correctly-rounded divides/sqrt, rounded
    * to 6 dp (the [[GraphOps.graphStats]] discipline; same 38-digit
    * headroom note: exact while n_keys·n_rows² < 10³⁸, i.e. any real
    * table). Run lengths m < 3·10⁹ keep the m(m+1) triangular term in
    * BIGINT; beyond that the count-of-counts collapse itself would be
    * the thing to shard. */
  def skewReport(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "skewReport: need at least one key column")
    val dec = "decimal(38,0)"
    val counts = df.select(keyCols.map(col): _*)
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt"))
    val cc = counts.groupBy(col("cnt")).agg(count(lit(1)).as("m"))
    // one row per distinct count value → the ORDER BY is tie-free and
    // the single partition holds a provably tiny table
    val w = Window.orderBy(col("cnt")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cc.withColumn("nb", coalesce(sum(col("m")).over(w), lit(0L)))
    val tri = shiftright(col("m") * (col("m") + 1L), 1) // exact: m(m+1) is even
    val agg = ranked.agg(
      sum(col("cnt").cast(dec) * col("m").cast(dec)).cast(dec).as("s"),
      sum(col("cnt").cast(dec) * col("cnt").cast(dec) * col("m").cast(dec)).cast(dec).as("q"),
      sum(col("m")).cast("bigint").as("n"),
      max(col("cnt")).as("mx"),
      sum(col("cnt").cast(dec) *
        (col("m").cast(dec) * col("nb").cast(dec) + tri.cast(dec))).cast(dec).as("w"))
    agg.select(
      col("s").cast("bigint").as("n_rows"),
      col("n").as("n_keys"),
      col("mx").as("max_cnt"),
      round(col("s").cast("double") / col("n").cast("double"), 6).as("avg_cnt"),
      round(col("mx").cast("double") / col("s").cast("double"), 6).as("top_share"),
      round(sqrt((col("n").cast(dec) * col("q") - col("s") * col("s")).cast("double"))
        / col("s").cast("double"), 6).as("cv"),
      round((lit(2).cast(dec) * col("w") - (col("n") + 1L).cast(dec) * col("s")).cast("double")
        / (col("n").cast(dec) * col("s")).cast("double"), 6).as("gini"))
  }

  /** Exact join-cardinality prediction WITHOUT running the join — the
    * other half of the pre-shuffle diagnosis [[skewReport]] starts:
    * |L ⋈ R on k| = Σ_k cL(k)·cR(k), computed from the two per-key
    * count tables. At 100 TB you run this (two map-side-combined key
    * counts + a key-sized count-table join) before committing to a
    * join whose output might be 1000× its inputs; `max_key_rows` /
    * `top_share` name the hottest key's output share — the straggler
    * and the salting decision in one number.
    *
    * Both count tables are checkpointed: each feeds the matched-key
    * join, and its checkpoint job observes its 1-row total — without
    * the materialization the data-sized scan+agg would run twice per
    * side. The count-table join reuses the groupBy's hash partitioning
    * (no extra exchange). Products/sums are exact DECIMAL(38,0); the
    * one double is the final top_share divide. */
  def joinSizeEstimate(left: DataFrame, leftKey: String,
                       right: DataFrame, rightKey: String): DataFrame = {
    val dec = "decimal(38,0)"
    val (lc, lt) = GraftPins.ck(left.select(col(leftKey).as("k")).groupBy(col("k"))
      .agg(count(lit(1)).as("cl")))(
      coalesce(sum(col("cl")), lit(0L)).cast("bigint").as("left_rows"),
      count(lit(1)).as("left_keys"))
    val (rc, rt) = GraftPins.ck(right.select(col(rightKey).as("k")).groupBy(col("k"))
      .agg(count(lit(1)).as("cr")))(
      coalesce(sum(col("cr")), lit(0L)).cast("bigint").as("right_rows"),
      count(lit(1)).as("right_keys"))
    val j = lc.join(rc, "k")
      .agg(count(lit(1)).as("matched_keys"),
        coalesce(sum(col("cl").cast(dec) * col("cr").cast(dec)), lit(0).cast(dec))
          .cast(dec).as("est"),
        max(col("cl").cast(dec) * col("cr").cast(dec)).as("mx"))
    GraftPins.withScalars(j, lt, rt)
      .select(col("left_rows"), col("left_keys"), col("right_rows"),
        col("right_keys"), col("matched_keys"),
        col("est").cast("bigint").as("est_rows"),
        coalesce(col("mx").cast("bigint"), lit(0L)).as("max_key_rows"),
        when(col("est") > 0,
          round(col("mx").cast("double") / col("est").cast("double"), 6))
          .otherwise(lit(0d)).as("top_share"))
  }

  /** fact ⋈ dim on fact(key) = dim(key), salted nSalts ways.
    * dim is replicated ×nSalts via a literal-range explode (cheap: dim
    * is the small side by assumption). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                 nSalts: Int, factSaltBy: Seq[String],
                 joinType: String = "inner"): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      salt(nSalts, factSaltBy.map(col): _*))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    saltedFact.join(saltedDim,
        saltedFact(factKey) === saltedDim(dimKey) &&
          saltedFact("__salt") === saltedDim("__salt"),
        joinType)
      .drop("__salt")
  }
}
