package graft.corpus

import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Corpus-level operators for a pretraining-data pipeline: benchmark
  * decontamination, deterministic stratified sampling, and TF-IDF term
  * weighting. All three follow the library's scale discipline —
  * candidate generation via equi-joins on small keys, narrow per-row
  * signature work, no driver-side loops, no UDFs — and keep their
  * arithmetic engine-portable so the DuckDB oracle replays them
  * exactly.
  */
object Corpus {

  /** Benchmark decontamination: for each corpus document, how many of
    * its distinct w-token shingles appear in ANY benchmark document,
    * plus the contamination ratio. The canonical pre-training hygiene
    * step (drop or flag training docs that overlap an eval set).
    *
    * Scale shape: the benchmark shingle set is small by construction
    * (eval sets are ~10⁴-10⁶ docs) → distinct + broadcast; the corpus
    * side is one narrow shingle explode joined against the broadcast
    * and one groupBy(doc_id). The 100 TB corpus is never shuffled on
    * text — only (doc_id, matched-shingle) pairs aggregate.
    * Returns only contaminated docs (n_shared ≥ 1).
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleW: Int = 3): DataFrame = {
    val benchSh = benchmark
      .select(explode(Dedup.shingles(col(textCol), shingleW)).as("g"))
      .distinct()
      .withColumn("_hit", lit(1))
    // ONE shingle pass over the corpus: left-join the exploded shingles
    // against the broadcast benchmark set and count total + matched in
    // the same aggregation (shingles() is distinct per doc, so both
    // counts are distinct-shingle counts). Shingling dominates per-row
    // cost — a separate sizes subtree would do it all a second time.
    corpus.select(col(idCol),
      explode(Dedup.shingles(col(textCol), shingleW)).as("g"))
      .join(broadcast(benchSh), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_total"),
        count(col("_hit")).as("n_shared"))
      .filter(col("n_shared") >= 1)
      .select(col(idCol), col("n_shared"), col("n_total"),
        round(col("n_shared").cast("double") / col("n_total"), 6)
          .as("contamination"))
  }

  /** N-gram novelty scoring: per document, the fraction of its
    * distinct w-token n-grams that occur in NO other document —
    * the uniqueness signal of curation recipes that up-weight novel
    * text and down-weight boilerplate (the complement of what
    * [[graft.dedup.Dedup.dupSpans]] removes: dup-spans finds the
    * shared text, novelty scores how much of a doc is unshared).
    * Returns (doc_id, n_grams, n_novel, novelty) for every doc with at
    * least one n-gram.
    *
    * Scale shape: one tokenize+window pass per doc (the same 60-bit
    * md5 window hashes as winnowing — exchanges carry 8-byte hashes,
    * never text), materialized ONCE as per-doc gram arrays (a
    * localCheckpoint, ~8 B/gram, the price of not shingling twice),
    * then ONE gram-keyed doc-frequency aggregation that carries
    * min(doc_id) — a df=1 gram has exactly one owner, so per-doc
    * novel counts fall out of a doc-sized rollup of the df=1 slice,
    * and n_grams is size(grams) read off the doc table itself. The
    * full gram table is never joined back (that join was measured as
    * the 10×-scale ratio driver — two extra gram-sized shuffle sides;
    * history/BENCH_SCALE.md r9 x_ngram_novelty decomposition). The only
    * gram-sized exchange left is the df aggregation's (8B, 8B)
    * shuffle; everything downstream is doc-sized. Arithmetic is exact
    * integer counts; the single novelty division is the only float
    * op, and a lone IEEE divide of identical integers is identical in
    * both engines. */
  def ngramNovelty(docs: DataFrame, w: Int = 4,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w >= 1, s"ngramNovelty: w must be >= 1, got $w")
    val withG = GraftPins.cut(docs.select(col(idCol),
      array_distinct(org.apache.spark.sql.graftext.VectorExpressions
        .md5WindowHashes60(TextAnalysis.tokens(col(textCol)), w)).as("_gs"))
      .filter(size(col("_gs")) >= 1))
    val novel = withG.select(col(idCol), explode(col("_gs")).as("_g"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_df"), min(col(idCol)).as("_owner"))
      .filter(col("_df") === 1)
      .groupBy(col("_owner")).agg(count(lit(1)).as("_novel"))
    withG.select(col(idCol), size(col("_gs")).cast("bigint").as("n_grams"))
      .join(novel, col(idCol) === col("_owner"), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("_novel"), lit(0L)).cast("double") / col("n_grams"))
          .as("novelty"))
  }

  /** Operator-salted deterministic draw: uniform on [0, 2^60), derived
    * from md5(salt ‖ key). Every sampling/splitting/capping operator in
    * this object folds a DISTINCT default salt into its draw — without
    * one they would all read the SAME hash of the same id, and
    * composing them correlates totally (e.g. a 50% sample followed by
    * an unsalted 80/10/10 split would put every survivor in `train`
    * and leave val/test empty, because surviving ids are exactly those
    * with small draws). Distinct salts make the draws independent. */
  def saltedDraw(keyCol: Column, salt: String): Column =
    Dedup.md5Hash60(concat(lit(salt), keyCol.cast("string")))

  /** Default salts, one per operator family (see [[saltedDraw]]). */
  val SampleSalt = "sample:"
  val MixSalt = "mix:"
  val TempSalt = "mixt:"
  val SplitSalt = "split:"
  val CapSalt = "cap:"
  val TopKSalt = "topk:"
  val PrioritySalt = "prio:"

  /** Deterministic keep/drop decision for stratified sampling: keep a
    * row iff its salted 60-bit md5 draw (uniform on [0, 2^60)) falls
    * below the stratum's threshold. Pure integer compare — no float,
    * no RNG state, reproducible on any engine and any cluster
    * topology, and stable under retries/speculative execution (the
    * property `rand()`-based sampling does NOT have). Pass a custom
    * salt to decorrelate repeated applications of the SAME operator
    * (e.g. sampling twice at different rates). */
  def sampleKeep(keyCol: Column, thresholdCol: Column,
                 salt: String = SampleSalt): Column =
    saltedDraw(keyCol, salt) < thresholdCol

  /** Per-stratum deterministic sampling of a corpus: rates are given as
    * fractions of 2^60 (e.g. 1L << 59 = 50%). At 100 TB this is a
    * narrow filter over the scan — zero shuffle, and the kept set is
    * identical no matter how the corpus is partitioned. */
  def stratifiedSample(docs: DataFrame, strataCol: String,
                       thresholds: Map[String, Long], defaultThreshold: Long,
                       idCol: String = "doc_id",
                       salt: String = SampleSalt): DataFrame = {
    val thr = thresholds.foldLeft(lit(defaultThreshold)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    docs.filter(sampleKeep(col(idCol), thr, salt))
  }

  /** Proportional corpus mixing: given target SHARES of the output mix
    * per stratum, derive each stratum's keep-rate
    * (min(1, share · total / n_stratum)) and apply it with the
    * deterministic md5 draw — over-represented strata are downsampled
    * toward the target mix, under-represented ones keep everything.
    * Two passes: one tiny count aggregate broadcast back, then a narrow
    * filter over the scan. The threshold arithmetic stays in exactly-
    * rounded IEEE ops (multiply, divide, floor) so the kept set is
    * engine- and partitioning-independent. */
  def mixCorpus(docs: DataFrame, strataCol: String,
                targetShares: Map[String, Double], defaultShare: Double,
                idCol: String = "doc_id",
                salt: String = MixSalt): DataFrame = {
    val counts = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("_cnt"))
    // total derives from the tiny per-stratum aggregate — NOT a second
    // scan of the corpus
    val total = counts.agg(sum(col("_cnt")).as("_tot"))
    val share = targetShares.foldLeft(lit(defaultShare)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val rate = least(lit(1.0), share * col("_tot") / col("_cnt"))
    val thr = floor(rate * lit((1L << 60).toDouble)).cast("long")
    docs.join(broadcast(counts), strataCol)
      .crossJoin(broadcast(total))
      .filter(sampleKeep(col(idCol), thr, salt))
      .drop("_cnt", "_tot")
  }

  /** Deterministic global corpus shuffle for training order: every doc
    * gets a (shard, pos) address in a pseudo-random total order —
    * shard = its salted draw's hash-range bucket (pure arithmetic on
    * the draw, so the boundary is REPRODUCIBLE, unlike
    * repartitionByRange whose sampled boundaries differ run to run),
    * pos = its rank within the shard. Training loops read shards in
    * number order and rows in pos order and see the same
    * well-mixed permutation on every engine, rerun, and retry; docs
    * never migrate shards when unrelated docs are added.
    *
    * Scale shape: one hash-partitioned exchange on the 8-byte draw and
    * a per-shard sort of ~n/nShards rows — there is NO global sort;
    * each shard's rank window sorts only its own bounded slice. Size
    * nShards so a shard fits one task (the same rule as file sizing). */
  def shuffleOrder(docs: DataFrame, nShards: Int,
                   idCol: String = "doc_id",
                   salt: String = ShuffleSalt): DataFrame = {
    require(nShards > 0, s"shuffleOrder: nShards must be > 0, got $nShards")
    Seq("shard", "pos", "_draw").foreach(c =>
      require(!docs.columns.contains(c),
        s"shuffleOrder: docs already has a '$c' column — it would be " +
          "clobbered (shard/pos are the outputs, _draw is the temp)"))
    import org.apache.spark.sql.expressions.Window
    val draw = saltedDraw(col(idCol), salt)
    // CEILING division (floor + round-up), so nShards × width always
    // covers the full 2^60 draw range. A floor-division oracle (the
    // committed x_corpus_shuffle SQL uses `div`) matches ONLY when
    // nShards divides 2^60 — i.e. any power of two. An oracle for a
    // non-power-of-two nShards must replicate the ceiling, not copy
    // the committed floor form.
    val width = (1L << 60) / nShards + (if (((1L << 60) % nShards) > 0) 1L else 0L)
    // integer `div`, NOT `/`: Column./ is double division, and a
    // 60-bit draw doesn't fit a double's 53-bit mantissa — boundary
    // draws would round across shards
    val withShard = docs
      .withColumn("_draw", draw)
      .withColumn("shard", expr(s"_draw div ${width}L").cast("int"))
    withShard
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("_draw"), col(idCol))) - 1)
      .drop("_draw")
  }

  val ShuffleSalt = "shuf:"

  /** Deterministic EXACT-k uniform sample: the k smallest salted md5
    * draws (ties broken by id). Fraction-based sampling can't hit a
    * size target ("build a 50k-doc eval set") and `ORDER BY rand()
    * LIMIT k` is neither reproducible nor stable under retries; this
    * is both, and a given corpus always yields the same k docs.
    *
    * Scale shape: Spark plans orderBy+limit as TakeOrderedAndProject —
    * each task keeps a k-row heap and the driver merges per-task
    * heaps — so the 100 TB corpus is scanned once with NO global sort
    * and no shuffle of non-winning rows. k is bounded by driver memory
    * (millions of ids, not billions) — past that, fall back to
    * [[stratifiedSample]] with a rate chosen from a count. */
  def sampleFixedK(docs: DataFrame, k: Int, idCol: String = "doc_id",
                   salt: String = TopKSalt): DataFrame = {
    require(k > 0, s"sampleFixedK: k must be > 0, got $k")
    docs.orderBy(saltedDraw(col(idCol), salt).asc, col(idCol).asc).limit(k)
  }

  /** Exact corpus-wide heavy-hitter tokens (true count >= minCount),
    * computed with a count-min-sketch PREFILTER so the exchange never
    * carries the full vocabulary — the sketch-guarded form of
    * `GROUP BY token HAVING count >= t`.
    *
    * Two passes over the token stream:
    *   1. fold every occurrence into one tiny CMS (eps/confidence
    *      size it at ~depth·width ints — KBs to low MBs — regardless
    *      of corpus size; `stat.countMinSketch` merges per-partition
    *      sketches, so the scan is one job with no shuffle);
    *   2. keep occurrences whose BROADCAST-sketch estimate clears
    *      minCount — a CMS never underestimates, so every true heavy
    *      hitter survives — then exact-count only those candidates
    *      and drop the overestimates with a final HAVING.
    * The result is EXACT (identical to the plain groupBy) for every
    * eps/confidence; the knobs trade only candidate-set slack (pass-2
    * shuffle volume) against sketch size. Tokens ride the exchange
    * once, as candidate (token, partial-count) pairs; the vocabulary
    * of a 100 TB web corpus (~10⁹ distinct tokens after typos/URLs)
    * never shuffles. The operator sketches the md5-60 of each token —
    * 8-byte probes, and a hash collision can only ADD a candidate
    * (removed by the exact recount), never lose one.
    *
    * NOTE: pass 1 (the sketch build) is an EAGER Spark action that
    * runs at CALL time, not when the returned DataFrame executes, and
    * the sketch stays broadcast until the GC-driven ContextCleaner
    * collects it. Long-lived applications calling this repeatedly
    * should use [[heavyHitterTokensWithHandle]] and `destroy()` the
    * handle once the result is fully consumed. */
  def heavyHitterTokens(docs: DataFrame, minCount: Long,
                        eps: Double = 1e-4, confidence: Double = 0.99,
                        textCol: String = "text"): DataFrame =
    heavyHitterTokensWithHandle(docs, minCount, eps, confidence, textCol)._1

  /** [[heavyHitterTokens]] exposing the count-min sketch's Broadcast
    * handle, so callers that invoke it per ingest batch can
    * `handle.destroy()` after consuming the result instead of
    * accumulating broadcast blocks until GC notices. Same contract as
    * [[graft.dedup.Dedup.dedupAgainstCorpusBloomWithHandle]]. */
  def heavyHitterTokensWithHandle(docs: DataFrame, minCount: Long,
                                  eps: Double = 1e-4, confidence: Double = 0.99,
                                  textCol: String = "text")
      : (DataFrame, org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.CountMinSketch]) = {
    require(minCount > 0, s"heavyHitterTokens: minCount must be > 0")
    val spark = docs.sparkSession
    def toks = docs.select(
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("_h", Dedup.md5Hash60(col("tok")))
    val cms = toks.stat.countMinSketch("_h", eps, confidence, seed = 42)
    val bc = spark.sparkContext.broadcast(cms)
    val out = toks
      .filter(graft.functions.VectorFunctions.cmsEstimateBcast(bc, col("_h")) >= minCount)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    (out, bc)
  }

  /** Temperature-scaled corpus mixing (multilingual-pretraining
    * sampling): with per-stratum counts c_i, the target mix follows
    * p_i ∝ c_i^α — α = 1 keeps the natural distribution, α = 0 gives a
    * uniform mix, and the 0 < α < 1 middle upweights low-resource
    * strata without flattening the corpus. The largest such mix
    * reachable by downsampling alone keeps stratum i at rate
    * (c_min / c_i)^(1-α): the smallest stratum keeps everything and
    * every other stratum downsamples toward it, so no row is ever
    * duplicated (oversampling is a training-loop concern, not a
    * corpus-materialization one).
    *
    * α is fixed at 1/2 because that exponent evaluates as `sqrt`,
    * which IEEE 754 requires to be CORRECTLY ROUNDED in every engine —
    * the kept set replays bit-identically in Spark and the DuckDB
    * oracle. A general α needs `pow`, which carries no such guarantee
    * (the JVM intrinsic and C libm may differ in the last ulp), and a
    * 1-ulp threshold shift moves a row across the keep boundary with
    * probability ~n/2^60 per corpus — rare, but this library's
    * determinism contract is exact, not probabilistic. Callers needing
    * another α can pre-scale counts upstream.
    *
    * Scale shape: identical to [[mixCorpus]] — one tiny count
    * aggregate broadcast back, then a narrow deterministic filter over
    * the scan; the 100 TB corpus is read once and never shuffled. */
  def mixCorpusTemperatureHalf(docs: DataFrame, strataCol: String,
                               idCol: String = "doc_id",
                               salt: String = TempSalt): DataFrame = {
    val counts = docs.groupBy(col(strataCol)).agg(count(lit(1)).as("_cnt"))
    val mn = counts.agg(min(col("_cnt")).as("_mn"))
    val rate = sqrt(col("_mn").cast("double") / col("_cnt"))
    val thr = floor(rate * lit((1L << 60).toDouble)).cast("long")
    docs.join(broadcast(counts), strataCol)
      .crossJoin(broadcast(mn))
      .filter(sampleKeep(col(idCol), thr, salt))
      .drop("_cnt", "_mn")
  }

  /** Data-constrained epoch allocation (the repeat-budgeting of
    * Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models"): given a total training-token budget, give each stratum
    * a sqrt-temperature share of it and convert that share into a
    * REPEAT factor (epochs = its share of the budget over its actual
    * tokens, capped at `maxEpochs` — the point past which repeated
    * data stops helping). The output table (stratum, n_tokens, share,
    * epochs) is the sampling schedule a training loader consumes.
    *
    * Determinism: token counts are exact integers (collected once —
    * the table is strata-sized); sqrt is correctly-rounded IEEE, each
    * sqrt is rounded to 6 dp and the normalizer is summed in DECIMAL
    * (order-free), and every downstream ratio is exactly-rounded
    * division — the DuckDB oracle replays all of it.
    *
    * Scale shape: ONE tokenize pass with map-side partial aggregation
    * into a strata-sized table; everything after is driver-trivial. */
  def mixEpochs(docs: DataFrame, budgetTokens: Long, maxEpochs: Double = 4.0,
                strataCol: String = "source", textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, s"mixEpochs: budgetTokens must be > 0, got $budgetTokens")
    require(maxEpochs > 0, s"mixEpochs: maxEpochs must be > 0, got $maxEpochs")
    import docs.sparkSession.implicits._
    val counts = docs.groupBy(col(strataCol))
      .agg(sum(size(TextAnalysis.tokens(col(textCol)))).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF(strataCol, "n_tokens")
    val t = counts.withColumn("_sq",
      round(sqrt(col("n_tokens").cast("double")), 6).cast("decimal(18,6)"))
    val z = t.agg(sum(col("_sq")).as("_z"))
    t.crossJoin(broadcast(z))
      .withColumn("share",
        round(col("_sq").cast("double") / col("_z").cast("double"), 6))
      .withColumn("epochs",
        round(least(lit(maxEpochs),
          col("share") * lit(budgetTokens.toDouble) / col("n_tokens")), 6))
      .select(col(strataCol), col("n_tokens"), col("share"), col("epochs"))
  }

  /** Leakage-free train/val/test assignment: every member of a
    * duplicate cluster receives the split of the cluster's canonical
    * id, so near-duplicate pairs can never straddle the train/test
    * boundary — the standard eval-contamination hole in per-document
    * hash splitting (a doc's near-twin lands in test while the doc
    * trains; the eval measures memorization, not generalization).
    *
    * `clusters` is [[graft.dedup.Dedup.dedupClusters]] output
    * (cluster_id = min member id, doc_id) — or any (cluster_id,
    * doc_id) labeling. Docs absent from it are singletons and draw on
    * their own id, which matches [[assignSplit]] exactly, so adding
    * dedup-awareness only ever MOVES whole clusters, never reshuffles
    * the singleton majority.
    *
    * Scale shape: one equi-join of the corpus against the cluster
    * labeling on the id key (AQE broadcasts it when small — clusters
    * hold only docs that HAVE a near-dup — and shuffles on 8-byte ids
    * otherwise), then the same zero-shuffle literal-threshold draw as
    * [[assignSplit]], keyed on the representative. */
  def assignSplitByCluster(docs: DataFrame, clusters: DataFrame,
                           splits: Seq[(String, Double)],
                           idCol: String = "doc_id",
                           salt: String = SplitSalt): DataFrame = {
    // project the labeling to exactly (id, cluster_id): any extra
    // columns a caller's clustering carries (e.g. a cluster size)
    // must not leak into the returned schema
    val labeling = clusters
      .withColumnRenamed("doc_id", idCol)
      .select(col(idCol), col("cluster_id"))
    val withRep = docs
      .join(labeling, Seq(idCol), "left")
      .withColumn("_rep", coalesce(col("cluster_id"), col(idCol)))
    assignSplit(withRep, splits, idCol = "_rep", salt = salt)
      .drop("cluster_id", "_rep")
  }

  /** Token-budget shard packing: assign each document to a shard so
    * every shard holds ~budgetTokens tokens, per stratum, in a
    * deterministic id order — the document-granularity form of sequence
    * packing (shard_id = tokens-before-this-doc DIV budget).
    *
    * Scale shape — a two-phase prefix sum, NOT a per-stratum window: a
    * `Window.partitionBy(stratum)` running sum funnels an entire
    * stratum (billions of rows in a ~10-language pretraining corpus)
    * through ONE task's sort — the definitive straggler. Instead:
    *   1. range-partition the narrow (id, stratum, n_tokens) projection
    *      on (stratum, id), so each partition holds a contiguous slice
    *      of the global order and every stratum splits across as many
    *      partitions as its size demands;
    *   2. aggregate per-(partition, stratum) token subtotals — a few
    *      thousand rows — and turn them into per-(partition, stratum)
    *      starting offsets on the driver;
    *   3. a narrow per-partition pass adds the broadcast offset to an
    *      in-partition running sum. No task ever sorts more than one
    *      partition's rows.
    * The range-partitioned projection is checkpointed between pass 2
    * and 3 ([[graft.ops.Relational.rangeScan]]) so both passes see the
    * identical partitioning even if the input's own row order is
    * nondeterministic (e.g. downstream of a shuffle); the running
    * sum itself is exact integer arithmetic, so shard assignment is
    * reproducible anywhere. mapPartitions is justified here: Catalyst
    * has no narrow running-sum operator (SPARK windows always
    * re-shuffle on the partition spec).
    */
  def packShards(docs: DataFrame, budgetTokens: Long, strataCol: String,
                 idCol: String = "doc_id", textCol: String = "text",
                 numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.LongType
    require(budgetTokens > 0, s"packShards: budgetTokens must be > 0, got $budgetTokens")
    val spark = docs.sparkSession
    // checkpoint the narrow projection BEFORE range-partitioning: the
    // range sampler evaluates its child in full to draw bounds, so an
    // unmaterialized projection would pay the tokenize pass twice (the
    // sampling pass alone cost more than the whole r3 window plan);
    // checkpointed, tokenize runs once and the sampler + shuffle read ints
    val proj = GraftPins.cut(docs.select(col(idCol), col(strataCol),
      size(TextAnalysis.tokens(col(textCol))).as("n_tokens")))
    // per-(partition, stratum) token subtotals: #partitions × #strata rows
    val (ranged, offsets, _) = graft.ops.Relational.rangeScan(proj,
      Seq(col(strataCol), col(idCol)), sum(coalesce(col("n_tokens"), lit(0))), 0L, _ + _,
      stratum = Some(col(strataCol)), numPartitions = numPartitions)
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    val outSchema = ranged.schema
      .add("shard_id", LongType)
    ranged.mapPartitions { it =>
      var pid = -1
      var stratum: Any = null
      var first = true
      var cum = 0L
      it.map { r =>
        val p = r.getInt(3)
        val s = r.get(1)
        if (first || p != pid || s != stratum) {
          pid = p
          stratum = s
          first = false
          cum = bcOffsets.value.getOrElse((p, s), 0L)
        }
        val shard = cum / budgetTokens
        if (!r.isNullAt(2)) cum += r.getInt(2)
        Row.fromSeq(r.toSeq :+ shard)
      }
    }(Encoders.row(outSchema)).toDF()
      .drop("_pid")
  }

  /** Sequence packing for training-data preparation: concatenate the
    * corpus in global `idCol` order and cut it into fixed `seqLen`-token
    * windows, emitting one row per (doc, window) overlap — `seq_id`,
    * plus the doc-relative token span `[tok_start, tok_start+tok_len)`
    * that lands in that window. Docs longer than `seqLen` split across
    * consecutive windows; short docs share windows — zero padding waste,
    * the standard GPT-style pretraining pack.
    *
    * This emits the ASSIGNMENT, not materialized text: the downstream
    * writer joins spans back to the token arrays and concatenates —
    * so every exchange here carries (id, n_tokens) ints, never text.
    * Same two-phase exact prefix-sum as [[packShards]] (range-partition
    * by id → per-partition token subtotals → broadcast offsets → narrow
    * per-partition walk): deterministic on any cluster/partitioning,
    * one tiny collect of #partitions longs, no single-task global
    * window. */
  def packSequences(docs: DataFrame, seqLen: Int, idCol: String = "doc_id",
                    textCol: String = "text", numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
    require(seqLen > 0, s"packSequences: seqLen must be > 0, got $seqLen")
    val spark = docs.sparkSession
    // checkpoint the narrow projection before range-partitioning — the
    // range sampler evaluates its child to draw bounds (see packShards)
    val proj = GraftPins.cut(docs.select(col(idCol),
      size(TextAnalysis.tokens(col(textCol))).as("n_tokens")))
    val (ranged, offsets, _) = graft.ops.Relational.rangeScan(proj, Seq(col(idCol)),
      sum(coalesce(col("n_tokens"), lit(0))), 0L, _ + _, numPartitions = numPartitions)
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    val outSchema = new StructType()
      .add(ranged.schema(idCol))
      .add("seq_id", LongType).add("tok_start", IntegerType).add("tok_len", IntegerType)
    val L = seqLen.toLong
    ranged.mapPartitions { it =>
      var pid = -1
      var first = true
      var cum = 0L
      it.flatMap { r =>
        val p = r.getInt(2)
        if (first || p != pid) {
          pid = p; first = false
          cum = bcOffsets.value.getOrElse((p, null), 0L)
        }
        val n = if (r.isNullAt(1)) 0 else r.getInt(1)
        val gStart = cum
        cum += n
        if (n <= 0) Iterator.empty
        else (gStart / L to (gStart + n - 1) / L).iterator.map { s =>
          val tokStart = math.max(s * L - gStart, 0L).toInt
          val tokEnd = math.min((s + 1) * L - gStart, n.toLong).toInt
          Row(r.get(0), s, tokStart, tokEnd - tokStart)
        }
      }
    }(Encoders.row(outSchema)).toDF()
  }

  /** Materialize the [[packSequences]] assignment into actual training
    * sequences: join the spans back to the token arrays, slice each
    * doc's contribution, and concatenate pieces in doc order per
    * window. Text enters exactly ONE shuffle here (the groupBy on
    * seq_id, carrying only the sliced pieces a window actually needs —
    * bounded by seqLen tokens per output row regardless of doc length);
    * in-window order is pinned by sort_array over (id, piece) structs,
    * so the result is deterministic on any partitioning. */
  def materializeSequences(docs: DataFrame, seqLen: Int, idCol: String = "doc_id",
                           textCol: String = "text", numPartitions: Int = 0): DataFrame = {
    val asg = packSequences(docs, seqLen, idCol, textCol, numPartitions)
    val toks = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
    asg.join(toks, idCol)
      .select(col("seq_id"), col(idCol),
        concat_ws(" ",
          slice(col("_toks"), col("tok_start") + 1, col("tok_len"))).as("_piece"),
        col("tok_len"))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok_len")).cast("bigint").as("n_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col(idCol), col("_piece")))),
          p => p("_piece")), " ").as("seq_text"))
  }

  /** Deterministic dataset split assignment (train/val/test…): the
    * [0, 2^60) md5 draw is cut into contiguous ranges sized by the
    * requested fractions, and each row gets the name of the range its
    * draw falls in. Pure integer compares against driver-computed
    * literal thresholds — the assignment is stable across engines,
    * partitionings, reruns, and retries, and a given id NEVER migrates
    * between splits when unrelated rows are added (the property
    * rand()-based splitting lacks). Zero shuffle. */
  def assignSplit(docs: DataFrame, splits: Seq[(String, Double)],
                  idCol: String = "doc_id",
                  salt: String = SplitSalt): DataFrame = {
    require(splits.nonEmpty, "assignSplit: at least one split required")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"assignSplit: fractions must sum to 1, got ${splits.map(_._2).sum}")
    val cuts = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(f => math.floor(f * (1L << 60).toDouble).toLong)
    val h = saltedDraw(col(idCol), salt)
    val assigned = splits.map(_._1).zip(cuts).reverse
      .foldLeft(lit(splits.last._1): Column) { case (acc, (name, cut)) =>
        when(h < cut, lit(name)).otherwise(acc)
      }
    docs.withColumn("split", assigned)
  }

  /** The literal thresholds assignSplit compares against — exposed so
    * an external replay (e.g. an oracle SQL string) can inline the
    * identical integers. */
  def splitThresholds(splits: Seq[(String, Double)]): Seq[(String, Long)] =
    splits.map(_._1).zip(
      splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
        .map(f => math.floor(f * (1L << 60).toDouble).toLong))

  /** Adaptive per-stratum filtering: keep the top num/den fraction of
    * each stratum by score (exactly floor(n·num/den) rows, ties broken
    * by id for determinism). The "keep the best X% per language" step —
    * an absolute score cutoff misbehaves when strata have different
    * score distributions; a per-stratum rank cutoff doesn't.
    *
    * Scale shape — broadcast threshold, NOT a full per-stratum rank: a
    * `row_number` over the stratum sorts billions of rows through one
    * task. Instead the exact rank-k cutoff comes from the per-(stratum,
    * score) HISTOGRAM (tiny: strata × distinct scores), whose running
    * sum locates the crossing score s* and how many of its ties are
    * still needed; the corpus side is then one broadcast join + narrow
    * filter (score > s*), plus an id-ordered row_number over ONLY the
    * tie band (score == s*). With a continuous score the tie band is a
    * handful of rows; with heavily quantized scores it can grow toward
    * the stratum size — still strictly smaller than the full-rank sort,
    * and the histogram keeps all heavy lifting in aggregates. All
    * arithmetic is integer counts — engine-exact.
    *
    * Rows with a NULL score are never kept (a null quality score is
    * unmeasurable, not excellent). */
  def topFractionByScore(df: DataFrame, strataCol: String, scoreCol: String,
                         num: Int, den: Int,
                         idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(num >= 0 && den > 0, "fraction must be num>=0, den>0")
    val hw = Window.partitionBy(col(strataCol))
      .orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cw = Window.partitionBy(col(strataCol))
    // per-(stratum, score) histogram: the only full-input aggregation;
    // the windows below run over this tiny relation, not the corpus
    val cuts = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(strataCol), col(scoreCol)).agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(hw))
      .withColumn("_n", sum(col("_c")).over(cw))
      .withColumn("_k", least(expr(s"(_n * $num) DIV $den"), col("_n")))
      .filter(col("_cum") - col("_c") < col("_k") && col("_cum") >= col("_k"))
      .select(col(strataCol), col(scoreCol).as("_cut"),
        (col("_k") - (col("_cum") - col("_c"))).as("_need"))
    val outCols = df.columns.map(col)
    val joined = df.join(broadcast(cuts), Seq(strataCol))
    val above = joined.filter(col(scoreCol) > col("_cut")).select(outCols: _*)
    // rank only the tie band at the cutoff score, ordered by id
    val tieW = Window.partitionBy(col(strataCol)).orderBy(col(idCol))
    val ties = joined.filter(col(scoreCol) === col("_cut"))
      .withColumn("_rn", row_number().over(tieW))
      // _rn is IntegerType — widen before comparing, or a tie band past
      // 2^31 rows wraps negative
      .filter(col("_rn").cast("long") <= col("_need"))
      .select(outCols: _*)
    above.unionByName(ties)
  }

  /** Per-source document cap (the web-curation domain cap: no single
    * domain may contribute more than `maxPerSource` documents). The
    * kept subset is chosen by the deterministic 60-bit md5 draw on the
    * id — a uniform per-source sample that is stable across engines,
    * reruns and ingestion order — with the id as tiebreak.
    *
    * Scale shape — two-phase, NOT a bare per-source window: a
    * `row_number` over the source key funnels a zipfian head domain
    * (easily 10⁹ rows of a web corpus) through ONE task's sort. Phase 1
    * counts per source (tiny aggregate, broadcast back) and derives a
    * per-source pre-filter threshold on the SAME salted draw at rate
    * ≈ (2·cap + 64)/n — over-cap sources shed all but ~2·cap + 64 rows
    * BEFORE the exchange, so the window sorts ~that many rows per
    * source regardless of the domain's true size. The exact rank then
    * runs on the survivors. Exactness is deterministic, not
    * probabilistic: the cap smallest draws all survive the pre-filter
    * iff a source keeps ≥ min(cap, n) rows, which phase 2 verifies with
    * a second tiny count — a source failing it (probability
    * ≈ e^(-(cap+64)²/(4·cap+128)), astronomically small, but data-
    * dependent) is routed around the pre-filter entirely. Both phases
    * order by the same draw, so the result is row-identical to the
    * single-window form at any scale. */
  def capPerSource(docs: DataFrame, maxPerSource: Int,
                   sourceCol: String = "source",
                   idCol: String = "doc_id",
                   salt: String = CapSalt): DataFrame =
    capPerSourceImpl(docs, maxPerSource, sourceCol, idCol, salt, preSlack = 2.0)

  /** [[capPerSource]] with the pre-filter survivor budget exposed:
    * expected survivors per over-cap source ≈ preSlack·cap + 64. The
    * public default (2.0) makes the fallback probability astronomically
    * small; tests set preSlack = 0 to force the fallback path
    * deterministically (≈64 expected survivors ≪ cap). */
  private[graft] def capPerSourceImpl(docs: DataFrame, maxPerSource: Int,
                                      sourceCol: String, idCol: String,
                                      salt: String,
                                      preSlack: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerSource > 0, s"capPerSource: cap must be > 0, got $maxPerSource")
    require(preSlack >= 0.0, s"capPerSource: preSlack must be >= 0, got $preSlack")
    val draw = saltedDraw(col(idCol), salt)
    // phase 1: per-source counts → pre-filter threshold as a fraction
    // of 2^60 (rate 1 ⇒ threshold 2^60 ⇒ the filter keeps everything,
    // since draws live in [0, 2^60))
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("_n"))
    val rate = least(lit(1.0), lit(preSlack * maxPerSource + 64.0) / col("_n"))
    val thrs = counts.select(col(sourceCol), col("_n"),
      floor(rate * lit((1L << 60).toDouble)).cast("long").as("_thr"))
    // null-safe join keys: a NULL source is a legal stratum for the
    // window form, so the two-phase form must cap it identically
    val pre = docs.join(
        broadcast(thrs.select(col(sourceCol).as("_src"), col("_thr"))),
        col(sourceCol) <=> col("_src"))
      .filter(draw < col("_thr"))
    // phase 2: deterministic exactness check — a source whose survivor
    // count fell below min(cap, n) (≈ never) bypasses the pre-filter
    val surv = pre.groupBy(col(sourceCol)).agg(count(lit(1)).as("_m"))
    val fallback = thrs.join(surv,
        thrs(sourceCol) <=> surv(sourceCol), "left")
      .filter(coalesce(col("_m"), lit(0L)) <
        least(col("_n"), lit(maxPerSource.toLong)))
      .select(thrs(sourceCol).as("_fb"))
    // a fallback source contributes ALL its rows via the semi-join, so
    // its pre-filter survivors must be EXCLUDED from the union — keeping
    // them would rank duplicated rows and crowd out docs the true
    // top-cap keeps (both broadcast sides share one tiny exchange)
    val candidates = pre.drop("_src", "_thr")
      .join(broadcast(fallback), col(sourceCol) <=> col("_fb"), "left_anti")
      .unionByName(docs.join(broadcast(fallback),
        col(sourceCol) <=> col("_fb"), "left_semi"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(saltedDraw(col(idCol), salt), col(idCol))
    candidates.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxPerSource)
      .drop("_rn")
      .select(docs.columns.map(col): _*)
  }

  /** Line-level boilerplate removal (the CCNet / RefinedWeb cleanup
    * step): a line that occurs in more than `maxDocFreq` distinct
    * documents is boilerplate — navigation bars, cookie banners,
    * footers — and is dropped from EVERY document; the surviving lines
    * are reassembled in their original order. Documents left with zero
    * lines disappear from the output (the CCNet convention).
    *
    * Scale shape: the line dictionary is built by shuffling the 60-bit
    * line hash (8 bytes/line), not line text; the corpus-side explode
    * is narrow; the only text shuffle is the final reassembly groupBy
    * on the document id — unavoidable (reassembly is a per-doc fold)
    * and proportional to output size. Line-hash collisions can merge a
    * rare line's count into another's (md5-60: ~n²/2⁶¹ expected — zero
    * in practice at corpus line counts).
    */
  def dropBoilerplateLines(docs: DataFrame, maxDocFreq: Long = 1,
                           idCol: String = "doc_id", textCol: String = "text",
                           sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
      .withColumn("_lh", Dedup.md5Hash60(col("line")))
    val freq = lines.groupBy(col("_lh"))
      .agg(countDistinct(col(idCol)).as("line_df"))
    lines.join(freq, "_lh")
      .filter(col("line_df") <= maxDocFreq)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          sep).as(textCol),
        count(lit(1)).cast("int").as("n_lines"))
  }

  /** Fixed-size token-window chunking — the pretraining-prep step that
    * turns variable-length documents into overlapping training windows:
    * chunk j of a doc covers whitespace tokens [j·stride, j·stride +
    * chunkSize); `stride < chunkSize` gives the usual overlap so no
    * boundary context is lost. Every doc yields ≥ 1 chunk (short docs
    * yield themselves), the last chunk always reaches the final token,
    * and chunks carry (doc_id, chunk_idx, chunk_text, n_tokens).
    *
    * Scale shape: entirely narrow — split, per-row `sequence` of chunk
    * starts, `transform`+`slice`, one `posexplode`. No shuffle at all;
    * output size is input·(1/stride overlap factor) and each row's
    * work is linear in its own length. All functions are codegen'd
    * builtins and replay exactly in SQL (integer chunk-count
    * arithmetic, 1-based slice). */
  def chunkTokens(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkSize > 0, s"chunkTokens: chunkSize must be > 0, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"chunkTokens: stride must be in [1, chunkSize], got $stride")
    val toks = split(col(textCol), "\\s+")
    // chunks = 1 + ceil((n - chunkSize) / stride) when n > chunkSize:
    // integer form (n - chunkSize + stride - 1) div stride + 1
    val n = size(toks)
    val nChunks = when(n <= chunkSize, lit(1))
      .otherwise(floor((n - lit(chunkSize) + lit(stride - 1)) / lit(stride))
        .cast("int") + lit(1))
    docs.select(col(idCol), toks.as("_toks"), nChunks.as("_nc"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("_nc") - 1),
          j => slice(col("_toks"), j * stride + 1, lit(chunkSize))))
          .as(Seq("chunk_idx", "_chunk")))
      .select(col(idCol), col("chunk_idx"),
        array_join(col("_chunk"), " ").as("chunk_text"),
        size(col("_chunk")).as("n_tokens"))
  }

  /** Tokenizer-vocabulary construction: rank tokens by corpus
    * frequency, keep the top `vocabSize`, and report each entry's
    * CUMULATIVE corpus coverage — the curve tokenizer training reads to
    * pick a vocab size (coverage(V) = fraction of all token
    * occurrences the top-V entries explain; the UNK rate is
    * 1 − coverage). Ties rank lexicographically, so the table is
    * deterministic.
    *
    * Scale shape: one tokenize+explode feeds a map-side-combined count
    * aggregate; the count table (vocabulary-sized, far smaller than the
    * corpus) is materialized once and its job observes the total-count
    * scalar, so neither re-runs the corpus pass; top-V plans as
    * TakeOrderedAndProject and the running sum windows over just the V
    * survivors. */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 2000,
                    textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(vocabSize > 0, s"vocabCoverage: vocabSize must be > 0, got $vocabSize")
    val (counts, tot) = GraftPins.ck(
      docs.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))(sum(col("cnt")).as("total"))
    val total = tot.getLong(0)
    val rankW = Window.partitionBy(pmod(length(col("tok")), lit(1)))
      .orderBy(col("cnt").desc, col("tok"))
    counts.orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .withColumn("rank", row_number().over(rankW))
      .withColumn("coverage",
        round(sum(col("cnt")).over(rankW).cast("double") / lit(total), 6))
      .select(col("rank"), col("tok"), col("cnt"), col("coverage"))
  }

  /** Content-defined chunking (the rolling-boundary technique of
    * dedup-storage systems, token-level): a token whose hash is ≡ 0
    * mod `avgChunk` CLOSES a chunk, so boundaries are decided by
    * content alone — insert or delete a token and every later chunk
    * still re-aligns at the next content boundary, which is what makes
    * chunk-fingerprint dedup robust to shifts where fixed-size
    * [[chunkTokens]] windows all move. Emits (id, chunk_idx, n_toks,
    * chunk md5) — the chunk-fingerprint table you exact-dedup against.
    *
    * Scale shape: one tokenize+posexplode, one per-doc running-sum
    * window (bounded by tokens-per-doc), one (id, chunk) aggregate;
    * 8-byte hashes decide boundaries, chunk text is re-joined only in
    * the final per-chunk digest. */
  def cdcChunks(docs: DataFrame, avgChunk: Int = 16,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(avgChunk > 0, s"cdcChunks: avgChunk must be > 0, got $avgChunk")
    val toks = docs
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("i", "t")))
      .withColumn("b",
        when(pmod(Dedup.md5Hash60(col("t")), lit(avgChunk.toLong)) === 0, 1).otherwise(0))
    val w = Window.partitionBy(col(idCol)).orderBy(col("i"))
    toks.withColumn("chunk_idx", (sum(col("b")).over(w) - col("b")).cast("long"))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(count(lit(1)).as("n_toks"),
        md5(array_join(transform(array_sort(collect_list(struct(col("i"), col("t")))),
          s => s.getField("t")), " ").cast("binary")).as("chunk_fp"))
  }

  /** CCNet-style perplexity bucketing: rank every document by its
    * LM fluency score ([[bigramLmScore]] here; a KenLM drop-in at
    * deployment) and split the corpus into `nBuckets` equal-count
    * tiers — CCNet's head/middle/tail, the quality stratification that
    * downstream mixing weights by. Bucket assignment is the exact
    * NTILE definition (first n mod b buckets get the extra row), tie
    * order (score, then id), so DuckDB's NTILE replays it literally.
    *
    * Scale shape ([[graft.ops.Relational.exactNtile]], factored out in
    * r9): the global rank that NTILE needs is computed WITHOUT
    * a single-partition window — range-shuffle on (score, id), one
    * per-partition row_number (parallel, bounded), per-partition
    * counts collected (nPart rows, driver-tiny) and folded into
    * broadcast offsets: rank = local rank + partition offset. The
    * range boundaries need not be reproducible for correctness — any
    * boundary placement yields the same total order and therefore the
    * same global rank. */
  def pplBuckets(docs: DataFrame, nBuckets: Int = 3,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nBuckets > 0, s"pplBuckets: nBuckets must be > 0, got $nBuckets")
    graft.ops.Relational
      .exactNtile(bigramLmScore(docs, idCol, textCol), nBuckets,
        Seq("lm_score", idCol), "ppl_bucket")
      .select(col(idCol), col("lm_score"), col("ppl_bucket"))
  }

  /** Chunk-level dedup savings — the estimator content-defined chunking
    * exists to serve: store every distinct chunk once, and the corpus
    * shrinks by the tokens of every NON-canonical chunk instance
    * (canonical = the (doc, chunk) smallest pair per fingerprint, the
    * same deterministic ownership rule as Dedup.removeDupSpans).
    * Reported per `srcCol` stratum: chunk/token counts, duplicated
    * tokens, and the dedup ratio — the number that says which sources
    * are boilerplate-heavy before any removal is committed.
    *
    * Scale shape: the chunk table ([[cdcChunks]]) is materialized once
    * (it feeds both the canonical-choice aggregate and the count-back
    * join, and is chunk-count-sized — far smaller than the corpus);
    * everything downstream shuffles (16-byte fp, ids, small ints)
    * only. */
  def cdcDedupStats(docs: DataFrame, avgChunk: Int = 16,
                    idCol: String = "doc_id", textCol: String = "text",
                    srcCol: String = "source"): DataFrame = {
    val chunks = GraftPins.cut(cdcChunks(docs, avgChunk, idCol, textCol))
    val canon = chunks.groupBy(col("chunk_fp"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("_c"))
    chunks.join(canon, "chunk_fp")
      .withColumn("_dup",
        col(idCol) =!= col("_c").getField(idCol) ||
          col("chunk_idx") =!= col("_c").getField("chunk_idx"))
      .join(docs.select(col(idCol), col(srcCol)), idCol)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("_dup"), col("n_toks")).otherwise(0L)).as("dup_tokens"),
        round(sum(when(col("_dup"), col("n_toks")).otherwise(0L)).cast("double") /
          sum(col("n_toks")), 6).as("dedup_ratio"))
  }

  /** TF-IDF term weights, top-k terms per document.
    *
    * The idf is the log-free rational form score = tf · (N / df),
    * computed in double: IEEE division/multiplication are exactly
    * rounded, so the score — and therefore the ranking — is
    * bit-identical across engines, unlike ln() (libm implementations
    * differ in the last ulp). Monotone in the classic tf·ln(N/df) for
    * fixed tf, and the standard raw-idf variant.
    *
    * Scale shape: one shuffle to (doc, term) counts, one to the term
    * dictionary (df), a dictionary join back on the term key, and a
    * per-doc top-k window. The dictionary is orders of magnitude
    * smaller than the corpus; nothing re-shuffles document text.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    // tf aggregates with map-side combine first, then ONE tok-keyed
    // exchange on the combined rows serves everything downstream: it
    // already clusters the df aggregate and pre-keys the tf⋈df join, so
    // neither consumer adds an exchange, and because both read the SAME
    // exchange the reuse pass computes the tokenize+explode+aggregate
    // once (the naive shape ran it twice and re-shuffled the probe —
    // the measured 4.0x sf1 scale ratio). N is one exact integer — a
    // collected literal instead of a cross-joined scalar plan.
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
      .repartition(col("tok"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.count()
    val scored = tf.join(df, "tok")
      .select(col(idCol), col("tok"),
        (col("tf").cast("double") / col("df") * lit(n)).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col(idCol), col("tok"), round(col("score"), 6).as("score"), col("rn"))
  }

  /** BM25 top-k document retrieval for a fixed query-term set — the
    * classic sparse-retrieval ranking (quality-ranked data selection,
    * eval-set retrieval, RAG-ish corpus probes).
    *
    * score(doc) = Σ_{t ∈ query} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * with the Robertson idf in its LOG-FREE rational form
    * idf(t) = (N − df + 0.5)/(df + 0.5) — same house determinism rule
    * as [[tfidfTopTerms]]: ln() differs in the last ulp across libm
    * implementations, while this rational is built from exactly-rounded
    * IEEE ops only, so scores are bit-identical across engines (it is a
    * monotone transform of the classic ln-idf per term). Per-term
    * scores are rounded to 6 dp and summed in DECIMAL, making the
    * per-doc total independent of addend order.
    *
    * Scale shape: tokens are exploded ONCE and immediately filtered to
    * the query terms (a handful of literals → codegen'd isin on the
    * scan side), so the full vocabulary never reaches an exchange; df
    * and the (N, avgdl) stats are tiny aggregates broadcast back; the
    * final top-k plans as TakeOrderedAndProject (no global sort, no
    * single-partition window over the corpus). */
  def bm25TopDocs(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
                  k1: Double = 1.2, b: Double = 0.75,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopDocs: queryTerms must be non-empty")
    val base = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"), size(col("_toks")).as("dl"))
    val stats = base.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = base.select(col(idCol), col("dl"), explode(col("_toks")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
    bm25Rank(tf, stats, k, k1, b, idCol)
  }

  /** Shared BM25 ranking tail for the scan path ([[bm25TopDocs]]) and
    * the index-probe path ([[bm25TopDocsIndexed]]): the two paths build
    * the SAME (id, dl, tok, tf) table, so keeping the scoring here —
    * one expression tree — is what makes the probe result bit-identical
    * to the scan result (and both to the one DuckDB oracle). */
  private def bm25Rank(tf: DataFrame, stats: DataFrame, k: Int,
                       k1: Double, b: Double, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfT), "tok").crossJoin(broadcast(stats))
      .select(col(idCol),
        round(
          ((col("n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))),
          6).cast("decimal(18,6)").as("s"))
    val agg = scored.groupBy(col(idCol)).agg(sum(col("s")).cast("double").as("score"))
    val top = agg.orderBy(col("score").desc, col(idCol)).limit(k)
    top.withColumn("rn",
      row_number().over(Window.orderBy(col("score").desc, col(idCol))))
  }

  /** Persist the inverted index BM25 retrieval probes: the posting
    * table (id, dl, tok, tf) — doc length DENORMALIZED into every
    * posting so a probe needs zero joins against a doc table — hash-
    * partitioned AND sorted by token within files, plus a one-row
    * stats table (n, sum_dl; avgdl is re-derived at probe time with
    * the same expression shape the scan path uses, so scores match
    * bit-for-bit).
    *
    * Why this layout at 100 TB: a query term lives in exactly one
    * partition file (hash partitioning), and within the file the
    * token sort gives parquet row-group min/max bounds — the probe's
    * isin filter pushes to the scan and reads only the query terms'
    * row groups, never the corpus. Build cost (the full tokenize +
    * explode + count) is paid once; probes are posting-proportional. */
  def saveInvertedIndex(docs: DataFrame, dir: String,
                        idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val base = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"), size(col("_toks")).as("dl"))
    base.agg(count(lit(1)).as("n"), sum(col("dl")).cast("bigint").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    base.select(col(idCol), col("dl"), explode(col("_toks")).as("tok"))
      .groupBy(col(idCol), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
      .repartition(col("tok"))
      .sortWithinPartitions(col("tok"))
      .write.mode("overwrite").parquet(s"$dir/postings")
  }

  /** Probe-only BM25 top-k over a [[saveInvertedIndex]] directory —
    * identical parameters give the identical result as the scan-path
    * [[bm25TopDocs]] (shared [[bm25Rank]] tail; spec-pinned), but the
    * probe reads only the query terms' postings (pushdown-pruned scan,
    * PlanAuditSpec-pinned) and the one-row stats table. */
  def bm25TopDocsIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                         queryTerms: Seq[String], k: Int = 10,
                         k1: Double = 1.2, b: Double = 0.75,
                         idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopDocsIndexed: queryTerms must be non-empty")
    val stats = spark.read.parquet(s"$dir/stats")
      .select(col("n"), (col("sum_dl").cast("double") / col("n")).as("avgdl"))
    val tf = spark.read.parquet(s"$dir/postings")
      .filter(col("tok").isin(queryTerms: _*))
    bm25Rank(tf, stats, k, k1, b, idCol)
  }

  /** Conjunctive boolean retrieval (AND of all `mustTerms`) over a
    * [[saveInvertedIndex]] directory — the posting-list-intersection
    * primitive under every search engine's filter stage: a document
    * qualifies iff EVERY query term appears in it, ranked by total
    * term frequency (tie-broken by id — a deterministic total order).
    *
    * Scale shape: the postings scan reads only the query terms'
    * token-sorted row groups (the [[bm25TopDocsIndexed]] pushdown
    * story); the intersection is ONE groupBy on the probe-sized
    * posting subset — postings already hold one row per (doc, term),
    * so `count(*) == nTerms` IS set intersection, no |terms|-way
    * self-join of the index; the top-k is TakeOrderedAndProject.
    * Probe cost is independent of corpus size at fixed document
    * frequency.
    *
    * Output: top-`k` rows — `doc_id`, `dl`, `total_tf`, ordered
    * (total_tf desc, id). */
  def booleanSearchIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                           mustTerms: Seq[String], k: Int = 20,
                           idCol: String = "doc_id"): DataFrame = {
    require(mustTerms.nonEmpty, "booleanSearchIndexed: mustTerms must be non-empty")
    require(mustTerms.distinct.size == mustTerms.size,
      "booleanSearchIndexed: mustTerms must be distinct")
    val tf = spark.read.parquet(s"$dir/postings")
      .filter(col("tok").isin(mustTerms: _*))
    tf.groupBy(col(idCol), col("dl"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).cast("long").as("total_tf"))
      .where(col("n_terms") === mustTerms.size)
      .orderBy(col("total_tf").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dl"), col("total_tf"))
  }

  /** Bigram-LM fluency score — the language-model quality filter of
    * CCNet/Wikipedia-LM pipelines (docs whose token transitions are
    * improbable under a corpus-trained LM are gibberish/boilerplate),
    * with the n-gram LM trained on the corpus itself in the same job.
    *
    * score(doc) = mean over its bigrams of P(cur | prev), with
    * Laplace smoothing: P = (c2(prev,cur) + 1) / (c1(prev) + V),
    * where c2/c1 are corpus bigram/prefix counts and V the distinct
    * prefix-token count. A real deployment swaps in a KenLM trained
    * elsewhere; the dataflow — n-gram dictionary build, count join-back,
    * per-doc aggregate — is identical and is the part that has to
    * scale.
    *
    * Determinism: every probability is a ratio of integers evaluated
    * in double (exactly-rounded IEEE division — no ln/exp perplexity,
    * which would differ in the last ulp across libm implementations;
    * the mean of per-bigram probabilities is a monotone-equivalent
    * quality signal for fixed doc length). Per-bigram scores are
    * rounded to 6 dp and summed in DECIMAL so the per-doc mean is
    * independent of addend order.
    *
    * Scale shape: tokens explode ONCE into 8-byte (h1, h2) md5-60
    * hashes — text never rides an exchange; the c2/c1 dictionaries are
    * groupBys on those hashes (corpus-vocabulary-sized, far smaller
    * than the corpus); the join-back reuses the hash partitioning; one
    * final per-doc rollup. */
  def bigramLmScore(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val base = docs.select(col(idCol), toks.as("_toks"))
      .filter(size(col("_toks")) >= 2)
    // Materialize the (id, h1, h2) bigram table ONCE: four consumers
    // (c2, c1, the V scalar, the join-back) would otherwise each
    // re-explode and re-md5 the corpus — the dominant per-row cost —
    // and Catalyst gives these shapes no common-subplan reuse (the
    // measured sf1 scale ratio was 4.5x, dominated by the repeated
    // passes). Rows are 24 bytes — the same volume the count shuffles
    // already carry.
    // h2 of bigram i IS the 2-token window hash at i, and h1 is the
    // per-token hash — both native kernels (one digest per element, no
    // per-bigram lambda frames); zipping the prefix slice of the token
    // hashes against the window hashes reproduces the (h1, h2) pairs
    // of the interpreted per-bigram struct form exactly
    val V = org.apache.spark.sql.graftext.VectorExpressions
    val big = GraftPins.cut(base.select(col(idCol),
      explode(arrays_zip(
        slice(V.md5Hashes60(col("_toks")), lit(1), size(col("_toks")) - 1),
        V.md5WindowHashes60(col("_toks"), 2))).as("bg"))
      .select(col(idCol), col("bg").getField("0").as("h1"),
        col("bg").getField("1").as("h2")))
    val c2 = big.groupBy(col("h2")).agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    // V = distinct prefix-token count = c1's row count: a single exact
    // scalar, collected once and fed back as a literal (integer — no
    // float-determinism exposure; the oracle's arithmetic is unchanged)
    val v = c1.count()
    big.join(c2, "h2").join(c1, "h1")
      .select(col(idCol),
        round((col("c2") + lit(1.0)) / (col("c1") + lit(v)), 6)
          .cast("decimal(18,6)").as("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6).as("lm_score"))
  }

  /** Interpolated Kneser-Ney bigram LM score — the smoothing actually
    * used by the KenLM models in CCNet-style quality filtering (Kneser
    * & Ney 1995; Chen & Goodman 1998's interpolated form):
    *
    *   P_KN(cur|prev) = (max(c(prev,cur) − D, 0)
    *                     + D · N1+(prev·) · Pcont(cur)) / c(prev)
    *   Pcont(cur)     = N1+(·cur) / |bigram types|
    *
    * where N1+(prev·) is the count of DISTINCT continuations of `prev`,
    * and N1+(·cur) the count of distinct contexts `cur` follows —
    * the "how promiscuous is this word" continuation probability that
    * distinguishes KN from count-ratio smoothing (Laplace:
    * [[bigramLmScore]]). D = 0.75, the textbook absolute discount; a
    * dyadic rational, so `c2 − D` is exact in double for any count
    * < 2⁵¹ and every term below is an exactly-rounded IEEE op — the
    * same determinism contract as the Laplace scorer (no ln/exp;
    * per-bigram scores rounded to 6 dp, summed in DECIMAL).
    *
    * score(doc) = mean P_KN over its bigrams.
    *
    * Scale shape: one (id, h1, h2, hc) bigram materialization (prefix /
    * window / current md5-60 hashes, all native kernels), checkpointed
    * once for its five consumers; the bigram-TYPE table (distinct
    * triples) is vocabulary-sized and checkpointed for its three
    * (N1+ dictionaries + the type-count scalar); every exchange carries
    * 8-byte hashes, never text; c1 and N1+(prev·) merge into one
    * h1-keyed dictionary before the join-back so the corpus-sized join
    * touches three dictionaries, not four. */
  def knBigramScore(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val base = docs.select(col(idCol), toks.as("_toks"))
      .filter(size(col("_toks")) >= 2)
    val V = org.apache.spark.sql.graftext.VectorExpressions
    val big = GraftPins.cut(base.select(col(idCol),
      explode(arrays_zip(
        slice(V.md5Hashes60(col("_toks")), lit(1), size(col("_toks")) - 1),
        V.md5WindowHashes60(col("_toks"), 2),
        slice(V.md5Hashes60(col("_toks")), lit(2), size(col("_toks")) - 1))).as("bg"))
      .select(col(idCol), col("bg").getField("0").as("h1"),
        col("bg").getField("1").as("h2"), col("bg").getField("2").as("hc")))
    val c2 = big.groupBy(col("h2")).agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    // |bigram types|: one exact integer scalar, observed by the type
    // table's checkpoint job and fed back as a literal
    val (types, nt) = GraftPins.ck(big.select(col("h1"), col("h2"), col("hc")).distinct())(
      count(lit(1)).as("t"))
    val npPrev = types.groupBy(col("h1")).agg(count(lit(1)).as("np"))
    val ncCur = types.groupBy(col("hc")).agg(count(lit(1)).as("nc"))
    val t = nt.getLong(0)
    val dict1 = c1.join(npPrev, "h1")
    big.join(c2, "h2").join(dict1, "h1").join(ncCur, "hc")
      .select(col(idCol),
        round(
          (greatest(col("c2") - lit(0.75), lit(0.0)) +
            (lit(0.75) * col("np")) * (col("nc").cast("double") / lit(t))) / col("c1"),
          6).cast("decimal(18,6)").as("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6).as("kn_score"))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much its hashed-unigram distribution looks like a
    * TARGET corpus (the high-quality domain you want more of) versus
    * the raw corpus itself. Features are md5-hashed token buckets
    * (`nBuckets`, paper's hashed n-grams); both distributions are
    * Laplace-smoothed; a document's score is the mean per-token
    * likelihood ratio p_target(bucket)/p_raw(bucket). DSIR proper sums
    * LOG ratios — a log-free mean ratio is used here under the house
    * determinism rule (ln differs in the last ulp across libm
    * implementations; every term here is built from exactly-rounded
    * IEEE ops, rounded to 6 dp and summed in DECIMAL so the per-doc
    * mean is independent of addend order). Selection = feed the score
    * to [[topFractionByScore]] or threshold it.
    *
    * Scale shape: both corpora explode to 8-byte bucket ids only (text
    * never rides an exchange); bucket counts are two tiny groupBys
    * (≤ nBuckets rows) and the per-bucket ratio table broadcasts back
    * to the per-token stream; one final per-doc rollup. The target
    * corpus is typically tiny (a curated seed set) — its pass is
    * negligible next to the raw scan. */
  def dsirScore(docs: DataFrame, target: DataFrame, nBuckets: Int = 512,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nBuckets > 0, s"dsirScore: nBuckets must be > 0, got $nBuckets")
    require(nBuckets <= (1 << 20),
      s"dsirScore: bucket count tables are driver-collected — nBuckets must stay driver-tiny, got $nBuckets")
    val b = nBuckets.toLong
    def buckets(df: DataFrame, cols: Column*) = df
      .select((cols :+ explode(TextAnalysis.tokens(col(textCol))).as("_tok")): _*)
      .select((cols :+ pmod(Dedup.md5Hash60(col("_tok")), lit(b)).as("b")): _*)
    val rawToks = buckets(docs, col(idCol))
    val tgtToks = buckets(target)
    // Both count tables are bounded by nBuckets rows — driver-tiny by
    // construction (the k-means-centroid precedent), so collect them
    // once: leaving them as plan subtrees re-exploded each corpus per
    // derived aggregate (cr/ct/nr/nt/final = 5 Generate subtrees,
    // measured — Catalyst has no common-subplan reuse across these
    // shapes). The integer counts become literals; every FLOAT op stays
    // a Spark expression below, bit-identical to the all-in-plan form.
    val crM = rawToks.groupBy(col("b")).agg(count(lit(1)).as("cr")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val ctM = tgtToks.groupBy(col("b")).agg(count(lit(1)).as("ct")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nrV = crM.map(_._2).sum
    val ntV = ctM.valuesIterator.sum
    import docs.sparkSession.implicits._
    val counts = crM.toSeq.map { case (bk, cr) => (bk, cr, ctM.getOrElse(bk, 0L)) }
      .toDF("b", "cr", "ct")
    val ratios = counts.select(col("b"),
      round(((col("ct") + lit(1.0)) / (lit(ntV) + lit(b))) *
            ((lit(nrV) + lit(b)) / (col("cr") + lit(1.0))), 6)
        .cast("decimal(18,6)").as("s"))
    // pre-aggregate (doc, bucket) so the rollup's shuffle carries one
    // row per distinct bucket per doc with map-side combine; n·s in
    // DECIMAL equals the per-token sum of s exactly
    rawToks.groupBy(col(idCol), col("b")).agg(count(lit(1)).as("n"))
      .join(broadcast(ratios), "b")
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_toks"),
        round(sum(col("n") * col("s")).cast("double") / sum(col("n")), 6)
          .as("dsir_score"))
  }

  /** Weighted PRIORITY sample (Duffield, Lund, Thorup 2007): draw
    * u_i ∈ (0, 1] per doc, rank by priority q_i = w_i / u_i, keep the k
    * largest. Higher-weight docs are proportionally likelier to
    * survive, and the scheme's threshold estimator makes subset sums
    * unbiased — the standard way to subsample a corpus by importance
    * weight (length, quality score, DSIR weight) instead of uniformly.
    * Deterministic twin of the randomized original: u comes from the
    * salted md5 draw ([[saltedDraw]] + 1, scaled by 2^60), so reruns and
    * the oracle agree bit-for-bit; priorities are exactly-rounded IEEE
    * divisions (no ln/exp — the house determinism rule).
    *
    * Scale shape: one narrow scan pass computes priorities; the top-k
    * plans as TakeOrderedAndProject (per-partition top-k, k-row merge
    * — no global sort), same as [[sampleFixedK]]. */
  def prioritySample(docs: DataFrame, k: Int, weightCol: String = "n_chars",
                     idCol: String = "doc_id",
                     salt: String = PrioritySalt): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"prioritySample: k must be > 0, got $k")
    // 2^60 is exactly representable; draw+1 ∈ [1, 2^60] keeps u in (0,1]
    val u = (saltedDraw(col(idCol), salt) + lit(1L)).cast("double") /
      lit(1152921504606846976.0)
    val q = col(weightCol).cast("double") / u
    docs.select(col(idCol), col(weightCol)).withColumn("_q", q)
      .orderBy(col("_q").desc, col(idCol)).limit(k)
      .withColumn("rn", row_number().over(
        Window.partitionBy(pmod(col(idCol), lit(1)))
          .orderBy(col("_q").desc, col(idCol))))
      .select(col(idCol), col(weightCol),
        round(col("_q"), 6).as("priority"), col("rn"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009
    * — the standard way to combine a sparse/BM25 ranker with a dense/
    * embedding ranker without score calibration): each ranker
    * contributes 1/(rrfK + rank) for its top `kCand` candidates, a
    * document's fused score is the sum of its contributions (0 when a
    * ranker didn't retrieve it), and the top `k` by fused score win.
    * Sparse side = [[bm25TopDocs]] over the corpus for `queryTerms`;
    * dense side = exact-cosine top-kCand around the `queryVecId`
    * embedding (ids are shared between documents and embeddings).
    *
    * Scale shape: both sides are already distributed top-k plans
    * (TakeOrderedAndProject — see their scaladocs); the fusion itself
    * joins two ≤ kCand-row DataFrames — driver-trivial at any corpus
    * size. Per-term RRF contributions are rounded to 6 dp and summed
    * in DECIMAL (order-free). */
  def hybridRrf(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
                queryVecId: Long = 0L, k: Int = 10, kCand: Int = 20,
                rrfK: Int = 60, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def contrib(rank: Column): Column =
      round(lit(1.0) / (lit(rrfK) + rank), 6).cast("decimal(18,6)")
    val sparse = bm25TopDocs(docs, queryTerms, kCand, idCol = idCol)
      .select(col(idCol).as("_bid"), contrib(col("rn")).as("_bs"))
    val dense = graft.sim.Similarity.knnBruteForce(emb, queryVecId, kCand)
      .select(col("vec_id").as("_vid"), contrib(col("rn")).as("_vs"))
    val fused = sparse.join(dense, col("_bid") === col("_vid"), "full_outer")
      .select(coalesce(col("_bid"), col("_vid")).as(idCol),
        (coalesce(col("_bs"), lit(0).cast("decimal(18,6)")) +
          coalesce(col("_vs"), lit(0).cast("decimal(18,6)"))).cast("double")
          .as("rrf_score"))
    fused.orderBy(col("rrf_score").desc, col(idCol)).limit(k)
      .withColumn("rn", row_number().over(
        Window.partitionBy(pmod(col(idCol), lit(1)))
          .orderBy(col("rrf_score").desc, col(idCol))))
  }

  /** Distributed BPE merge learning — the tokenizer-vocabulary induction
    * step of a pretraining pipeline (Sennrich et al. 2016): repeatedly
    * find the most frequent adjacent symbol pair across the corpus and
    * fuse it into a new symbol. Returns the learned merge table
    * `(step, sym_a, sym_b, merged, pair_n)` — the artifact a BPE
    * tokenizer is built from.
    *
    * Exactly like reference BPE trainers, the corpus is first collapsed
    * to its WEIGHTED WORD DICTIONARY (distinct token, count) — one
    * map-side-combined pass over the text, after which every merge
    * iteration runs on a vocabulary-sized table no matter how many
    * petabytes the corpus is. Symbol sequences are carried as
    * DOUBLE-space-separated strings (" l  o  w  "): a merge is one
    * non-overlapping left-to-right `replace(" a  b ", " ab ")`, and the
    * double separator is load-bearing — each match consumes ONE boundary
    * space from each side, leaving the other for the adjacent pair, so
    * "abab" correctly merges BOTH (a,b) pairs in one pass (a single-space
    * encoding eats the next match's leading boundary and silently merges
    * only alternate occurrences). `replace` is the identical primitive in
    * Spark and DuckDB, which is what makes the whole training loop
    * oracle-replayable; greedy non-overlap matches standard BPE ("a a a"
    * merges the leftmost pair). Each iteration's argmax
    * (count DESC, then lexicographic pair — the deterministic tiebreak)
    * is a 1-row collect: a driver scalar by construction, fed back as a
    * literal; the dictionary itself never leaves the cluster.
    *
    * Real-tokenizer merge counts (10⁴–10⁵) are supported: the
    * dictionary re-checkpoints every [[BpeCheckpointEvery]] merges, so
    * plan depth and per-round cost stay FLAT in nMerges (without it,
    * round i replays all i−1 stacked `replace`s from the initial
    * checkpoint — quadratic). Measured curve at nMerges=500: see
    * history/BENCH_SCALE.md §BPE (marginal cost FLAT at ~0.15 s/merge of
    * argmax-job latency on local[32]; the loop is 2 shuffle rounds per
    * merge over a vocabulary-sized table at any depth).
    */
  def learnBpeMerges(docs: DataFrame, nMerges: Int = 3,
                     textCol: String = "text", batch: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeCore(docs, nMerges, textCol, batch)._1
      .toDF("step", "sym_a", "sym_b", "merged", "pair_n")
  }

  /** The symbol vocabulary AFTER `nMerges` learned BPE merges: every
    * surviving symbol with its corpus occurrence count — the "tokenize
    * with the learned vocab" half of the BPE story (learnBpeMerges is
    * the training half; both share one loop). Runs on the weighted word
    * dictionary, so the apply pass is vocabulary-sized too. */
  def bpeSymbolHistogram(docs: DataFrame, nMerges: Int = 3,
                         textCol: String = "text"): DataFrame = {
    val segmented = bpeCore(docs, nMerges, textCol)._2
    segmented
      .select(col("n"), explode(split(trim(col("sp")), "  ")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("n")).as("n_occ"))
  }

  /** Re-checkpoint the merge dictionary every this many merges: each
    * merge stacks one `replace` onto the lineage, so step i otherwise
    * re-applies all i-1 earlier replaces from the last materialization —
    * O(n²) replace passes across an n-merge run. Checkpointing every K
    * bounds the live lineage at K replaces (O(n·K) total) and keeps
    * plan depth flat at ANY nMerges; K=25 keeps the per-checkpoint
    * materialization cost (one vocabulary-sized write) well under the
    * per-round argmax job it sits next to. */
  private val BpeCheckpointEvery = 25

  /** Per-DOCUMENT BPE encoding stats under the learned merges: token
    * count and post-merge symbol count — the tokenizer's compression
    * read on every doc (the third face of the BPE story: learnBpeMerges
    * trains, bpeSymbolHistogram tokenizes the dictionary, this encodes
    * the corpus). Returns (doc_id, n_tokens, n_symbols).
    *
    * Encoding is DOC-level, not token-level: each token's double-space
    * symbol string (" l  o  w  ") is concatenated per doc, which leaves
    * THREE spaces between tokens — the merge pattern " a  b " needs
    * exactly two, so merges can never cross a token boundary and one
    * `replace` per learned merge encodes the whole doc (no token
    * explode, no token-level shuffle; the corpus pass stays one narrow
    * projection). The merge table itself is a driver-collected
    * tokenizer artifact — nMerges rows, the same justified scalar
    * pattern as the bigram-LM V. */
  def bpeEncodeStats(docs: DataFrame, nMerges: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val merges = learnBpeMerges(docs, nMerges, textCol)
      .orderBy(col("step"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val toks = TextAnalysis.tokens(col(textCol))
    val sp0 = concat_ws("", transform(toks,
      t => concat(lit(" "), regexp_replace(t, "(.)", "$1  "))))
    val spEnc = merges.foldLeft(sp0) { case (sp, (a, b)) =>
      call_function("replace", sp, lit(s" $a  $b "), lit(s" $a$b "))
    }
    docs.select(col(idCol), size(toks).as("n_tokens"),
      size(split(trim(spEnc), "\\s+")).as("n_symbols"))
  }

  /** Core BPE loop shared by the three faces. `batch` > 1 learns up to
    * that many merges per pair-count round (the scheduling fix for real
    * 10⁴–10⁵-merge tokenizers: the measured per-merge floor is pure
    * per-round JOB LATENCY, not data — history/BENCH_SCALE.md §BPE — so fewer
    * rounds is the only lever). A round collects the top 4·batch
    * candidate pairs (a driver-tiny ≤1024-row collect of 3-column
    * rows), then greedily accepts candidates in (count DESC, a, b)
    * rank order subject to PAIRWISE INDEPENDENCE: a candidate is
    * rejected if either of its symbols, or its merged string, was
    * already read or produced by an accepted merge this round. Under
    * that rule no accepted replace can create or consume a match of
    * another (disjoint read sets; produced strings never equal a read
    * or produced string), so all accepted pairs' pre-round counts are
    * still exact when their replaces apply, and the stacked replaces
    * commute — one plan applies the whole round.
    *
    * Deviation from strict greedy (documented contract): ranks 2..k of
    * a round are chosen by PRE-ROUND counts — strict greedy would
    * recount after each merge and could prefer a pair whose count grew
    * (e.g. a pair involving a symbol just produced; independence makes
    * counts of ACCEPTED pairs exact, but a rejected conflicting pair
    * might have overtaken a later accepted one under recounting).
    * `batch = 1` (the default, and every catalog/oracle row) IS strict
    * greedy — identical output, bit for bit. */
  private def bpeCore(docs: DataFrame, nMerges: Int, textCol: String,
                      batch: Int = 1):
      (Seq[(Int, String, String, String, Long)], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 100000, s"nMerges in [1,100000], got $nMerges")
    require(batch >= 1 && batch <= 256, s"batch in [1,256], got $batch")
    // weighted word dictionary, symbols pre-split: " a b c " per token
    // the only corpus-sized pass
    val dict = GraftPins.cut(docs
      .select(explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(concat(lit(" "), regexp_replace(col("tok"), "(.)", "$1  ")).as("sp"),
        col("n")))
    var cur = dict
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 0
    var sinceCk = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      val want = math.min(batch, nMerges - step)
      val syms = split(trim(col("sp")), "  ")
      val top = cur
        .select(col("n"), explode(arrays_zip(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1))).as("pr"))
        .groupBy(col("pr.0").as("a"), col("pr.1").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(want * 4).collect() // ≤1024 rows: ranked candidates — driver-tiny
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.HashSet.empty[String]
        val accepted = top.iterator
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .filter { case (a, b, _) =>
            val ok = !used(a) && !used(b) && !used(a + b)
            if (ok) { used += a; used += b; used += (a + b) }
            ok
          }
          .take(want).toSeq
        for ((a, b, cnt) <- accepted) {
          step += 1
          merges += ((step, a, b, a + b, cnt))
          cur = cur.withColumn("sp",
            call_function("replace", col("sp"), lit(s" $a  $b "), lit(s" $a$b ")))
        }
        sinceCk += accepted.size
        // bound the stacked-replace lineage (see BpeCheckpointEvery)
        if (sinceCk >= BpeCheckpointEvery) { cur = GraftPins.cut(cur); sinceCk = 0 }
        // a full candidate list that yields zero accepts cannot happen
        // (the top-1 pair is always accepted first), so progress is
        // guaranteed; a SHORT list means the dictionary is nearly
        // merged out — stop when it can't even fill rank 1
        if (accepted.isEmpty) exhausted = true
      }
    }
    (merges.result(), cur)
  }

  /** Hashing-trick featurization (Weinberger et al. 2009): every
    * whitespace token lands in bucket md5Hash60(token) mod `k`, and a
    * document becomes the sparse count triple set (doc_id, bucket, n)
    * — the fixed-dimension, vocabulary-free text featurizer (no
    * dictionary to build, broadcast, or keep consistent across
    * training and serving; collisions are the accepted trade, bounded
    * in expectation by T/k per doc).
    *
    * Scale shape: one tokenize+explode feeds a map-side-combined
    * (doc_id, bucket) count — the partial aggregation collapses each
    * doc's tokens to ≤ k triples BEFORE the exchange, so the shuffle
    * carries at most k 24-byte rows per document no matter how long
    * the text is. Hash is the engine-portable [[graft.dedup.Dedup
    * .md5Hash60]] (60-bit non-negative, so `%` == `pmod`), replayed
    * bit-for-bit by the DuckDB oracle. */
  def featureHash(docs: DataFrame, k: Int = 64, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"featureHash: k must be >= 2, got $k")
    docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col(idCol), pmod(Dedup.md5Hash60(col("tok")), lit(k.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("n"))
  }

  /** Per-source governance report — the one-table corpus overview a
    * curation review starts from: volume (docs, tokens), shape
    * (mean tokens/doc) and redundancy (share of docs whose EXACT text
    * also appears elsewhere in the corpus — cross-source duplicates
    * count in every source that carries them, since each copy is a
    * governance fact for ITS source).
    *
    * Scale shape: one md5-fingerprint exchange carries the duplicate
    * marking (a count window on the same partitioning — the text
    * itself never shuffles twice: the fingerprint is the key), then
    * one source-grid rollup. Token counts are the whitespace-split
    * [[graft.text.TextAnalysis.tokenCount]] the oracle replays.
    *
    * Output: one row per `source` — `n_docs`, `total_tokens`,
    * `avg_tokens` (6 dp), `n_dup_docs`, `dup_share` (6 dp). */
  def sourceReport(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("source"), md5(col("text")).as("fp"),
      graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
    val marked = base.withColumn("fpc",
      count(lit(1)).over(Window.partitionBy(col("fp"))))
    marked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).cast("long").as("total_tokens"),
        round(sum(col("nt")).cast("double") / count(lit(1)), 6).as("avg_tokens"),
        sum(when(col("fpc") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_share",
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
  }

  /** Token-budget waterfilling — the pretraining-mix allocator: given
    * a total token budget smaller than the corpus, cap every source at
    * the SAME ceiling (the waterline) chosen so that fully-kept small
    * sources plus capped large ones exactly exhaust the budget's
    * integer part — the max-min-fair allocation that neither drowns
    * small sources (proportional capping does) nor lets one crawl
    * dominate (no capping does).
    *
    * The waterline is exact integer arithmetic on the source grid:
    * sources sorted ascending by tokens, the boundary k is the unique
    * row where cap_k = (budget − prefix_{k−1}) div (n − k + 1)
    * sandwiches between t_{k−1} and t_k; allocation = min(tokens,
    * cap). The ≤(n−k) leftover tokens from the integer division are
    * DISCLOSED as slack, not silently re-spread. A budget ≥ the corpus
    * allocates everything (NULL cap).
    *
    * Scale shape: one data pass to the per-source token grid; the sort
    * window and boundary scan live on the sources-bounded grid, whose
    * checkpoint job observes the cap.
    *
    * Output: one row per `source` — `tokens`, `alloc`, `capped`. */
  def tokenWaterfill(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"tokenWaterfill: budget must be > 0, got $budget")
    val t = docs.groupBy(col("source"))
      .agg(sum(graft.text.TextAnalysis.tokenCount(col("text"))).cast("long").as("tok"))
    val w = Window.orderBy(col("tok"), col("source")) // grid-sized: bounded by |sources|
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // grid-sized, every row's candidate cap in the same window pass; the
    // checkpoint job observes the boundary cap the allocation reads
    val (g, cap) = GraftPins.ck(t
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("pre", sum(col("tok")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ptok", coalesce(lag(col("tok"), 1).over(w), lit(0L)))
      .withColumn("n", count(lit(1)).over(all).cast("long"))
      .withColumn("total", sum(col("tok")).over(all).cast("long"))
      .withColumn("_cap", expr(s"($budget - (pre - tok)) div (n - rn + 1)")))(
      min(when(col("total") > budget && col("_cap") >= col("ptok") &&
        col("_cap") < col("tok"), col("_cap"))).as("cap"))
    GraftPins.withScalars(g, cap)
      .select(col("source"), col("tok").as("tokens"),
        when(col("total") <= budget, col("tok"))
          .otherwise(least(col("tok"), col("cap"))).as("alloc"),
        (col("total") > budget && col("tok") > col("cap")).as("capped"))
  }

  /** PMI collocation mining — the top adjacent-token pairs by
    * pointwise mutual information (Church & Hanks 1990: the "New York"
    * / "San Francisco" detector), the standard first pass of phrase
    * induction before tokenizer or n-gram work: pmi(x,y) =
    * ln( (c_xy/T_pairs) / ((c_x/T_tok)·(c_y/T_tok)) ), reported for
    * pairs with `minCount`+ occurrences (raw PMI is degenerate on
    * hapax pairs — the classic 1/c_xy blow-up — so the support floor
    * is part of the definition here).
    *
    * Determinism: counts are exact integers on 60-bit md5 keys; the
    * two stream totals are driver scalars embedded as INTEGER literals
    * (the bigramLm `v` precedent); the PMI argument is one
    * fixed-parenthesization double expression mirrored in the oracle,
    * rounded to 6 dp BEFORE ranking, with (ha, hb) tiebreaks — a total
    * order, so both engines pick the same top-k.
    *
    * Scale shape: the bigram table rides the [[bigramLmScore]] native
    * zip-hash kernels and is checkpointed once; pair and unigram
    * counts are map-side-combined 8-byte-key rollups; the two
    * count-join exchanges carry (8B, 8B) rows (pair-vocab sized, never
    * the stream); the top-k is a TakeOrderedAndProject. No text past
    * the tokenizer, no window over the stream.
    *
    * Output: top `k` rows — `ha`, `hb` (member token hashes),
    * `n_pair`, `n_a`, `n_b`, `pmi` (6 dp), `rn`. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, k: Int = 20,
                      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, s"pmiCollocations: minCount must be >= 1, got $minCount")
    require(k >= 1, s"pmiCollocations: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val V = org.apache.spark.sql.graftext.VectorExpressions
    val base = docs.select(TextAnalysis.tokens(col(textCol)).as("_toks"))
    // unigram counts: joined twice; the total is observed
    val (uni, uSt) = GraftPins.ck(base.select(explode(V.md5Hashes60(col("_toks"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c")))(sum(col("c")).as("tu"))
    val tu = uSt.getLong(0)
    val pairCounts = base.filter(size(col("_toks")) >= 2)
      .select(explode(arrays_zip(
        slice(V.md5Hashes60(col("_toks")), lit(1), size(col("_toks")) - 1),
        slice(V.md5Hashes60(col("_toks")), lit(2), size(col("_toks")) - 1))).as("bg"))
      .select(col("bg").getField("0").as("ha"), col("bg").getField("1").as("hb"))
      .groupBy(col("ha"), col("hb")).agg(count(lit(1)).as("n_pair"))
    // pair counts: the scored join reads the checkpoint; the total is
    // observed
    val (pairs, pSt) = GraftPins.ck(pairCounts)(sum(col("n_pair")).as("tp"))
    val tp = pSt.getLong(0)
    val scored = pairs.filter(col("n_pair") >= minCount)
      .join(uni.select(col("h").as("ha"), col("c").as("n_a")), "ha")
      .join(uni.select(col("h").as("hb"), col("c").as("n_b")), "hb")
      .select(col("ha"), col("hb"), col("n_pair"), col("n_a"), col("n_b"),
        round(log((col("n_pair").cast("double") * tu * tu) /
          (lit(tp).cast("double") * col("n_a") * col("n_b"))), 6).as("pmi"))
    val w = Window.partitionBy(pmod(col("ha"), lit(1)))
      .orderBy(col("pmi").desc, col("ha"), col("hb"))
    scored.orderBy(col("pmi").desc, col("ha"), col("hb")).limit(k)
      .withColumn("rn", row_number().over(w))
  }

  /** TextRank keyword extraction — PageRank over the token
    * co-occurrence graph (Mihalcea & Tarau 2004: tokens are nodes,
    * adjacency within the text is an undirected edge, and the
    * stationary importance ranks keywords — the unsupervised
    * keyphrase baseline a curation pipeline runs to label what a
    * corpus slice is "about").
    *
    * Construction: tokens hash to the catalog's 60-bit md5 keys; the
    * node set is gated to types with count ≥ `minCount` (the TextRank
    * paper's frequency filter stands in for its POS filter — no
    * tagger in the engine), edges are DISTINCT adjacent pairs in both
    * directions between surviving nodes, and the walk is
    * [[graft.ops.PageRankOp.pageRank]]'s 1e-12 fixed-point iteration —
    * exact integer arithmetic end to end, so the oracle's unrolled
    * replay pins every rank.
    *
    * Scale shape: the bigram stream is one pass (zip of adjacent
    * hashes, no shuffle until the distinct); the vocabulary gate
    * broadcasts (vocabulary-bounded by construction); the edge set is
    * vocabulary², bounded far below the corpus; PageRank then touches
    * only (node, BIGINT) rows per iteration. The top-k readout sorts
    * the k-row limit, never the vocabulary. */
  def textRankKeywords(docs: DataFrame, minCount: Long = 5L, k: Int = 20,
                       iters: Int = 3, textCol: String = "text"): DataFrame = {
    require(minCount >= 1, s"textRankKeywords: minCount must be >= 1, got $minCount")
    require(k >= 1, s"textRankKeywords: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val V = org.apache.spark.sql.graftext.VectorExpressions
    val base = docs.select(TextAnalysis.tokens(col(textCol)).as("_toks"))
    // node gate: joined twice (both edge endpoints)
    val vocab = GraftPins.cut(base.select(explode(V.md5Hashes60(col("_toks"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select(col("h")))
    val big = base.filter(size(col("_toks")) >= 2)
      .select(explode(arrays_zip(
        slice(V.md5Hashes60(col("_toks")), lit(1), size(col("_toks")) - 1),
        slice(V.md5Hashes60(col("_toks")), lit(2), size(col("_toks")) - 1))).as("bg"))
      .select(col("bg").getField("0").as("ha"), col("bg").getField("1").as("hb"))
      .filter(col("ha") =!= col("hb"))
    val gated = big
      .join(broadcast(vocab.select(col("h").as("ha"))), "ha")
      .join(broadcast(vocab.select(col("h").as("hb"))), "hb")
    val e = gated.select(col("ha").as("src"), col("hb").as("dst"))
      .unionByName(gated.select(col("hb").as("src"), col("ha").as("dst")))
      .distinct()
    val pr = graft.ops.PageRankOp.pageRank(e, "src", "dst", iters)
    val w = Window.partitionBy(pmod(col("node"), lit(1)))
      .orderBy(col("rank_u").desc, col("node"))
    pr.orderBy(col("rank_u").desc, col("node")).limit(k)
      .withColumn("rn", row_number().over(w))
  }

  /** Vocabulary-growth (Heaps'-law) curve — distinct-type count after
    * each 1/P checkpoint of the token stream in (doc_id, pos) order:
    * the "is this corpus still contributing new vocabulary or just
    * repeating itself" diagnostic a data-mixing review reads before
    * adding another crawl slice (Heaps 1978: V(N) ≈ K·N^β; a β
    * collapse signals duplication the dedup tier should explain).
    *
    * Exactness: everything is integers — token identity is the 60-bit
    * md5 ([[Dedup.md5Hash60]] collision argument), the stream position
    * is [[graft.ops.Relational.globalRank]] over (doc_id, pos) (total
    * order, two-phase, no single-partition sort), checkpoint sizes are
    * ceil(p·T/P) = (p·T+P−1) div P in integer arithmetic, and V(N_p)
    * counts first occurrences with f ≤ N_p. Only the final type/token
    * ratio divides (exact ints → correctly-rounded double, 6 dp).
    *
    * Scale shape: ONE token-stream-sized range exchange (the
    * globalRank), one map-side-combined rollup to the vocab-sized
    * first-occurrence table, then a P-way broadcast fan-out of that
    * table collapsing immediately to P rows — never a window over the
    * stream, never a per-point rescan (globalRank's subtotal collect
    * counts the stream; its checkpoint serves the rollup).
    *
    * Output: one row per checkpoint — `point` (1..P), `n_tokens`
    * (prefix length), `vocab` (distinct types seen), `ttr` (6 dp). */
  def vocabGrowth(docs: DataFrame, nPoints: Int = 8,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nPoints >= 1 && nPoints <= 64,
      s"vocabGrowth: nPoints must be in [1, 64], got $nPoints")
    import org.apache.spark.sql.graftext.{VectorExpressions => V}
    val spark = docs.sparkSession
    val stream = docs.select(col(idCol).as("_id"),
      posexplode(V.md5Hashes60(TextAnalysis.tokens(col(textCol)))).as(Seq("_pos", "_h")))
    // the rank's subtotal collect already counts the stream
    val (ranked, t) = graft.ops.Relational.globalRankN(
      stream, Seq(col("_id"), col("_pos")), "gpos")
    val first = ranked.groupBy(col("_h")).agg(min(col("gpos")).as("f"))
    val pts = spark.range(1, nPoints + 1).select(col("id").as("p"), lit(t).as("t"))
      .select(col("p"), expr(s"(p * t + $nPoints - 1) div $nPoints").as("n_prefix"))
    first.crossJoin(broadcast(pts))
      .filter(col("f") <= col("n_prefix"))
      .groupBy(col("p"), col("n_prefix"))
      .agg(count(lit(1)).as("vocab"))
      .select(col("p").as("point"), col("n_prefix").as("n_tokens"), col("vocab"),
        round(col("vocab").cast("double") / col("n_prefix"), 6).as("ttr"))
  }

  /** Zipf-law slope of the token frequency-rank curve — the
    * distributional sibling of [[vocabGrowth]]'s Heaps law: OLS of
    * ln(count) on ln(rank) over tokens with count ≥ `minCount` (the
    * classic truncation — the hapax cliff is not Zipf's regime); a
    * natural-language corpus reads ≈ −1, and a drift away from it is a
    * corpus-mix smell (boilerplate flattens the head, spam fattens the
    * tail).
    *
    * Determinism: tokens ride 60-bit md5 keys (exchanges carry 8-byte
    * hashes, never text); the rank is [[graft.ops.Relational
    * .globalRank]] over the total order (count DESC, hash) — no
    * single-partition sort; the two lns (the transcendentals) are
    * ROUND(…, 6) then DECIMAL, so every downstream moment — Σx, Σy,
    * Σxy, Σx² in width-bounded decimals BOTH engines can multiply
    * without overflowing their 38-digit cap — is exact arithmetic on
    * identically-rounded terms, and slope/intercept are single double
    * divides of exact closed forms.
    *
    * Output: one row — `n_tokens` (vocabulary kept), `zipf_slope`,
    * `intercept` (both 6 dp). */
  def zipfSlope(docs: DataFrame, minCount: Long = 5L,
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftext.{VectorExpressions => V}
    val counts = docs
      .select(explode(V.md5Hashes60(TextAnalysis.tokens(col(textCol)))).as("_h"))
      .groupBy(col("_h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val ranked = graft.ops.Relational.globalRank(
      counts, Seq(col("n").desc, col("_h")), "r")
    val terms = ranked.select(
      round(log(col("r").cast("double")), 6).cast("decimal(18,6)").as("x"),
      round(log(col("n").cast("double")), 6).cast("decimal(18,6)").as("y"))
    terms.agg(count(lit(1)).cast("decimal(9,0)").as("nn"),
        sum(col("x")).cast("decimal(18,6)").as("sx"),
        sum(col("y")).cast("decimal(18,6)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(24,12)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(24,12)").as("sxx"))
      .select(col("nn").cast("long").as("n_tokens"),
        round((col("nn") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("nn") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("zipf_slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (col("nn") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("intercept"))
  }
}
