/** Lives under org.apache.spark.sql to reach the private[sql] Catalyst
  * surface (AbstractDataType, classic.ExpressionUtils) — the same
  * pattern public Spark extension libraries use. Public API re-exported
  * via graft.functions.VectorFunctions.
  */
package org.apache.spark.sql.graftext

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BooleanType, DataType, DoubleType, LongType}
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Native Catalyst expression for the embedding hot loop.
  *
  * The `functions.aggregate`/`zip_with` fold used by the naive cosine
  * runs interpreted (higher-order functions don't participate in
  * whole-stage codegen), which makes it THE bottleneck of O(n²)
  * similarity scans. This expression generates a tight primitive
  * double loop instead — same left-to-right summation order, so results
  * are bit-identical to the fold (and to the DuckDB oracle).
  *
  * Null handling: a null array yields null (standard binary-expression
  * propagation); null *elements* contribute 0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `might_contain` probe against a BROADCAST bloom filter — the scale
  * transport for sketches too big to inline in the plan. Spark's own
  * runtime-filter machinery caps its plan-literal blooms at tens of MB
  * (`spark.sql.optimizer.runtime.bloomFilter.maxNumBits`, default 8 MB)
  * because a serialized plan travels with EVERY task and lives in the
  * driver's plan cache; a torrent broadcast ships the filter to each
  * executor exactly once and the task carries only the handle. This is
  * what lets the ingest-dedup bloom reach its ~10⁹-fingerprint /
  * ~1.2 GB design point (see graft.dedup.Dedup.dedupAgainstCorpusBloom).
  *
  * The task deserializes only the broadcast HANDLE; `bloom.value` reads
  * the executor-local broadcast cache (fetched once per executor), and
  * the transient lazy val pins the resolved filter per expression
  * instance so the per-row cost is one virtual call + the bloom probe.
  */
case class BloomMightContainBcast(bloom: Broadcast[BloomFilter], child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "might_contain_bcast"

  @transient lazy val filterValue: BloomFilter = bloom.value

  override def nullSafeEval(v: Any): Any =
    filterValue.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMightContain", this,
      classOf[BloomMightContainBcast].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.filterValue().mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count-min-sketch point estimate against a BROADCAST sketch — the
  * frequency twin of [[BloomMightContainBcast]]. A CMS never
  * underestimates, so `estimate >= t` keeps every key whose true count
  * is >= t (no false negatives); an exact recount of the surviving
  * candidates then removes the overestimates. That two-pass shape is
  * the scalable heavy-hitters plan: the exchange carries only the
  * candidate occurrences instead of the full vocabulary.
  *
  * Same transport discipline as the bloom probe: tasks serialize only
  * the broadcast handle, `sketch.value` reads the executor-local cache,
  * and the transient lazy val resolves it once per expression instance.
  */
case class CmsEstimateBcast(sketch: Broadcast[CountMinSketch], child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate_bcast"

  @transient lazy val sketchValue: CountMinSketch = sketch.value

  def est(v: Long): Long = sketchValue.estimateCount(java.lang.Long.valueOf(v))

  override def nullSafeEval(v: Any): Any = est(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cmsEstimate", this,
      classOf[CmsEstimateBcast].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.est($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of common elements between two SORTED long arrays by a single
  * linear merge scan — the closure kernel of edge-iterator triangle
  * counting (|adj(u) ∩ adj(v)| per edge). The built-in
  * `array_intersect` allocates an OpenHashSet AND the result array per
  * call; at 10⁸+ intersections per query that allocation is the
  * dominant cost, and only the COUNT is ever used. Inputs MUST be
  * sorted ascending (e.g. `sort_array`) — callers own that invariant;
  * duplicates match positionally like merge-join (distinct inputs give
  * set semantics). Null elements are not expected (graph adjacency);
  * a null array yields null by standard binary-expression propagation.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** CMS point estimate via broadcast (see [[CmsEstimateBcast]]). */
  def cmsEstimateBcast(sketch: Broadcast[CountMinSketch], key: Column): Column =
    ExpressionUtils.column(
      CmsEstimateBcast(sketch, ExpressionUtils.expression(key)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** |a ∩ b| of two sorted long arrays (see [[SortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedIntersectCount(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def rollingHashes(tokens: Column, w: Int): Column =
    ExpressionUtils.column(RollingHashes(ExpressionUtils.expression(tokens), w))

  def rollingNgrams(tokens: Column, w: Int): Column =
    ExpressionUtils.column(RollingNgrams(ExpressionUtils.expression(tokens), w))

  def md5MinHash(shingles: Column, k: Int): Column =
    ExpressionUtils.column(Md5MinHash(ExpressionUtils.expression(shingles), k))

  /** Z-order (Morton) value of an array of long dimensions — see
    * [[ZOrderLong]]. */
  def zorderLong(dims: Column, bitsPerDim: Int): Column =
    ExpressionUtils.column(ZOrderLong(ExpressionUtils.expression(dims), bitsPerDim))

  def md5Min(shingles: Column): Column =
    ExpressionUtils.column(Md5Min(ExpressionUtils.expression(shingles)))

  def md5Hashes60(tokens: Column): Column =
    ExpressionUtils.column(Md5Hashes60(ExpressionUtils.expression(tokens)))

  /** b Poisson(1) bootstrap draws per row off the md5-52 uniform of
    * "key_rep" — see [[PoissonBootstrapDraws]]. */
  def poissonBootstrapDraws(key: Column, b: Int): Column =
    ExpressionUtils.column(PoissonBootstrapDraws(ExpressionUtils.expression(key), b))

  /** 60-bit md5 hash per w-token sliding window (space-joined) — the
    * native single-digest-stream form of the dup-span/winnowing window
    * hash; see Md5WindowHashes60. */
  def md5WindowHashes60(tokens: Column, w: Int): Column =
    ExpressionUtils.column(Md5WindowHashes60(ExpressionUtils.expression(tokens), w))

  def simhashFrom(hashes: Column, bits: Int): Column =
    ExpressionUtils.column(SimHashFrom(ExpressionUtils.expression(hashes), bits))

  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(
      JaroWinkler(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def normalizeWs(s: Column): Column =
    ExpressionUtils.column(NormalizeWs(ExpressionUtils.expression(s)))

  def textStats(s: Column, stopwords: Seq[String]): Column =
    ExpressionUtils.column(TextStats(ExpressionUtils.expression(s), stopwords))

  def idPairs(ids: Column): Column =
    ExpressionUtils.column(IdPairs(ExpressionUtils.expression(ids)))

  def quantizeInt8(vec: Column): Column =
    ExpressionUtils.column(QuantizeInt8(ExpressionUtils.expression(vec)))

  /** PQ asymmetric-distance sum over an m-code array against a flat
    * subspace-major LUT (see [[PqAdcLookup]]): the LUT rides as a
    * reference array on the expression, never as plan literals. */
  def pqAdcLookup(codes: Column, lut: Array[Double], nCents: Int): Column =
    ExpressionUtils.column(
      PqAdcLookup(ExpressionUtils.expression(codes), lut, nCents))

  /** All nBands LSH band buckets at once (see [[LshBandBuckets]]);
    * null vectors coalesce to all-zero buckets, matching the literal
    * CASE-chain form this replaces. `planes` flattened plane-major. */
  def lshBandBuckets(vec: Column, planes: Array[Double], dim: Int,
                     nBands: Int, bitsPerBand: Int, stride: Int): Column = {
    import org.apache.spark.sql.functions.{array, coalesce, lit}
    coalesce(
      ExpressionUtils.column(LshBandBuckets(ExpressionUtils.expression(vec),
        planes, dim, nBands, bitsPerBand, stride)),
      array(Seq.fill(nBands)(lit(0L)): _*))
  }

  /** The top-`nprobe` nearest centroid list ids via the native kernel
    * (see [[KmeansNearestLists]]): `cents` rides either in-plan
    * (Left, plan-comfortable sizes) or by broadcast (Right, the scale
    * transport). Null vectors coalesce to the ascending-list-id prefix,
    * matching the literal `array_sort`-over-null-distances form this
    * replaces. */
  def kmeansNearestLists(vec: Column,
                         cents: Either[CentroidMatrix, Broadcast[CentroidMatrix]],
                         byCosine: Boolean, nprobe: Int): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    val ids = cents.fold(identity, _.value).listIds
    val nullFallback = array(ids.sorted.take(nprobe).map(lit).toSeq: _*)
    org.apache.spark.sql.functions.coalesce(
      ExpressionUtils.column(KmeansNearestLists(ExpressionUtils.expression(vec),
        cents, byCosine, nprobe)),
      nullFallback)
  }

  /** Spark's own bloom-filter aggregate (the runtime-filter machinery,
    * exposed for explicit use): aggregates a LONG key column into a
    * serialized org.apache.spark.util.sketch.BloomFilter.
    *
    * Spark's analyzer HARD-CAPS this aggregate at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (default 4M)
    * and `...maxNumBits` (default 2²⁶ ≈ 8 MB) because the result lands
    * in the serialized plan; the require below surfaces that limit as a
    * readable error instead of a deep AnalysisException. Past the caps,
    * either raise both confs (small overshoots) or — the scale path —
    * build the sketch at the RDD layer with the custom per-partition
    * treeReduce (graft.dedup.Dedup.dedupAgainstCorpusBloom — uncapped,
    * one job, sized from the caller's item bound) and probe it via
    * [[bloomMightContainBcast]], which has no plan-size coupling. */
  def bloomFilterAgg(key: Column, estimatedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val maxItems = conf.getConf(org.apache.spark.sql.internal.SQLConf
      .RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)
    val maxBits = conf.getConf(org.apache.spark.sql.internal.SQLConf
      .RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
    require(estimatedItems <= maxItems && numBits <= maxBits,
      s"bloomFilterAgg: requested items=$estimatedItems bits=$numBits exceed " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems / " +
        s"maxNumBits=$maxBits. Raise the confs, or use stat.bloomFilter + " +
        "bloomMightContainBcast (the broadcast transport) past plan-literal scale.")
    ExpressionUtils.column(new BloomFilterAggregate(
      ExpressionUtils.expression(key),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression())
  }

  /** might_contain(bloom, key) with the driver-held bloom inlined as a
    * binary literal — the probe side of [[bloomFilterAgg]]. Same
    * plan-size coupling as the aggregate: fine for sketches of at most
    * a few MB, wrong past that — use [[bloomMightContainBcast]]. */
  def bloomMightContain(bloom: Array[Byte], key: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    ExpressionUtils.column(BloomFilterMightContain(
      Literal.create(bloom, org.apache.spark.sql.types.BinaryType),
      ExpressionUtils.expression(key)))
  }

  /** might_contain(bloom, key) against a broadcast sketch — the probe
    * for blooms built with `Dataset.stat.bloomFilter` (no catalyst size
    * caps, no plan literal; see [[BloomMightContainBcast]]). */
  def bloomMightContainBcast(bloom: Broadcast[BloomFilter], key: Column): Column =
    ExpressionUtils.column(
      BloomMightContainBcast(bloom, ExpressionUtils.expression(key)))

  /** Register graft's native expressions for SQL use on an existing
    * session (the SparkSessionExtensions path is GraftExtensions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftFunctionRegistry.functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** The single source of truth for graft's SQL function surface: every
  * native expression, its SQL name, and its builder. Both registration
  * paths (VectorExpressions.register on a live session,
  * GraftExtensions at builder time) iterate this list, so the two
  * surfaces can't drift.
  */
private[graftext] object GraftFunctionRegistry {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** Integer literal argument (k / width / bits parameters): these are
    * constructor params of the expression, so they must be foldable. */
  private def intArg(name: String, e: Expression): Int = {
    require(e.foldable, s"$name: size argument must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProduct],
      es => DotProduct(es(0), es(1))),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      es => SortedIntersectCount(es(0), es(1))),
    ("rolling_hashes", classOf[RollingHashes],
      es => RollingHashes(es(0), intArg("rolling_hashes", es(1)))),
    ("rolling_ngrams", classOf[RollingNgrams],
      es => RollingNgrams(es(0), intArg("rolling_ngrams", es(1)))),
    ("md5_minhash", classOf[Md5MinHash],
      es => Md5MinHash(es(0), intArg("md5_minhash", es(1)))),
    ("md5_min", classOf[Md5Min], es => Md5Min(es(0))),
    ("md5_hashes60", classOf[Md5Hashes60], es => Md5Hashes60(es(0))),
    ("poisson_bootstrap_draws", classOf[PoissonBootstrapDraws],
      es => PoissonBootstrapDraws(es(0), intArg("poisson_bootstrap_draws", es(1)))),
    ("md5_window_hashes60", classOf[Md5WindowHashes60],
      es => Md5WindowHashes60(es(0), intArg("md5_window_hashes60", es(1)))),
    ("simhash_from", classOf[SimHashFrom],
      es => SimHashFrom(es(0), intArg("simhash_from", es(1)))),
    ("normalize_ws", classOf[NormalizeWs], es => NormalizeWs(es(0))),
    ("jaro_winkler", classOf[JaroWinkler], es => JaroWinkler(es(0), es(1))),
    ("text_stats", classOf[TextStats],
      es => TextStats(es(0), TextStats.defaultStopwords)),
    ("id_pairs", classOf[IdPairs], es => IdPairs(es(0))),
    ("int8_quantize", classOf[QuantizeInt8], es => QuantizeInt8(es(0))),
    ("zorder_long", classOf[ZOrderLong],
      es => ZOrderLong(es(0), intArg("zorder_long", es(1)))),
    ("lsh_band_buckets", classOf[LshBandBuckets],
      es => {
        val dim = intArg("lsh_band_buckets", es(1))
        val nBands = intArg("lsh_band_buckets", es(2))
        val bits = intArg("lsh_band_buckets", es(3))
        val stride = intArg("lsh_band_buckets", es(4))
        LshBandBuckets(es(0),
          LshBandBuckets.flatPlanes(dim, nBands * stride), dim, nBands, bits, stride)
      }))

  /** SQL-surface usage notes (shown by `DESCRIBE FUNCTION`) for the
    * functions whose behavior a SQL user could misread. Keyed by the
    * registered name; functions without an entry get a bare
    * ExpressionInfo. */
  val usages: Map[String, String] = Map(
    "poisson_bootstrap_draws" ->
      ("_FUNC_(key, b) - ARRAY<BIGINT> of b deterministic Poisson(1) " +
        "bootstrap resample counts for this row: md5(key || '_' || blk) " +
        "yields two 52-bit uniforms (hex chars 1-13 and 17-29) serving " +
        "reps 2*blk and 2*blk+1, compared against floor(CDF*2^52) " +
        "integer thresholds — replayable hash-for-hash by any engine " +
        "with md5. b must be a literal in [1, 4096]."),
    "zorder_long" ->
      ("_FUNC_(dims, bitsPerDim) - Z-order (Morton) interleave of an " +
        "ARRAY<BIGINT>: bit j of dims[k] lands at position j*D + k. " +
        "Dimensions must be non-negative; values are MASKED to " +
        "bitsPerDim bits (normalize/bucket first), and D*bitsPerDim " +
        "must be <= 63. Sort or range-partition by the result before a " +
        "columnar write to bound every file's min/max box in all " +
        "interleaved dimensions at once."),
    "sorted_intersect_count" ->
      ("_FUNC_(a, b) - Count of common elements between two ARRAY<BIGINT> " +
        "that MUST be sorted ascending (e.g. sort_array); a single " +
        "merge scan, no allocation. Duplicates match positionally " +
        "(merge-join semantics) — distinct inputs give set semantics."),
    "md5_hashes60" ->
      ("_FUNC_(arr) - Per-element 60-bit md5 hashes of a string array. " +
        "NULL elements are DROPPED: the output array is shorter than the " +
        "input and positions do NOT align with input indices when nulls " +
        "are present. Use only with order-insensitive consumers " +
        "(min-folds, bit counts)."),
    "int8_quantize" ->
      ("_FUNC_(vec) - Symmetric int8 quantization of a double array: " +
        "struct(scale, q, q_sum, q_min, q_max). NULL elements quantize " +
        "to code 0; an empty or all-zero vector gets scale 0."),
    "lsh_band_buckets" ->
      ("_FUNC_(vec, dim, nBands, bitsPerBand, stride) - All nBands " +
        "sign-bit LSH band buckets of a double array as ARRAY<BIGINT>, " +
        "over the deterministic splitmix64 hyperplane family (seed 42). " +
        "Band b bit i tests vec . plane[b*stride+i] > 0. A NULL vector " +
        "yields NULL (the library wrapper coalesces to all-zero buckets)."))
}
