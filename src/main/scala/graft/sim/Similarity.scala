package graft.sim

import graft.dedup.Banding
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Similarity search over an embedding column (`array<float>`).
  *
  * Float arithmetic is kept deterministic by casting to array<double>
  * BEFORE any arithmetic (a float multiply then widen differs from a
  * double multiply) and by folding sums left-to-right with `aggregate`
  * — the same sequential order every engine uses for a loop.
  */
object Similarity {

  /** Dot product of two double arrays — a native codegen'd Catalyst
    * expression (graft.functions.DotProduct); summation order matches a
    * left fold, so values are bit-identical to the SQL-oracle form. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  /** The interpreted higher-order-function form (kept for reference and
    * as the property-test oracle for DotProduct). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force top-k cosine neighbors of one query vector. The query
    * side is a 1-row broadcast; the scan side computes cosine inside
    * codegen and a single top-k (window over one 64-double score) picks
    * the neighbors. At 100 TB this is the exact-search baseline: one
    * pass, no shuffle except the final k-row reduction. */
  def knnBruteForce(emb: DataFrame, queryId: Long, k: Int = 20,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol)).as("qv"))
    val scored = emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), cosine(asDouble(col(vecCol)), col("qv")).as("cos_sim"))
    topKRanked(scored, k, idCol)
  }

  /** Deterministic top-k with rank column. orderBy+limit compiles to
    * TakeOrderedAndProject — per-partition top-k then a k-row merge —
    * so no global sort and no all-rows-to-one-partition window; the
    * rank window then runs over just the k survivors. The partition key
    * is id%1 (constant 0, but NOT foldable — a literal key would be
    * optimized away, putting WindowExec back on its no-partition
    * single-partition warning path for what is here a k-row input). */
  private def topKRanked(scored: DataFrame, k: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(pmod(col(idCol), lit(1)))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored.orderBy(col("cos_sim").desc, col(idCol)).limit(k)
      .withColumn("rn", row_number().over(w))
      .select(col(idCol), round(col("cos_sim"), 6).as("cos_sim"), col("rn"))
  }

  /** Deterministic random hyperplanes: plane[b][i] = splitmix64 of a
    * (seed, b, i) counter, scaled to [-0.5, 0.5). Generated driver-side
    * as plain doubles so the SAME constants can be inlined as literals
    * into both the Spark plan and a SQL oracle — data-independent,
    * reproducible across runs/executors with zero driver state. */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = 42L): IndexedSeq[IndexedSeq[Double]] = {
    // single source of the constants: the flat array the native
    // LshBandBuckets expression holds — this view re-shapes it, so the
    // literal/SQL form and the native kernel can never drift
    val flat = org.apache.spark.sql.graftext.LshBandBuckets.flatPlanes(dim, nBits, seed)
    IndexedSeq.tabulate(nBits, dim)((b, i) => flat(b * dim + i))
  }

  /** Random-hyperplane LSH bucket id: `nBits` sign bits of dot products
    * with the deterministic hyperplanes above (inlined as literals). */
  def lshBucket(vec: Column, dim: Int, nBits: Int = 12): Column = {
    val planes = hyperplanes(dim, nBits)
    (0 until nBits).map { b =>
      when(dot(vec, array(planes(b).map(lit): _*)) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN via LSH buckets: probe only vectors in the query's bucket.
    * Recall is tunable via nBits (fewer bits → bigger buckets); at
    * scale the bucket column is a partition/bucketing key so a probe
    * touches one partition instead of the full corpus. */
  def annLsh(emb: DataFrame, queryId: Long, dim: Int, k: Int = 20, nBits: Int = 8,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withBucket = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim, nBits))
    val q = withBucket.filter(col(idCol) === queryId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    val scored = withBucket.filter(col(idCol) =!= queryId)
      .join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col(idCol), cosine(col("v"), col("qv")).as("cos_sim"))
    topKRanked(scored, k, idCol)
  }

  /** IVF-style ANN: a coarse partition (inverted list) per vector, a
    * centroid per list, probe = exact top-k within the nearest
    * centroid's list only. Here the list assignment comes from the
    * `listCol` column (a real IVF runs k-means first — the probe-side
    * dataflow is identical); at scale the list id is the partition/
    * bucket key, so a probe touches one partition instead of the full
    * corpus, and centroids are a tiny broadcast table.
    *
    * Determinism: centroid components are means of the vector
    * components rounded to 6 decimals and summed in DECIMAL (exact,
    * order-independent), then divided in double — reproducible in any
    * engine; all similarity scores go through the fixed-order dot
    * product. */
  /** The IVF centroid table: one row per inverted list, built in ONE
    * aggregation — dim decimal sums per list (partial map-side combine,
    * a single shuffle of ~dim·16 bytes per list), not a posexplode
    * (dim× the scan rows) followed by two groupBys and a collect_list
    * re-assembly. Arithmetic: exact decimal sums of 6-decimal-rounded
    * components, divided in double — order-independent and replayable
    * in any engine. A real deployment materializes this once (it is
    * tiny — one row per list) and probes it millions of times; see
    * annIvfWithCentroids. */
  def ivfCentroids(emb: DataFrame, dim: Int,
                   vecCol: String = "embedding",
                   listCol: String = "label"): DataFrame = {
    val v = emb.select(asDouble(col(vecCol)).as("v"), col(listCol))
    val sumCols = (0 until dim).map(i =>
      sum(round(element_at(col("v"), i + 1), 6).cast("decimal(18,6)")).as(s"_s$i"))
    v.groupBy(col(listCol))
      .agg(count(lit(1)).as("_n"), sumCols: _*)
      .select(col(listCol),
        array((0 until dim).map(i =>
          col(s"_s$i").cast("double") / col("_n")): _*).as("cv"))
  }

  /** IVF probe against a prebuilt centroid table (ivfCentroids, read
    * back from wherever it was materialized): broadcast the centroids,
    * pick the nearest list, scan only that list. */
  def annIvfWithCentroids(emb: DataFrame, centroids: DataFrame, queryId: Long,
                          k: Int = 20, idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          listCol: String = "label"): DataFrame = {
    val v = emb.select(col(idCol), asDouble(col(vecCol)).as("v"), col(listCol))
    val q = v.filter(col(idCol) === queryId).select(col("v").as("qv"))
    val nearest = centroids.crossJoin(broadcast(q))
      .orderBy(cosine(col("cv"), col("qv")).desc, col(listCol))
      .limit(1)
      .select(col(listCol).as("probe_list"), col("qv"))
    val scored = v.filter(col(idCol) =!= queryId)
      .join(broadcast(nearest), col(listCol) === col("probe_list"))
      .select(col(idCol), cosine(col("v"), col("qv")).as("cos_sim"))
    topKRanked(scored, k, idCol)
  }

  def annIvf(emb: DataFrame, queryId: Long, dim: Int, k: Int = 20,
             idCol: String = "vec_id", vecCol: String = "embedding",
             listCol: String = "label"): DataFrame =
    annIvfWithCentroids(emb, ivfCentroids(emb, dim, vecCol, listCol),
      queryId, k, idCol, vecCol, listCol)

  // ------------------------------------------------------------ k-means

  /** Distributed Lloyd's k-means over the embedding column — the real
    * centroid builder for IVF (replacing annIvf's label-column
    * stand-in).
    *
    * Scale shape: the k×dim centroid table lives on the DRIVER between
    * rounds (tiny — kilobytes for any realistic nLists), so each round
    * is (a) a NARROW assignment pass with the centroids inlined as
    * literals — zero shuffle, the same trick as the LSH hyperplanes —
    * and (b) one aggregation whose output is k rows of dim decimal
    * sums (map-side combined). The corpus never shuffles vectors and
    * the driver never loops over rows, only rounds.
    *
    * Determinism (both across cluster topologies and into the DuckDB
    * oracle): seeds are the nLists vectors with the smallest salted
    * 60-bit md5 draws (list j = j-th smallest); the assignment argmin
    * orders by (squared L2, list id) with every dot product a fixed
    * left fold; centroid updates are exact decimal sums of
    * 6-decimal-rounded components divided in double. A list that ends
    * a round empty DIES (standard Lloyd's artifact) — later rounds
    * argmin over the survivors. Fixed `iters` rounds, no convergence
    * test: reproducibility beats adaptivity for a corpus-build
    * artifact. */
  def kmeans(emb: DataFrame, nLists: Int, dim: Int, iters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding",
             salt: String = "kmeans:"): Seq[(Int, Seq[Double])] = {
    require(nLists > 0, s"kmeans: nLists must be > 0, got $nLists")
    require(iters >= 1, s"kmeans: iters must be >= 1, got $iters")
    val v = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val seeds = v
      .withColumn("_draw", graft.dedup.Dedup.md5Hash60(
        concat(lit(salt), col(idCol).cast("string"))))
      .orderBy(col("_draw"), col(idCol)).limit(nLists)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0))
    var cents: Seq[(Int, Seq[Double])] =
      seeds.toSeq.zipWithIndex.map { case (c, j) => (j, c) }
    for (_ <- 0 until iters) {
      val assigned = v.withColumn("list", kmeansAssign(col("v"), cents))
      cents = ivfCentroids(assigned, dim, vecCol = "v", listCol = "list")
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
    }
    cents
  }

  /** Centroid matrices up to this many bytes ride inside the plan as a
    * reference array (the LshBandBuckets transport); past it they ship
    * by torrent broadcast (the BloomMightContainBcast transport) — one
    * executor-local fetch instead of a copy in every serialized task,
    * and no plan bloat through the optimizer's tree copies. 4 MB ≈
    * nLists 8192 × dim 64, or nLists 1024 × dim 512. */
  val PlanComfortableCentroidBytes: Long = 4L << 20

  /** Flatten a centroid table for the native kernel, sorted by list id
    * (kmeans already emits them sorted; sort defensively). */
  private def centroidMatrix(cents: Seq[(Int, Seq[Double])]): org.apache.spark.sql.graftext.CentroidMatrix = {
    require(cents.nonEmpty, "centroidMatrix: no centroids")
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      s"centroidMatrix: ragged centroid lengths (expected $dim)")
    val sorted = cents.sortBy(_._1)
    org.apache.spark.sql.graftext.CentroidMatrix(
      sorted.map(_._1).toArray, sorted.flatMap(_._2).toArray, dim)
  }

  /** Pick the centroid transport by size: in-plan reference array below
    * [[PlanComfortableCentroidBytes]], torrent broadcast above. The
    * broadcast handle is released by Spark's ContextCleaner when the
    * plan is collected; long-lived applications assigning against many
    * large centroid tables can pass their own broadcast to the
    * graftext.VectorExpressions.kmeansNearestLists API and destroy() it
    * explicitly. */
  private def centroidTransport(cents: Seq[(Int, Seq[Double])])
      : Either[org.apache.spark.sql.graftext.CentroidMatrix,
               org.apache.spark.broadcast.Broadcast[org.apache.spark.sql.graftext.CentroidMatrix]] = {
    val m = centroidMatrix(cents)
    if (m.flat.length * 8L <= PlanComfortableCentroidBytes) Left(m)
    else Right(SparkSession.active.sparkContext.broadcast(m))
  }

  /** Nearest-centroid assignment (squared L2 = (v·v − 2·v·c) + c·c,
    * argmin by (distance, list id)) via the native KmeansNearestLists
    * kernel — the centroid matrix rides as a reference array or a
    * broadcast, never as plan literals, so assignment stays
    * JIT-compiled at any nLists×dim (the literal CASE/array_sort form
    * crossed HotSpot's 8 KB ceiling past toy list counts — the same
    * failure LshBandBuckets fixed for LSH bands). Bit-identical to
    * [[kmeansAssignLiteral]] and replayable in SQL as a ROW_NUMBER over
    * the same (distance, list) ordering. */
  def kmeansAssign(vec: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    require(cents.nonEmpty, "kmeansAssign: no centroids")
    element_at(org.apache.spark.sql.graftext.VectorExpressions
      .kmeansNearestLists(vec, centroidTransport(cents), byCosine = false, nprobe = 1), 1)
  }

  /** The literal-inlined column form of [[kmeansAssign]] (kept as the
    * parity oracle for the native kernel — NOT the scale path: it
    * embeds the whole centroid matrix in the plan and its generated
    * method crosses the JIT ceiling past toy list counts). */
  def kmeansAssignLiteral(vec: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    require(cents.nonEmpty, "kmeansAssignLiteral: no centroids")
    val scored = cents.map { case (j, c) =>
      val ca = array(c.map(lit): _*)
      struct((dot(vec, vec) - lit(2.0) * dot(vec, ca) + dot(ca, ca)).as("d"),
        lit(j).as("l"))
    }
    element_at(array_sort(array(scored: _*)), 1).getField("l")
  }

  /** IVF with real k-means lists: build centroids with [[kmeans]],
    * assign every vector to its final list (narrow, literal-inlined),
    * then probe the nearest list exactly as annIvfWithCentroids. */
  def annIvfKmeans(emb: DataFrame, queryId: Long, dim: Int, k: Int = 20,
                   nLists: Int = 4, iters: Int = 2,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   centroids: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // caller-supplied centroids (a session face) skip the clustering's
    // corpus passes; kmeans is deterministic, so cached == recomputed
    val cents = centroids.getOrElse(kmeans(emb, nLists, dim, iters, idCol, vecCol))
    val assigned = emb.withColumn("list", kmeansAssign(asDouble(col(vecCol)), cents))
    val centDf = cents.toDF("list", "cv")
    annIvfWithCentroids(assigned, centDf, queryId, k, idCol, vecCol, listCol = "list")
  }

  /** The m per-subspace PQ codebooks, trained in FUSED passes. The
    * serial form (one [[kmeans]] per subspace on its `slice`, salt
    * `pq<s>:` — the spec's parity oracle) schedules m·(1 seed + iters Lloyd) jobs — 24 at the catalog's
    * m=8/iters=2 — each a full corpus pass; on the bench box that is
    * nearly all per-job scheduling (the ktruss/textrank lesson), and
    * at 100 TB it is 24 corpus scans where 3 suffice. Subspaces are
    * INDEPENDENT, so every per-subspace job fuses into one job across
    * all m:
    *
    *  - one checkpoint of the exploded (s, _draw, sv) table — same
    *    bytes as the corpus (m subvectors of dim/m re-assemble the
    *    vector) plus a 60-bit draw per piece;
    *  - one seed job: row_number over (s) ordered by (_draw, id),
    *    rn ≤ nCents — the per-subspace `orderBy(_draw, id).limit(n)`
    *    verbatim, all m at once;
    *  - one job per Lloyd round: per-row assignment against its own
    *    subspace's centroids (a CASE over the m native kernels — each
    *    row evaluates exactly one), then ONE groupBy(s, list) with
    *    dim/m decimal sums — [[ivfCentroids]]'s exact arithmetic
    *    (6-dp-rounded components, exact DECIMAL sums — order-
    *    independent, so fused == serial BYTE-IDENTICALLY; spec-pinned
    *    incl. the empty-list-death case).
    *
    * Job count m·(iters+1) → iters+2; corpus passes likewise. */
  def pqTrainCodebooks(v: DataFrame, m: Int, sub: Int, nCents: Int,
                       iters: Int, idCol: String,
                       saltPrefix: String = "pq"): Seq[Seq[(Int, Seq[Double])]] = {
    val pieces = array((0 until m).map(s => struct(
      lit(s).as("s"),
      graft.dedup.Dedup.md5Hash60(
        concat(lit(s"$saltPrefix$s:"), col(idCol).cast("string"))).as("_draw"),
      slice(col("v"), s * sub + 1, sub).as("sv"))): _*)
    val ex = GraftPins.cut(v.select(col(idCol).as("_id"), explode(pieces).as("e"))
      .select(col("_id"), col("e.s").as("s"), col("e._draw").as("_draw"),
        col("e.sv").as("sv")))
    val seedRows = ex
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("s")).orderBy(col("_draw"), col("_id"))))
      .filter(col("_rn") <= nCents)
      .select(col("s"), col("_rn"), col("sv"))
      .collect()
    var cents: IndexedSeq[Seq[(Int, Seq[Double])]] = (0 until m).map { s =>
      seedRows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .zipWithIndex.map { case (r, j) => (j, r.getSeq[Double](2)) }.toSeq
    }
    val sumCols = (0 until sub).map(i =>
      sum(round(element_at(col("sv"), i + 1), 6).cast("decimal(18,6)")).as(s"_s$i"))
    for (_ <- 0 until iters) {
      // each row evaluates exactly one branch of the CASE — the same
      // native nearest-centroid kernel the serial path runs, against
      // its own subspace's centroid matrix
      val assign = (1 until m).foldLeft(
        when(col("s") === 0, kmeansAssign(col("sv"), cents(0)))) { (acc, s) =>
        acc.when(col("s") === s, kmeansAssign(col("sv"), cents(s)))
      }
      val updated = ex.withColumn("list", assign)
        .groupBy(col("s"), col("list"))
        .agg(count(lit(1)).as("_n"), sumCols: _*)
        .select(col("s"), col("list"),
          array((0 until sub).map(i =>
            col(s"_s$i").cast("double") / col("_n")): _*).as("cv"))
        .collect()
      cents = (0 until m).map { s =>
        updated.filter(_.getInt(0) == s)
          .map(r => (r.getInt(1), r.getSeq[Double](2)))
          .sortBy(_._1).toSeq
      }
    }
    cents
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): split each dim-`dim` vector into `m`
    * subspaces of dim/m components, run an independent k-means
    * ([[kmeans]], salted per subspace so subspaces don't co-seed) with
    * `nCents` centroids in each, and store per vector only its m
    * nearest-centroid codes — dim doubles collapse to m small ints
    * (64×8B → 8×1B here, a 64× memory cut; the compression that makes
    * a 100 TB vector corpus RAM-resident). A query is answered by
    * asymmetric distance computation (ADC): precompute the m×nCents
    * lookup table ‖q_s − C_s[j]‖² once on the driver (kilobytes), then
    * each corpus vector's approximate distance is m table lookups + an
    * m-term sum — no per-row floating-point vector math at all.
    *
    * Scale shape: training cost is m small k-means runs (sample the
    * corpus for training at real scale — the codebook doesn't need
    * every row); encoding is one narrow pass with m native
    * nearest-centroid kernels; the query scan is the native
    * PqAdcLookup kernel — the m·nCents-double LUT rides as ONE
    * reference array (kilobytes even at nCents=256), never as plan
    * literals — with TakeOrderedAndProject for the top-k. No shuffle
    * anywhere except the k-means rounds.
    *
    * Determinism: centroids come from kmeans' decimal-mean arithmetic;
    * LUT entries and the ADC sum use the exact left-fold form the
    * oracle replays (A − 2.0·B + C per subspace, summed in fixed
    * subspace order, rounded at 6 dp).
    *
    * MEASURED CONTRACT (graft.Recall → RECALL.md): PQ is a SHORTLIST
    * stage, not a ranker — pure ADC top-5 reads 0.26–0.34 recall on
    * clustered corpora (quantization blurs fine ranks by design), but
    * the deployment shape — call with k = 8·(wanted k) for the ADC
    * shortlist, then rescore the k rows against the exact vectors —
    * measures 0.96 / 0.80 at n=2k / 20k — and at the literature's
    * nCents=256 (RECALL.md r9 rows, persisted-index shape) 1.00 / 1.00.
    * Uniform-random corpora floor lower (no codebook structure). */
  def annPq(emb: DataFrame, queryId: Long, dim: Int = 64, k: Int = 20,
            m: Int = 8, nCents: Int = 16, iters: Int = 2,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"annPq: m=$m must divide dim=$dim")
    val sub = dim / m
    val v = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val cents = pqTrainCodebooks(v, m, sub, nCents, iters, idCol)
    val codes = (0 until m).foldLeft(v) { (df, s) =>
      df.withColumn(s"_c$s", kmeansAssign(slice(col("v"), s * sub + 1, sub), cents(s)))
    }
    val qRows = v.filter(col(idCol) === queryId).select(col("v")).collect()
    require(qRows.nonEmpty, s"annPq: query id $queryId not found")
    val qv = qRows.head.getSeq[Double](0)
    pqAdcTopK(codes.filter(col(idCol) =!= queryId), qv, cents, sub, k,
      idCol, codePrefix = "_c")
  }

  /** Left-fold dot — the scalar twin of the DotProduct expression /
    * DuckDB's list_dot_product, so driver-computed LUT entries replay
    * exactly. */
  private def dotLeftFold(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  /** The ADC scan shared by [[annPq]] and [[annPqPersisted]]: build the
    * m×nCents lookup table ‖q_s − C_s[j]‖² on the driver (the oracle's
    * A − 2.0·B + C form, per subspace), score each coded row with the
    * native [[org.apache.spark.sql.graftext.PqAdcLookup]] kernel — the
    * LUT rides as one reference array, never as plan literals, so the
    * scan stays JIT-compiled at the literature's nCents=256 (the
    * literal element_at(array(lit…)) form was 2048 plan literals
    * there) — and return the top-k by (rounded dist, id). Summation is
    * the same subspace-order left fold as the literal form, so oracle
    * hashes are unchanged. */
  private def pqAdcTopK(codes: DataFrame, qv: Seq[Double],
                        cents: Seq[Seq[(Int, Seq[Double])]], sub: Int, k: Int,
                        idCol: String, codePrefix: String): DataFrame = {
    val m = cents.length
    // LUT indexed by centroid ID, not list position: k-means drops
    // empty clusters (realistic at nCents=256), leaving id holes — a
    // positional lookup would silently misread every code past a hole.
    // Holes get NaN; the assign kernel never emits a dropped id, so a
    // NaN in a distance is a loud wiring bug, not a silent wrong rank.
    val stride = cents.flatMap(_.map(_._1)).max + 1
    val lutFlat = Array.fill(m * stride)(Double.NaN)
    for (s <- 0 until m) {
      val qs = qv.slice(s * sub, s * sub + sub)
      cents(s).foreach { case (id, c) =>
        lutFlat(s * stride + id) =
          dotLeftFold(qs, qs) - 2.0 * dotLeftFold(qs, c) + dotLeftFold(c, c)
      }
    }
    val dist = org.apache.spark.sql.graftext.VectorExpressions.pqAdcLookup(
      array((0 until m).map(s => col(s"$codePrefix$s")): _*), lutFlat, stride)
    import org.apache.spark.sql.expressions.Window
    val top = codes
      .select(col(idCol), round(dist, 6).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol)).limit(k)
    top.withColumn("rn",
      row_number().over(Window.orderBy(col("adc_dist"), col(idCol))))
  }

  /** Materialize a PQ index: per-subspace codebooks + the m-code rows.
    * The codes table is the 64×-compressed corpus (m small ints per
    * vector); the codebook is m·nCents rows — kilobytes. Training and
    * encoding are paid ONCE here; [[annPqPersisted]] probes then cost
    * one LUT build + a codes scan each, the retrieve-and-rescore
    * deployment shape (see annPq's measured contract). */
  def savePqIndex(emb: DataFrame, dim: Int, path: String, m: Int = 8,
                  nCents: Int = 16, iters: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(m > 0 && dim % m == 0, s"savePqIndex: m=$m must divide dim=$dim")
    val sub = dim / m
    val v = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val cents = pqTrainCodebooks(v, m, sub, nCents, iters, idCol)
    val codes = (0 until m).foldLeft(v) { (df, s) =>
      df.withColumn(s"c$s", kmeansAssign(slice(col("v"), s * sub + 1, sub), cents(s)))
    }.drop("v")
    codes.write.mode("overwrite").parquet(s"$path/codes")
    val spark = emb.sparkSession
    import spark.implicits._
    cents.zipWithIndex
      .flatMap { case (cs, s) => cs.map { case (l, c) => (s, l, c) } }
      .toDF("sub", "list", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cents")
  }

  /** Probe-only PQ ANN over a [[savePqIndex]] index: load the
    * kilobyte codebook, build the query's ADC LUT on the driver, scan
    * the codes table — the full-precision vectors are never read.
    * Identical arithmetic (and result) to the in-flight [[annPq]] at
    * the same parameters; what changes is WHERE the train+encode cost
    * is paid. */
  def annPqPersisted(spark: SparkSession, path: String, queryVec: Seq[Double],
                     k: Int = 20, excludeId: Option[Long] = None,
                     idCol: String = "vec_id"): DataFrame = {
    val centRows = spark.read.parquet(s"$path/cents").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    require(centRows.nonEmpty, s"annPqPersisted: empty codebook at $path/cents")
    val m = centRows.map(_._1).max + 1
    val sub = centRows.head._3.length
    val cents: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map { s =>
      centRows.collect { case (`s`, l, c) => (l, c) }.toSeq
    }
    require(queryVec.length == m * sub,
      s"annPqPersisted: query dim ${queryVec.length} != index dim ${m * sub}")
    val codes0 = spark.read.parquet(s"$path/codes")
    val codes = excludeId.map(q => codes0.filter(col(idCol) =!= q)).getOrElse(codes0)
    pqAdcTopK(codes, queryVec, cents, sub, k, idCol, codePrefix = "c")
  }

  /** Symmetric int8 quantization of an embedding — the 4× storage cut
    * that makes a 100 TB vector corpus shippable (full-precision floats
    * stay in cold storage; ANN shortlists rescore against them).
    * scale = 127 / max|x|, q_i = floor(x_i·scale + 0.5).
    *
    * floor-plus-half stands in for round() deliberately: HALF_UP vs
    * HALF_EVEN conventions differ between engines, while abs, max,
    * divide, multiply, add and floor are all exactly-rounded IEEE ops —
    * so the quantized codes are bit-identical anywhere. A zero vector
    * gets scale 0 and all-zero codes. Narrow per-row work, no shuffle;
    * the native expression walks the vector twice in primitive
    * arithmetic (the HOF form below pays 4 interpreted lambda passes).
    * Returns struct(scale DOUBLE, q ARRAY<TINYINT>, q_sum BIGINT,
    * q_min INT, q_max INT) — the scalars are free checksum by-products
    * of the code loop. */
  def quantizeInt8(vec: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.quantizeInt8(asDouble(vec))

  /** The pure column-function form of quantizeInt8's (scale, q) fields
    * (kept as the parity oracle for the native expression). */
  def quantizeInt8Hof(vec: Column): Column = {
    val v = asDouble(vec)
    // outer coalesce: array_max of an EMPTY vector is null; the native
    // form gives scale 0 there, so the reference must too. Inner
    // coalesce: a null ELEMENT quantizes to 0 in the native form, so
    // it must contribute |0| to the max and produce code 0 here —
    // transform would otherwise emit a null code that array_max skips
    val elem = (x: Column) => coalesce(x, lit(0.0))
    val m = coalesce(array_max(transform(v, x => abs(elem(x)))), lit(0.0))
    val scale = when(m === 0.0, lit(0.0)).otherwise(lit(127.0) / m)
    struct(scale.as("scale"),
      transform(v, x => floor(elem(x) * scale + lit(0.5)).cast("tinyint")).as("q"))
  }

  /** Two-stage retrieve-and-rescore kNN over int8 codes (the SQ8
    * pattern): stage 1 ranks the WHOLE corpus by the cosine of the
    * quantized codes — on a real deployment the codes are a
    * materialized 64-byte column, so this scan reads 4× less than
    * full precision (here they're derived on the fly to keep the
    * operator self-contained) — and keeps a `shortlist` of
    * candidates via TakeOrderedAndProject; stage 2 rescores only the
    * shortlist with full-precision cosine and returns the exact-scored
    * top-k. Per-vector scale factors cancel inside cosine, so stage 1
    * needs no dequantization. Both stages are deterministic
    * (fixed-order dot products, id tiebreaks) and replay in any
    * engine. */
  def knnQuantizedRescore(emb: DataFrame, queryId: Long, k: Int = 20,
                          shortlist: Int = 100,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val enc = emb.select(col(idCol), asDouble(col(vecCol)).as("v"),
      quantizeInt8(col(vecCol)).getField("q").cast("array<double>").as("qd"))
    val q = enc.filter(col(idCol) === queryId)
      .select(col("v").as("qv"), col("qd").as("qqd"))
    val short = enc.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col("v"), col("qv"),
        cosine(col("qd"), col("qqd")).as("approx_sim"))
      .orderBy(col("approx_sim").desc, col(idCol)).limit(shortlist)
    topKRanked(
      short.select(col(idCol), cosine(col("v"), col("qv")).as("cos_sim")),
      k, idCol)
  }

  // ------------------------------------------------------ batch kNN join

  /** Batch kNN join: top-k cosine neighbors in `emb` for EVERY query
    * vector in `queries` — the many-queries form of [[knnBruteForce]]
    * (retrieval eval sets, semantic-dedup probes, hard-negative
    * mining all ask this shape, not the 1-query probe).
    *
    * Scale shape: the query table broadcasts (an eval set is thousands
    * of rows — kilobytes × dim), the corpus is scanned ONCE with every
    * query's cosine computed inside codegen, and the per-query top-k
    * runs as a TWO-STAGE window: stage 1 ranks within (qid, id mod
    * `fanout`) slices — bounding any single task's sort to n/fanout
    * rows across fanout parallel tasks — and stage 2 ranks the
    * fanout·k survivors per query (tiny). A single per-qid window
    * would put the whole corpus through one task per query — the
    * per-stratum straggler the r3 verdict flagged on packShards; the
    * two-stage shape is exact (each slice's global top-k members are
    * necessarily in that slice's local top-k) and never sorts more
    * than n/fanout rows in one place.
    *
    * `queries` must carry (`qidCol`, `qvecCol`); query ids are excluded
    * from their own neighbor lists. */
  def knnJoin(emb: DataFrame, queries: DataFrame, k: Int = 10,
              fanout: Int = 32,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    val corpus = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(qidCol), asDouble(col(qvecCol)).as("_qv"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosine(col("v"), col("_qv")).as("cos_sim"))
    topKPerQuery(scored, k, fanout, qidCol, idCol)
  }

  /** kNN majority-vote classifier over the embedding space — the
    * model-based labeling step of classifier-filtered curation
    * (FineWeb-Edu-style quality labels, topic tags): each query vector
    * gets the plurality label of its k exact-cosine nearest neighbors
    * (ties break toward the smaller label id, neighbors tie-break by
    * id inside [[knnJoin]], so the prediction is deterministic).
    * Returns (qid, pred_label, votes).
    *
    * Scale shape: the neighbor search is [[knnJoin]]'s two-stage exact
    * top-k (broadcast query side, per-slice top-k, never a global
    * sort); the label join touches k rows per query; the vote argmax
    * is a map-side-combinable max-struct aggregation — no window over
    * the corpus. */
  def knnClassify(emb: DataFrame, queries: DataFrame, k: Int = 5,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label",
                  qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    val nn = knnJoin(emb, queries, k, idCol = idCol, vecCol = vecCol,
      qidCol = qidCol, qvecCol = qvecCol)
    val votes = nn.join(emb.select(col(idCol), col(labelCol)), idCol)
      .groupBy(col(qidCol), col(labelCol))
      .agg(count(lit(1)).as("votes"))
    votes.groupBy(col(qidCol))
      .agg(max(struct(col("votes"), (-col(labelCol)).as("_nl"))).as("_w"))
      .select(col(qidCol), (-col("_w._nl")).as("pred_label"),
        col("_w.votes").as("votes"))
  }

  /** Hard-negative mining for contrastive/embedding training: per
    * query, the top-k most similar corpus vectors INSIDE a similarity
    * band `[loCos, hiCos)` — close enough to be informative negatives,
    * capped below the near-duplicate ceiling that would make them
    * false negatives (the standard dense-retrieval training recipe:
    * mined hard negatives with a near-dup guard; Karpukhin et al.
    * 2020, "Dense Passage Retrieval").
    *
    * Scale shape: identical to [[knnJoin]] — a FIXED query set
    * broadcasts, the corpus scan computes one codegen'd cosine per
    * (query, row), the band filter prunes BEFORE the two-stage
    * per-query top-k (per-slice top-k then k-row merge; no global
    * sort, no corpus shuffle). Determinism: the band compares the
    * UNROUNDED score — the same left-fold dot product doubles in both
    * engines — so the boundary admits identical rows; ranks tie-break
    * by id as everywhere in this family. */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int = 10,
                    loCos: Double = 0.2, hiCos: Double = 0.9,
                    fanout: Int = 32,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    require(loCos < hiCos, s"hardNegatives: loCos $loCos must be < hiCos $hiCos")
    val corpus = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(qidCol), asDouble(col(qvecCol)).as("_qv"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosine(col("v"), col("_qv")).as("cos_sim"))
      .filter(col("cos_sim") >= loCos && col("cos_sim") < hiCos)
    topKPerQuery(scored, k, fanout, qidCol, idCol)
  }

  /** LSH-bucketed batch kNN join — the approximate scale path of
    * [[knnJoin]]: corpus and queries are bucketed by the deterministic
    * sign-bit hyperplanes ([[lshBucket]]) and each query probes only
    * its own bucket. The broadcast join keys on the bucket id, so the
    * corpus-side scan touches every row once but computes cosines only
    * for bucket collisions (~n/2^nBits per query instead of n); at
    * rest the bucket column is a partition/bucketing key and a probe
    * is one partition's read. Same exact two-stage top-k as knnJoin. */
  def knnJoinLsh(emb: DataFrame, queries: DataFrame, dim: Int, k: Int = 10,
                 nBits: Int = 6, fanout: Int = 32,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    val corpus = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), dim, nBits))
    val q = queries.select(col(qidCol), asDouble(col(qvecCol)).as("_qv"))
      .withColumn("qbucket", lshBucket(col("_qv"), dim, nBits))
    val scored = corpus
      .join(broadcast(q), col("bucket") === col("qbucket") &&
        col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosine(col("v"), col("_qv")).as("cos_sim"))
    topKPerQuery(scored, k, fanout, qidCol, idCol)
  }

  /** Multi-band LSH batch kNN join — the OR-construction recall fix for
    * [[knnJoinLsh]]: corpus and queries land in `nBands` independent
    * band tables (the native all-bands kernel over the deterministic
    * hyperplane family — same construction as [[cosineNearDupsLsh]]),
    * a (query, corpus) pair becomes a candidate when it collides in ANY
    * band, candidates dedup on (qid, id), and only candidates get the
    * exact cosine + two-stage top-k. Single-band recall p^b decays fast
    * on weakly-clustered data (RECALL.md measured 0.03-0.07 at the
    * catalog's nBits=6 on uniform-random vectors); the OR over nBands
    * bands lifts the miss probability to (1−p^b)^nBands — the same
    * exponential decay that makes the near-dup prefilter work.
    *
    * Scale shape: the corpus scan emits nBands (band, bucket) rows per
    * vector (the standard multi-table LSH storage cost; at rest each
    * band table is partitioned by bucket), the query side stays a
    * broadcast (|Q|·nBands rows — kilobytes), and the candidate dedup
    * shuffles 3 scalars per candidate, never vectors. `bitsPerBand = 0`
    * picks the width adaptively from the corpus count
    * ([[adaptiveBitsPerBand]]) at `targetBucketSize` — 64 here, not the
    * near-dup prefilter's 8: a top-k probe WANTS ~nBands·target
    * candidates per query (a few hundred — still ~n/2^b of the corpus),
    * where the near-dup width would leave too few collisions to fill
    * k on weakly-clustered data (measured: recall@5 stalls at the
    * single-band level with target 8, doubles at 64). */
  def knnJoinLshMultiBand(emb: DataFrame, queries: DataFrame, dim: Int,
                          k: Int = 10, nBands: Int = 0, bitsPerBand: Int = 0,
                          targetBucketSize: Int = 64, fanout: Int = 32,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    val n = if (nBands > 0 && bitsPerBand > 0) 0L else emb.count()
    val bands = if (nBands > 0) nBands else adaptiveNBands(n, targetBucketSize)
    val bits =
      if (bitsPerBand > 0) bitsPerBand
      else adaptiveBitsPerBand(n, targetBucketSize)
    val planes = org.apache.spark.sql.graftext.LshBandBuckets
      .flatPlanes(dim, bands * MaxBitsPerBand)
    def withBands(df: DataFrame, vCol: String, bandCol: String, bucketCol: String) =
      df.select(df.columns.map(col) :+ posexplode(
        org.apache.spark.sql.graftext.VectorExpressions.lshBandBuckets(
          col(vCol), planes, dim, bands, bits, MaxBitsPerBand))
        .as(Seq(bandCol, bucketCol)): _*)
    val corpus = withBands(
      emb.select(col(idCol), asDouble(col(vecCol)).as("v")), "v", "band", "bucket")
    val q = withBands(
      queries.select(col(qidCol), asDouble(col(qvecCol)).as("_qv")),
      "_qv", "qband", "qbucket")
    val scored = corpus
      .join(broadcast(q), col("band") === col("qband") &&
        col("bucket") === col("qbucket") && col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosine(col("v"), col("_qv")).as("cos_sim"))
      .dropDuplicates(qidCol, idCol) // ANY-band match = ONE candidate
    topKPerQuery(scored, k, fanout, qidCol, idCol)
  }

  /** IVF batch kNN join — the index-backed form of [[knnJoin]]: k-means
    * centroids are built once ([[kmeans]]), every corpus vector gets
    * its final list (narrow, centroid literals inlined), and each query
    * probes ONLY its cosine-nearest list. At rest the list id is the
    * partition/bucket key, so a batch of probes reads the few
    * partitions their lists live in instead of the corpus; the
    * centroid table is driver-held kilobytes. Same exact two-stage
    * per-query top-k as knnJoin. */
  def knnJoinIvf(emb: DataFrame, queries: DataFrame, dim: Int, k: Int = 5,
                 nLists: Int = 4, iters: Int = 2, nprobe: Int = 1,
                 fanout: Int = 32,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    val cents = kmeans(emb, nLists, dim, iters, idCol, vecCol)
    val assigned = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("list", kmeansAssign(col("v"), cents))
    // multi-probe: each query fans out to its `nprobe` nearest lists —
    // the standard IVF recall dial (a query near a Voronoi boundary has
    // true neighbors in the runner-up list). The fan-out multiplies the
    // BROADCAST side only (queries × nprobe rows, still kilobytes); the
    // corpus side is untouched, lists are disjoint so no candidate is
    // scored twice, and probe cost grows linearly in nprobe. Measured
    // dial (graft.Recall → RECALL.md): recall@5 = 0.42 / 0.75 / 1.00
    // at nprobe = 1 / 2 / 4 of nLists = 4 at sf1.
    val q = queries.select(col(qidCol), asDouble(col(qvecCol)).as("_qv"))
      .withColumn("qlist",
        explode(nearestListsByCosine(col("_qv"), cents, nprobe)))
    val scored = assigned
      .join(broadcast(q), col("list") === col("qlist") &&
        col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosine(col("v"), col("_qv")).as("cos_sim"))
    topKPerQuery(scored, k, fanout, qidCol, idCol)
  }

  /** Build-once IVF index materialization: k-means centroids plus the
    * list-assigned corpus written as parquet PARTITIONED BY the list id
    * — the at-rest layout where "list id = partition key" is not a
    * claim but a directory structure. A probe then reads only the
    * partitions its lists live in (static partition pruning, asserted
    * by LayoutSpec) instead of re-running k-means and re-scanning the
    * corpus per query batch — the build cost is paid once per corpus
    * version, amortized over every retrieval batch that follows.
    *
    * Layout: `path/centroids` (nLists rows of (list, cv)) and
    * `path/lists/list=<j>/...` (vec_id, v). Vectors are stored as the
    * already-cast double arrays, so loaded probes are bit-identical to
    * in-flight ones. */
  def saveIndexIvf(emb: DataFrame, dim: Int, path: String,
                   nLists: Int = 4, iters: Int = 2,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    saveIndexIvfWithCentroids(emb,
      kmeans(emb, nLists, dim, iters, idCol, vecCol), path, idCol, vecCol)

  /** [[saveIndexIvf]] with a caller-supplied centroid table — the
    * building block shared by the from-scratch build and tests that pin
    * append/rebuild equivalence under identical centroids. */
  def saveIndexIvfWithCentroids(emb: DataFrame, cents: Seq[(Int, Seq[Double])],
                                path: String,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    cents.toDF("list", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("list", kmeansAssign(col("v"), cents))
      .write.mode("overwrite").partitionBy("list").parquet(s"$path/lists")
  }

  /** Incremental index append — the daily-ingest twin of the bloom
    * path, for retrieval: new vectors are assigned with the index's
    * LOADED centroids (no k-means rerun, no existing-corpus rescan) and
    * appended into the list partition directories, so the build cost of
    * a growing corpus is one narrow assignment pass over the NEW rows
    * per batch. Probes over the appended index are row-identical to an
    * index whose lists were assigned with the same centroids over the
    * union (SimilaritySpec pins this) — the standard IVF trade being
    * accepted is that centroids go stale as the corpus drifts (recall
    * decays, monitor it); re-train with [[saveIndexIvf]] when RECALL-
    * style audits say so, exactly like the bloom sketch's
    * rebuild-on-growth contract. */
  def appendToIndexIvf(spark: SparkSession, path: String, newEmb: DataFrame,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (cents, _) = loadIndexIvf(spark, path)
    newEmb.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("list", kmeansAssign(col("v"), cents))
      .write.mode("append").partitionBy("list").parquet(s"$path/lists")
  }

  /** Load a [[saveIndexIvf]] index: the driver-held centroid table
    * (kilobytes) and the list-partitioned corpus scan. */
  def loadIndexIvf(spark: SparkSession, path: String): (Seq[(Int, Seq[Double])], DataFrame) = {
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    (cents, spark.read.parquet(s"$path/lists"))
  }

  /** Probe-only batch kNN join over a persisted IVF index — the
    * retrieval shape [[knnJoinIvf]]'s per-run k-means build amortizes
    * into. The probe set's list ids are known BEFORE the scan (the
    * query batch is driver-small by the same contract that lets it
    * broadcast), so they push down as an IN filter on the partition
    * column and the scan reads only those list directories. Results are
    * row-identical to knnJoinIvf at the same parameters. */
  def knnJoinIvfPersisted(spark: SparkSession, path: String, queries: DataFrame,
                          k: Int = 5, nprobe: Int = 1, fanout: Int = 32,
                          idCol: String = "vec_id",
                          qidCol: String = "qid", qvecCol: String = "qv"): DataFrame = {
    val (cents, assigned) = loadIndexIvf(spark, path)
    val q = queries.select(col(qidCol), asDouble(col(qvecCol)).as("_qv"))
      .withColumn("qlist",
        explode(nearestListsByCosine(col("_qv"), cents, nprobe)))
    val probeLists = q.select(col("qlist")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scored = assigned
      .filter(col("list").isin(probeLists.map(Int.box): _*))
      .join(broadcast(q), col("list") === col("qlist") &&
        col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol),
        cosine(col("v"), col("_qv")).as("cos_sim"))
    topKPerQuery(scored, k, fanout, qidCol, idCol)
  }

  /** The top-`nprobe` cosine-nearest centroid ids (multi-probe IVF) via
    * the native KmeansNearestLists kernel — the probe-side twin of
    * [[kmeansAssign]], which argmins squared L2 — ordering (−cosine, list),
    * replayable in SQL as `ROW_NUMBER() ... ORDER BY cos DESC, list`
    * with `rn <= nprobe`. Asking for more probes than lists returns
    * them all. The centroid matrix ships as a reference array or a
    * broadcast, never as plan literals (see [[kmeansAssign]]). */
  def nearestListsByCosine(vec: Column, cents: Seq[(Int, Seq[Double])],
                           nprobe: Int): Column = {
    require(cents.nonEmpty, "nearestListsByCosine: no centroids")
    require(nprobe >= 1, s"nearestListsByCosine: nprobe must be >= 1, got $nprobe")
    org.apache.spark.sql.graftext.VectorExpressions
      .kmeansNearestLists(vec, centroidTransport(cents), byCosine = true, nprobe)
  }

  /** The literal-inlined column form of [[nearestListsByCosine]] (kept
    * as the parity oracle for the native kernel — not the scale path). */
  def nearestListsByCosineLiteral(vec: Column, cents: Seq[(Int, Seq[Double])],
                                  nprobe: Int): Column = {
    require(cents.nonEmpty, "nearestListsByCosineLiteral: no centroids")
    require(nprobe >= 1, s"nearestListsByCosineLiteral: nprobe must be >= 1, got $nprobe")
    val scored = cents.map { case (j, c) =>
      val ca = array(c.map(lit): _*)
      struct((lit(-1.0) * (dot(vec, ca) / (norm(vec) * norm(ca)))).as("d"),
        lit(j).as("l"))
    }
    transform(slice(array_sort(array(scored: _*)), 1, nprobe),
      s => s.getField("l"))
  }

  /** Exact distributed per-query top-k (see [[knnJoin]] scale note):
    * stage-1 partial rank within (qid, id mod fanout), stage-2 final
    * rank over the ≤ fanout·k survivors per qid. Deterministic
    * (cos desc, id asc) ordering in both stages. */
  private def topKPerQuery(scored: DataFrame, k: Int, fanout: Int,
                           qidCol: String, idCol: String): DataFrame = {
    val w1 = Window.partitionBy(col(qidCol), pmod(col(idCol), lit(fanout)))
      .orderBy(col("cos_sim").desc, col(idCol))
    val w2 = Window.partitionBy(col(qidCol))
      .orderBy(col("cos_sim").desc, col(idCol))
    scored
      .withColumn("_prn", row_number().over(w1)).filter(col("_prn") <= k)
      .withColumn("rn", row_number().over(w2)).filter(col("rn") <= k)
      .select(col(qidCol), col(idCol),
        round(col("cos_sim"), 6).as("cos_sim"), col("rn"))
  }

  /** Per-band LSH bucket ids: `nBands` buckets of `bitsPerBand` sign
    * bits each, over deterministic hyperplanes. A pair matching in ANY
    * band becomes a candidate — the multi-table construction that keeps
    * recall high (miss probability decays exponentially in nBands)
    * while each band's buckets stay selective.
    *
    * `planeStride` fixes each band's plane block at a stride
    * independent of `bitsPerBand` (band b bit i reads plane
    * b·stride+i), so raising or lowering bitsPerBand — e.g. the
    * adaptive choice below — reuses prefixes of the SAME plane family
    * instead of reshuffling every band's planes. That is what lets a
    * static SQL oracle replay an adaptively-chosen bit width. */
  def lshBandBuckets(vec: Column, dim: Int, nBands: Int, bitsPerBand: Int,
                     seed: Long = 42L, planeStride: Int = 0): Seq[Column] = {
    val stride = if (planeStride > 0) planeStride else bitsPerBand
    require(bitsPerBand <= stride, s"bitsPerBand $bitsPerBand > stride $stride")
    val planes = hyperplanes(dim, nBands * stride, seed)
    (0 until nBands).map { bnd =>
      (0 until bitsPerBand).map { i =>
        when(dot(vec, array(planes(bnd * stride + i).map(lit): _*)) > 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
  }

  /** Max plane block per band for the adaptive bit choice (the SQL
    * oracle inlines nBands·MaxBitsPerBand plane literals). 2^20 buckets
    * per band saturates at n ≈ 8M vectors per band table; beyond that
    * bucket occupancy grows, but by then per-band candidate volume is
    * still ~n·occupancy, not n². */
  val MaxBitsPerBand = 20

  /** Corpus-size-adaptive LSH band width: the smallest b in
    * [4, MaxBitsPerBand] with n ≤ target·2^b, so expected bucket
    * occupancy stays ≈`target` and candidate volume stays ≈
    * nBands·target·n — LINEAR in n. Any FIXED bucket count makes
    * banded-LSH candidates grow as n²/2^b (the sf1 scale test measured
    * exactly that: 231× cost for 10× rows at b=4); scaling the bucket
    * count with the corpus is what keeps the 100 TB plan linear. The
    * price is per-band recall p^b shrinking as n grows — the standard
    * LSH cost/recall dial; hold recall by raising nBands alongside
    * (miss prob = (1−p^b)^nBands). Pure integer comparisons, so any
    * engine that can COUNT(*) replays the same choice bit-for-bit. */
  def adaptiveBitsPerBand(n: Long, targetBucketSize: Int = 8): Int = {
    var b = 4
    while (b < MaxBitsPerBand && n > (targetBucketSize.toLong << b)) b += 1
    b
  }

  /** Band count that HOLDS multi-band OR-construction recall as the
    * corpus grows — the second half of the LSH cost/recall dial
    * [[adaptiveBitsPerBand]]'s scaladoc names. With adaptive width the
    * per-band match probability for a pair at hyperplane-agreement
    * rate q is p = q^bits, shrinking as n grows (bits ∝ log₂ n); a
    * FIXED nBands therefore decays in recall — measured at
    * [[knnJoinLshMultiBand]]'s 8-band default: 0.845 recall@5 at n=2k
    * falling to 0.395 at n=20k (RECALL.md, clustered corpora). Solving
    * (1 − p^bits)^nBands ≤ missTarget for nBands restores it:
    * nBands = ⌈ln missTarget / ln(1 − q^bits)⌉ at the design point
    * q = 0.7 (the agreement rate of pairs at the top-k boundary on
    * clustered corpora — cos ≈ 0.59 ⇒ q = 1 − θ/π ≈ 0.7).
    *
    * nBands grows ≈ (n/target)^(−log₂ q) ≈ √n at q = 0.7: candidate
    * volume nBands·target·n stays the cost driver and the corpus-side
    * band table gets nBands rows per vector, so the clamp caps cost at
    * 64 bands (≈ n = 10⁵ at target 64). PAST the clamp — any truly
    * large corpus — band-LSH cannot hold top-k recall at bounded cost;
    * use [[knnJoinIvf]] with the nprobe dial (the recommended kNN
    * path); this rule makes the small/mid-corpus tool honest rather
    * than competitive at 100 TB.
    *
    * MEASURED (r8, graft.Recall → RECALL.md): this rule picks 11
    * bands at n=2k → recall@5 0.93 (vs 0.845 fixed-8) and 47 bands at
    * n=20k → 0.98 on the clustered sf1c corpus (vs 0.395 fixed-8 —
    * the r7 decay the rule was built to fix). On UNIFORM-random
    * corpora (near-orthogonal vectors, no bucket structure to find)
    * it reaches only 0.55-0.71 — that floor is the data, not the
    * dial: IVF nprobe≥2 is the right tool there. */
  def adaptiveNBands(n: Long, targetBucketSize: Int = 64,
                     missTarget: Double = 0.15,
                     agreementRate: Double = 0.7): Int = {
    require(missTarget > 0 && missTarget < 1 && agreementRate > 0 && agreementRate < 1,
      s"adaptiveNBands: missTarget/agreementRate must be in (0,1)")
    val bits = adaptiveBitsPerBand(n, targetBucketSize)
    val p = math.pow(agreementRate, bits)
    val raw = math.ceil(math.log(missTarget) / math.log1p(-p))
    math.min(64, math.max(8, raw.toInt))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold.
    *
    * Default is the banded-LSH prefilter — the 100 TB path: vectors
    * land in nBands bucket tables (sign-bit buckets of the
    * deterministic hyperplanes), candidate pairs come from grouping
    * each (band, bucket) and streaming i<j pairs through the IdPairs
    * generator (single shuffle on the bucket key; the corpus is scanned
    * once), and only candidates are verified with the exact cosine.
    * Recall for a truly-near pair (angle θ) is
    * 1 − (1 − (1 − θ/π)^bitsPerBand)^nBands → ≈1 for near-duplicates.
    * MEASURED (graft.Recall → RECALL.md): the r7 nBands sweep on the
    * clustered sf1c corpus put the ≥0.95 knee at nBands = 16 — 0.97 at
    * cos ≥ 0.9 (the near-dup target) vs 0.86 at the old 8-band default,
    * falling steeply for borderline pairs (the designed S-curve) —
    * which is why 16 is the default; candidate volume is linear in
    * nBands. The O(n²) crossJoin survives behind `bruteForce = true`
    * for small inputs and recall audits only.
    *
    * `bitsPerBand = 0` (the default) picks the band width ADAPTIVELY
    * from the corpus count via [[adaptiveBitsPerBand]] — one cheap
    * count job, then candidate volume stays linear in n at every scale
    * (a fixed width is n²/2^b: the sf1 scale run measured 231× cost
    * for 10× rows at b=4). `maxBucketSize` is the skew guard: a bucket
    * larger than it (a degenerate corpus of near-identical vectors —
    * exact dedup's job, not ANN's) is dropped rather than allowed to
    * emit occupancy² pairs, same contract as minhash's cap.
    *
    * NOTE (default change, r3): this operator's default switched from
    * exact brute force to the approximate LSH prefilter — callers that
    * need the guaranteed-complete pair set must use
    * [[cosineNearDupsExact]] (or pass bruteForce = true). The
    * intent-explicit aliases [[cosineNearDupsLsh]] /
    * [[cosineNearDupsExact]] exist so call sites read unambiguously. */
  def cosineNearDups(emb: DataFrame, threshold: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     bruteForce: Boolean = false, dim: Int = 64,
                     nBands: Int = 16, bitsPerBand: Int = 0,
                     maxBucketSize: Int = 4096): DataFrame = {
    // norms precomputed once per vector (O(n)), not once per pair (O(n²))
    val v = emb.select(col(idCol).as("id1"), asDouble(col(vecCol)).as("v1"))
      .withColumn("nrm1", norm(col("v1")))
    val u = emb.select(col(idCol).as("id2"), asDouble(col(vecCol)).as("v2"))
      .withColumn("nrm2", norm(col("v2")))
    val pairs =
      if (bruteForce) v.crossJoin(u).filter(col("id1") < col("id2"))
      else {
        val bits =
          if (bitsPerBand > 0) bitsPerBand else adaptiveBitsPerBand(emb.count())
        // native all-bands bucket kernel, NOT the literal CASE-chain
        // column form: at these widths (8 bands × 10-20 bits × dim 64)
        // the inlined form's codegen method passes HotSpot's 8 KB JIT
        // ceiling and runs interpreted — measured 13 s of the operator's
        // 12.3 s sf1 cost in the bucket computation alone; the kernel
        // (identical arithmetic, spec-pinned) runs it in ~0.3 s
        val banded = emb
          .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
          .select(col("id"), posexplode(
            org.apache.spark.sql.graftext.VectorExpressions.lshBandBuckets(
              col("v"),
              org.apache.spark.sql.graftext.LshBandBuckets
                .flatPlanes(dim, nBands * MaxBitsPerBand),
              dim, nBands, bits, MaxBitsPerBand))
            .as(Seq("band", "bucket")))
        val cand = Banding.pairsFromIdLists(Banding.idLists(
            banded, Seq("band", "bucket"), "id", Some(maxBucketSize)))
          .dropDuplicates()
        cand.join(v, "id1").join(u, "id2")
      }
    pairs
      .withColumn("cos_sim", dot(col("v1"), col("v2")) / (col("nrm1") * col("nrm2")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Intent-explicit alias: the approximate banded-LSH near-dup path
    * (the 100 TB default of [[cosineNearDups]]). */
  def cosineNearDupsLsh(emb: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        dim: Int = 64, nBands: Int = 16, bitsPerBand: Int = 0,
                        maxBucketSize: Int = 4096): DataFrame =
    cosineNearDups(emb, threshold, idCol, vecCol, bruteForce = false,
      dim, nBands, bitsPerBand, maxBucketSize)

  /** Intent-explicit alias: the exact O(n²) pair set — complete recall,
    * quadratic cost; small inputs and recall audits only. */
  def cosineNearDupsExact(emb: DataFrame, threshold: Double,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cosineNearDups(emb, threshold, idCol, vecCol, bruteForce = true)

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public): k-means-partition the embedding space,
    * compare pairs only WITHIN a cluster, and drop every row that has a
    * lower-id clustermate at cosine ≥ `threshold`. Returns the kept
    * rows of `emb`, all original columns.
    *
    * The clustering IS the scale trick: pair generation is quadratic
    * only in cluster occupancy, so with nClusters grown ∝ n (SemDeDup
    * used 11k clusters for 100M docs) the total pair volume stays
    * n·(n/k) ≈ linear. The plan is one shuffle of each side on the
    * cluster id into a sort-merge self-join; assignment rides the
    * native KmeansNearestLists kernel (reference-array/broadcast
    * centroid transport — JIT-safe at any nLists×dim, see
    * [[kmeansAssign]]).
    *
    * Deterministic drop rule: x is dropped iff SOME clustermate y with
    * cos(x,y) ≥ threshold PRECEDES it — by id when `scoreCol` is None
    * ("an earlier near-twin exists"), or by (score DESC, id) when a
    * keep-preference column is given (keep the longest / highest
    * quality / earliest crawl of a twin set — the same contract as
    * clusterRepresentatives' score). The survivor's own survival never
    * matters, so the rule is order-free and exactly SQL-replayable —
    * not the sequential greedy scan (both appear in public pipelines).
    *
    * `maxClusterSize` is the same skew fuse as minhash's bucket cap: a
    * degenerate clustering (everything in one list) would otherwise
    * emit occupancy² pairs; clusters above the cap SKIP dedup (all
    * members kept — the conservative failure: never drop on an
    * unverified pair). Re-cluster with larger nClusters instead of
    * raising the cap. */
  def semanticDedup(emb: DataFrame, threshold: Double, dim: Int,
                    nClusters: Int = 4, iters: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxClusterSize: Int = 1 << 20,
                    scoreCol: Option[String] = None,
                    centroids: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val drops = semanticDedupDrops(emb, threshold, dim, nClusters, iters,
      idCol, vecCol, maxClusterSize, scoreCol, centroids)
    emb.join(drops, emb(idCol) === drops("_drop_id"), "left_anti")
  }

  /** The sizing rule [[semanticDedup]]'s scaladoc states, as code:
    * nClusters = ⌈n / targetOccupancy⌉, so mean cluster occupancy — and
    * with it the per-cluster quadratic pair cost — stays bounded as the
    * corpus grows (SemDeDup's own 11k clusters for 100M docs is
    * occupancy ≈ 9k). Pass `nClusters = 0` to [[semanticDedup]] /
    * [[semanticDedupLshBackstop]] to apply it from a corpus count. */
  def adaptiveNClusters(n: Long, targetOccupancy: Int = 4096): Int = {
    require(targetOccupancy > 0,
      s"adaptiveNClusters: targetOccupancy must be > 0, got $targetOccupancy")
    math.max(1L, (n + targetOccupancy - 1) / targetOccupancy).toInt
  }

  /** The within-cluster drop-id set of [[semanticDedup]] (one column
    * `_drop_id`): every id with a PRECEDING clustermate at cosine ≥
    * threshold. `nClusters = 0` sizes the clustering adaptively
    * ([[adaptiveNClusters]] on a corpus count). */
  private def semanticDedupDrops(emb: DataFrame, threshold: Double, dim: Int,
                                 nClusters: Int, iters: Int,
                                 idCol: String, vecCol: String,
                                 maxClusterSize: Int,
                                 scoreCol: Option[String],
                                 centroids: Option[Seq[(Int, Seq[Double])]]): DataFrame = {
    require(nClusters >= 0,
      s"semanticDedup: nClusters must be > 0 (or 0 = adaptive), got $nClusters")
    // a caller-supplied centroid set (a session face — kmeans is
    // deterministic, so cached == recomputed exactly) skips the
    // clustering's corpus passes AND the adaptive count
    val cents = centroids.getOrElse {
      val k = if (nClusters > 0) nClusters else adaptiveNClusters(emb.count())
      kmeans(emb, k, dim, iters, idCol, vecCol)
    }
    val base = emb.select(
      (col(idCol).as("id") +: asDouble(col(vecCol)).as("v") +:
        scoreCol.map(c => col(c).as("sc")).toSeq): _*)
    val v = base
      .withColumn("list", kmeansAssign(col("v"), cents))
      .withColumn("nrm", norm(col("v")))
    val sizes = v.groupBy(col("list")).agg(count(lit(1)).as("_csz"))
    val vc = v.join(broadcast(sizes), "list").filter(col("_csz") <= maxClusterSize)
    def side(n: Int) = {
      val cols = Seq(col("list"), col("id").as(s"_id$n"), col("v").as(s"_v$n"),
        col("nrm").as(s"_nrm$n")) ++ scoreCol.map(_ => col("sc").as(s"_sc$n"))
      vc.select(cols: _*)
    }
    // y (side 1) precedes x (side 2) ⇒ x drops: by id alone, or by
    // (score DESC, id) when a keep-preference column is given
    val precedes = scoreCol match {
      case None => col("_id1") < col("_id2")
      case Some(_) =>
        struct(-col("_sc1"), col("_id1")) < struct(-col("_sc2"), col("_id2"))
    }
    side(1).join(side(2), "list")
      .filter(col("_id1") =!= col("_id2")).filter(precedes)
      .filter(dot(col("_v1"), col("_v2")) / (col("_nrm1") * col("_nrm2")) >= threshold)
      .select(col("_id2").as("_drop_id")).distinct()
  }

  /** [[semanticDedup]] with a banded-LSH BACKSTOP for the method's
    * defining blind spot: a true near-twin pair whose members land in
    * DIFFERENT k-means clusters is never compared, so SemDeDup alone
    * resolves only 0.60–0.96 of exact-cosine twins depending on
    * nClusters (RECALL.md, r8 — measured against the operator's own
    * exact t=0.9 pair set). This variant additionally feeds the
    * [[cosineNearDupsLsh]] candidate pairs (collision in ANY of
    * `nBands` hyperplane bands — recall 0.97 at cos ≥ 0.9 with the
    * 16-band default, independent of the clustering) through the SAME
    * precedence drop rule, and drops the union. Misses now need a pair
    * to straddle clusters AND dodge all 16 bands — roughly independent
    * failure modes, so coverage multiplies: MEASURED 0.9955–1.0000
    * across all four corpora at n=2k and n=20k (RECALL.md, r8), vs the
    * r7 verdict's ≥ 0.95 target.
    *
    * Cost adds the near-dup prefilter's linear band pass (candidates ≈
    * nBands·bucketTarget·n — the same bound as `x_cosine_neardups`);
    * the plan stays join-based with no cross join and vectors never
    * ride an exchange they didn't already ride in the components. */
  def semanticDedupLshBackstop(emb: DataFrame, threshold: Double, dim: Int,
                               nClusters: Int = 0, iters: Int = 2,
                               idCol: String = "vec_id", vecCol: String = "embedding",
                               maxClusterSize: Int = 1 << 20,
                               scoreCol: Option[String] = None,
                               nBands: Int = 16, bitsPerBand: Int = 0,
                               maxBucketSize: Int = 4096,
                               centroids: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val clusterDrops = semanticDedupDrops(emb, threshold, dim, nClusters, iters,
      idCol, vecCol, maxClusterSize, scoreCol, centroids)
    // (id1, id2) verified pairs at the same threshold, id1 < id2
    val pairs = cosineNearDupsLsh(emb, threshold, idCol, vecCol, dim,
      nBands, bitsPerBand, maxBucketSize)
    val lshDrops = scoreCol match {
      case None => pairs.select(col("id2").as("_drop_id"))
      case Some(c) =>
        val scores = emb.select(col(idCol).as("_sid"), col(c).as("_s"))
        pairs
          .join(scores, col("id1") === col("_sid"))
          .select(col("id1"), col("id2"), col("_s").as("_s1"))
          .join(scores, col("id2") === col("_sid"))
          .select(col("id1"), col("id2"), col("_s1"), col("_s").as("_s2"))
          .select(when(
            struct(-col("_s1"), col("id1")) < struct(-col("_s2"), col("id2")),
            col("id2")).otherwise(col("id1")).as("_drop_id"))
    }
    val drops = clusterDrops.unionByName(lshDrops).distinct()
    emb.join(drops, emb(idCol) === drops("_drop_id"), "left_anti")
  }

  /** Semantic COVERAGE sampling: k-means the embedding space, keep (up
    * to) `perCluster` rows per cluster by a deterministic salted md5-60
    * draw. Uniform sampling preserves the corpus DENSITY — dense
    * regions dominate the sample; per-cluster sampling preserves its
    * COVERAGE — every region of embedding space is represented, which
    * is what eval-set and coreset construction want. Returns the kept
    * rows of `emb` with the assigned `list` (cluster id) appended.
    *
    * Scale shape: assignment is the broadcast-transport native kernel
    * ([[kmeansAssign]]); the per-cluster top-`perCluster` is a
    * rank-window over the cluster key — parallelism = nClusters, which
    * in a real deployment is large (nClusters grows with n to bound
    * occupancy, the same sizing rule as [[semanticDedup]]). The draw is
    * salted md5 of the id — deterministic across runs and engines, no
    * RNG state. */
  def semanticSample(emb: DataFrame, perCluster: Int, dim: Int,
                     nClusters: Int = 4, iters: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     salt: String = "ssample:",
                     centroids: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    require(perCluster > 0, s"semanticSample: perCluster must be > 0, got $perCluster")
    import org.apache.spark.sql.expressions.Window
    // caller-supplied centroids (a session face) skip the clustering's
    // corpus passes; kmeans is deterministic, so cached == recomputed
    val cents = centroids.getOrElse(kmeans(emb, nClusters, dim, iters, idCol, vecCol))
    val assigned = emb
      .select(col(idCol).as("_sid"), asDouble(col(vecCol)).as("_v"))
      .withColumn("list", kmeansAssign(col("_v"), cents))
      .withColumn("_draw", graft.dedup.Dedup.md5Hash60(
        concat(lit(salt), col("_sid").cast("string"))))
    val kept = assigned
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("list")).orderBy(col("_draw"), col("_sid"))))
      .filter(col("_rn") <= perCluster)
      .select(col("_sid"), col("list"))
    emb.join(kept, emb(idCol) === kept("_sid")).drop("_sid")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): greedy-select `k` results from the brute-force
    * cosine shortlist, each pick maximizing
    *   λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)
    * — relevance traded against redundancy, the standard diversified
    * retrieval tail for RAG/eval-set assembly (near-identical top hits
    * carry no marginal information).
    *
    * Scale shape: the DISTRIBUTED work is the shortlist — one
    * brute-force cosine pass (see [[knnBruteForce]]); the greedy then
    * runs on the collected kCand×dim shortlist vectors, a driver
    * scalar by construction (kCand ≤ 200 enforced — the bounded
    * driver-collect precedent of the k-means centroid family). The
    * O(k·kCand²) pairwise arithmetic is on ≤200 vectors, microseconds.
    *
    * Determinism: driver arithmetic mirrors the engine/oracle cosine
    * bit-for-bit — floats widen to double BEFORE multiplying, dots
    * fold left-to-right, cos = dot/(norm_a·norm_b) in that operand
    * order; λ defaults to 0.75 so BOTH λ and 1−λ are binary-exact
    * doubles in every engine (0.7/0.3 would differ in the last ulp
    * between a decimal literal and a computed 1−λ). Ties break by
    * vec_id ascending. Output cos_sim is HALF_UP-rounded to 6 dp —
    * ranking always compares unrounded doubles.
    *
    * Output: (rank 1-based, vec_id, cos_sim = relevance to query). */
  def mmrTopK(emb: DataFrame, queryId: Long, k: Int = 5, kCand: Int = 30,
              lambda: Double = 0.75, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= kCand, s"mmrTopK: need 1 <= k <= kCand, got k=$k kCand=$kCand")
    require(kCand <= 200, s"mmrTopK: kCand must be <= 200 (driver-collected shortlist), got $kCand")
    val spark = emb.sparkSession
    import spark.implicits._
    val slIds: Array[Long] = knnBruteForce(emb, queryId, kCand, idCol, vecCol)
      .select(col(idCol)).as[Long].collect() // already (cos desc, id) ordered
    val vecs: Map[Long, Array[Float]] = emb
      .filter(col(idCol).isin(queryId +: slIds.toSeq: _*))
      .select(col(idCol), col(vecCol))
      .as[(Long, Array[Float])].collect().toMap
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
    val qv = vecs(queryId)
    val rel: Map[Long, Double] = slIds.iterator.map(id => id -> cos(vecs(id), qv)).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (selected.size < k) {
      val best = slIds.iterator.filterNot(selected.contains).map { d =>
        val div = if (selected.isEmpty) 0.0
          else selected.iterator.map(sid => cos(vecs(d), vecs(sid))).max
        (d, lambda * rel(d) - (1 - lambda) * div)
      }.maxBy { case (d, score) => (score, -d) }
      selected += best._1
    }
    selected.toSeq.zipWithIndex.map { case (id, i) =>
      (i + 1, id, java.math.BigDecimal.valueOf(rel(id))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    }.toDF("rank", "vec_id", "cos_sim")
  }

  /** Embedding-space outlier mining: partition the corpus with the
    * deterministic [[kmeans]], then surface the k vectors LEAST
    * similar to their own centroid — mislabeled points, encoder
    * failures, and off-distribution content show up here before they
    * pollute a training mix (the centroid-distance screen of the
    * SemDeDup family, pointed at the opposite tail).
    *
    * Scale shape: centroids are a driver-tiny literal table
    * (broadcast); the scan computes each vector's own-centroid cosine
    * inside codegen; the bottom-k is orderBy+limit
    * (TakeOrderedAndProject — per-task heaps, no global sort), rank
    * window over the k survivors only. Ranking compares unrounded
    * doubles (ties by id); the reported similarity is 6-dp rounded. */
  def embedOutliers(emb: DataFrame, dim: Int, k: Int = 20, nLists: Int = 4,
                    iters: Int = 2, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = kmeans(emb, nLists, dim, iters, idCol, vecCol)
    val centDf = cents.map { case (l, v) => (l, v.toArray) }.toDF("list", "cv")
    val scored = emb
      .withColumn("list", kmeansAssign(asDouble(col(vecCol)), cents))
      .join(broadcast(centDf), "list")
      .select(col(idCol), col("list"),
        cosine(asDouble(col(vecCol)), col("cv").cast("array<double>")).as("c"))
    val w = Window.partitionBy(pmod(col(idCol), lit(1)))
      .orderBy(col("c"), col(idCol))
    scored.orderBy(col("c"), col(idCol)).limit(k)
      .withColumn("rn", row_number().over(w))
      .select(col(idCol), col("list"), round(col("c"), 6).as("centroid_sim"), col("rn"))
  }

  /** ANN quality as a QUERY — recall@k of the index probes against the
    * brute-force exact top-k for one query vector, COMPARATIVELY for
    * the label-IVF ([[annIvf]], single probe over as-given lists) and
    * the trained kmeans-IVF ([[annIvfKmeans]]): the eval-harness face
    * of the retrieval tier (RECALL.md measures this offline; this row
    * makes "which index do I trust on THIS distribution" an
    * oracle-checked, always-on invariant — on the synthetic table the
    * as-given labels are NOT cosine-clustered and the row shows it).
    *
    * All three sides are the existing operators, so the sets are
    * k-row tiny; the ground truth is checkpointed once (k rows) and
    * both intersections are broadcast joins; recall is one divide,
    * 6 dp. At scale the cost is the probes — the eval adds nothing. */
  def annRecall(emb: DataFrame, queryId: Long, dim: Int, k: Int = 20,
                nLists: Int = 4, iters: Int = 2): DataFrame = {
    val bf = GraftPins.cut(knnBruteForce(emb, queryId, k).select(col("vec_id")))
    def hits(probe: DataFrame, out: String): DataFrame =
      probe.select(col("vec_id")).join(broadcast(bf), Seq("vec_id"))
        .agg(count(lit(1)).as(out))
    hits(annIvf(emb, queryId, dim, k), "n_hits_ivf")
      .crossJoin(hits(annIvfKmeans(emb, queryId, dim, k, nLists, iters), "n_hits_kmeans"))
      .select(lit(k.toLong).as("k"),
        col("n_hits_ivf"),
        round(col("n_hits_ivf").cast("double") / k, 6).as("recall_ivf"),
        col("n_hits_kmeans"),
        round(col("n_hits_kmeans").cast("double") / k, 6).as("recall_kmeans"))
  }

  /** Per-group embedding drift: cosine of each group's centroid against
    * the global centroid — the embedding-space analogue of the scalar
    * KS-drift check (DataQuality.ksDrift): a shard/label whose centroid
    * veers from the corpus signals a distribution break (new crawl,
    * encoder change, poisoned slice) before any scalar stat moves.
    *
    * Determinism discipline: components are ROUND(…, 6) then cast
    * DECIMAL(18,6) at the explode, so every centroid sum is exact
    * decimal addition (the kmeans-oracle centroid idiom); the global
    * centroid re-aggregates the per-group DECIMAL sums (exact, order
    * free); only the final cosine is double arithmetic, computed by
    * the left-fold dot kernel — bit-identical to DuckDB's
    * list_dot_product.
    *
    * Scale shape: ONE exchange of (group, pos, decimal) component
    * rows, map-side combined to groups×dim; everything after is
    * groups-sized (the global centroid is a dim-row rollup of the
    * group sums, broadcast back as one array row). The raw embedding
    * table is read once and never shuffled.
    *
    * Output: one row per group — `label`, `n_vecs`,
    * `cos_to_global` (6 dp). */
  def embedDrift(emb: DataFrame, groupCol: String = "label",
                 vecCol: String = "embedding"): DataFrame = {
    val comps = emb
      .select(col(groupCol).cast("bigint").as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        round(col("x").cast("double"), 6).cast("decimal(18,6)").as("x"))
    val labSums = comps.groupBy(col("label"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
    val labArr = labSums
      .select(col("label"), col("pos"),
        (col("sx").cast("double") / col("cnt")).as("c"), col("cnt"))
      .groupBy(col("label"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("v"),
        max(col("cnt")).as("n_vecs"))
    val globArr = labSums.groupBy(col("pos"))
      .agg(sum(col("sx")).as("gs"), sum(col("cnt")).as("gn"))
      .select(col("pos"), (col("gs").cast("double") / col("gn")).as("g"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("g")))),
        s => s.getField("g")).as("gv"))
    labArr.crossJoin(broadcast(globArr))
      .select(col("label"), col("n_vecs"),
        round(cosine(col("v"), col("gv")), 6).as("cos_to_global"))
  }
}
