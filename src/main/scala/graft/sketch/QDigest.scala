package graft.sketch

import org.apache.spark.sql.{DataFrame, functions => F}

/** Q-digest — the deterministic mergeable quantile sketch (Shrivastava
  * et al., "Medians and Beyond: New Aggregation Techniques for Sensor
  * Networks", SenSys '04): counts live on the nodes of an implicit
  * binary tree over a fixed integer universe [0, 2^bits), light nodes
  * are folded into their parents until every retained (node, sibling,
  * parent) triple carries more than n/k, and any rank query reads the
  * retained nodes in value order with error ≤ bits·n/k.
  *
  * Why THIS sketch completes the repo's mergeable trio (Datasketches
  * HLL for distinct counts, count-min for frequencies — ApproxSpec):
  * unlike GK/KLL/t-digest, a q-digest has NO randomness and its merge
  * is count addition — commutative and associative EXACTLY — so
  * per-partition partials can be combined in any order and the final
  * compression (applied once, after all counts are summed) makes the
  * result deterministic run-over-run: the same bytes every time, on
  * any partitioning of the same multiset up to the documented bound.
  *
  * Scale shape: [[QDigest.build]] is one `mapPartitions` pass (the
  * sketch-build justification — Catalyst has no per-partition
  * compressed-state operator) emitting one ≤3k-node partial per
  * partition; partials are driver-folded by pure count addition
  * (nPart·3k longs — the k-means-centroid driver-smallness precedent)
  * and compressed once with the global threshold. No shuffle at all —
  * at 100 TB this is a scan plus a tiny collect, the cheapest possible
  * quantile pass, and per-day sketches can be persisted and unioned
  * later exactly like the HLL lifecycle.
  */
object QDigest {

  /** Retained tree nodes (heap numbering: root 1, children 2i/2i+1,
    * leaf for value v at id 2^bits + v) → count. Always ≤ ~3k nodes
    * after [[Sketch.compress]]. */
  final case class Sketch(bits: Int, k: Int, n: Long, nodes: Map[Long, Long]) {

    /** Exact count addition — the commutative/associative merge law.
      * Compress afterwards to restore the size bound. */
    def merge(o: Sketch): Sketch = {
      require(o.bits == bits && o.k == k,
        s"QDigest.merge: incompatible sketches ($bits/$k vs ${o.bits}/${o.k})")
      val m = (nodes.keySet ++ o.nodes.keySet).iterator
        .map(id => id -> (nodes.getOrElse(id, 0L) + o.nodes.getOrElse(id, 0L)))
        .toMap
      Sketch(bits, k, n + o.n, m)
    }

    /** Canonical bottom-up compression with threshold floor(n/k):
      * a child pair whose (self + sibling + parent) mass is ≤ the
      * threshold folds into the parent. Deterministic: levels ascend,
      * nodes iterate in id order, and the outcome depends only on the
      * count map. */
    def compress: Sketch = {
      val t = n / k
      if (t == 0) return this
      val m = scala.collection.mutable.Map.empty[Long, Long] ++ nodes
      var level = bits // leaf level
      while (level >= 1) {
        val ids = m.keysIterator.filter(id => 63 - java.lang.Long.numberOfLeadingZeros(id) == level)
          .toArray.sorted
        ids.foreach { id =>
          if (m.contains(id)) {
            val sib = id ^ 1L
            val par = id >> 1
            val mass = m.getOrElse(id, 0L) + m.getOrElse(sib, 0L) + m.getOrElse(par, 0L)
            if (mass <= t) {
              m.update(par, mass)
              m.remove(id); m.remove(sib)
            }
          }
        }
        level -= 1
      }
      Sketch(bits, k, n, m.toMap)
    }

    /** Interval [lo, hi] a node id spans in value space. */
    private def span(id: Long): (Long, Long) = {
      val level = 63 - java.lang.Long.numberOfLeadingZeros(id)
      val width = 1L << (bits - level)
      val lo = (id - (1L << level)) * width
      (lo, lo + width - 1)
    }

    /** Value whose estimated rank reaches ceil(q·n): retained nodes
      * read in (interval upper bound, interval size) order — the
      * canonical q-digest postorder — accumulating counts; the
      * reported value is the attaining node's upper bound. Rank error
      * ≤ bits·(n/k). */
    def quantile(q: Double): Long = {
      require(q > 0.0 && q <= 1.0, s"QDigest.quantile: q must be in (0,1], got $q")
      require(nodes.nonEmpty, "QDigest.quantile: empty sketch")
      val target = math.ceil(q * n).toLong
      val ordered = nodes.toArray.map { case (id, c) =>
        val (lo, hi) = span(id); (hi, hi - lo, c)
      }.sortBy(x => (x._1, x._2))
      var cum = 0L
      ordered.foreach { case (hi, _, c) =>
        cum += c
        if (cum >= target) return hi
      }
      ordered.last._1
    }

    /** Estimated rank of v: mass of nodes whose interval ends ≤ v
      * (the matching inverse of [[quantile]]'s reading order). */
    def rankOf(v: Long): Long =
      nodes.iterator.collect { case (id, c) if span(id)._2 <= v => c }.sum

    def size: Int = nodes.size
  }

  def empty(bits: Int, k: Int): Sketch = Sketch(bits, k, 0L, Map.empty)

  /** One-row DataFrame form for the persisted lifecycle (the
    * Datasketches-HLL pattern: per-batch sketches written as data,
    * unioned corpus-wide later with NO rescan of the batches). */
  def toDf(spark: org.apache.spark.sql.SparkSession, sk: Sketch): DataFrame = {
    import spark.implicits._
    Seq((sk.bits, sk.k, sk.n,
      sk.nodes.toSeq.sortBy(_._1))).toDF("bits", "k", "n", "nodes")
  }

  /** Reads every persisted sketch row and merges them (exact count
    * addition, any order) with ONE final compression — byte-identical
    * to merging the in-memory sketches. */
  def fromDf(df: DataFrame): Sketch = {
    val rows = df.select(F.col("bits"), F.col("k"), F.col("n"), F.col("nodes")).collect()
    require(rows.nonEmpty, "QDigest.fromDf: no sketch rows")
    rows.map { r =>
      val nodes = r.getSeq[org.apache.spark.sql.Row](3)
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      Sketch(r.getInt(0), r.getInt(1), r.getLong(2), nodes)
    }.reduce(_ merge _).compress
  }

  /** One-pass distributed build over a non-negative integral column:
    * per-partition leaf maps compressed locally (each partial ≤ ~3k
    * nodes, error ≤ bits·n_p/k), partials summed on the driver in any
    * order (exact), one final compress at the global threshold. Total
    * rank error ≤ bits·n/k (the per-partition thresholds sum to at
    * most the global one — the standard q-digest merge argument). */
  def build(df: DataFrame, colName: String, bits: Int = 20, k: Int = 512): Sketch = {
    require(bits >= 1 && bits <= 32, s"QDigest.build: bits must be in [1,32], got $bits")
    require(k >= 8, s"QDigest.build: k must be >= 8, got $k")
    val lim = 1L << bits
    val partials = df.select(F.col(colName).cast("long").as("v"))
      .where(F.col("v").isNotNull)
      .rdd.mapPartitions { it =>
        val m = scala.collection.mutable.Map.empty[Long, Long]
        var n = 0L
        it.foreach { r =>
          val v = r.getLong(0)
          require(v >= 0 && v < lim,
            s"QDigest.build: value $v outside [0, 2^$bits)")
          val leaf = (1L << bits) + v
          m.update(leaf, m.getOrElse(leaf, 0L) + 1L)
          n += 1L
        }
        if (n == 0) Iterator.empty
        else Iterator.single(Sketch(bits, k, n, m.toMap).compress)
      }.collect()
    partials.foldLeft(empty(bits, k))(_ merge _).compress
  }
}
