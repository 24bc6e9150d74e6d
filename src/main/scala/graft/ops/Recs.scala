package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Neighborhood-based recommendation primitives: item-item
  * collaborative filtering over co-occurrence baskets (Sarwar et al.,
  * "Item-Based Collaborative Filtering Recommendation Algorithms",
  * WWW '01 — the binary-rating cosine variant Amazon popularized).
  */
object Recs {

  /** Item-item cosine similarity from co-purchase baskets, top-k
    * neighbors per item: with binary basket membership the cosine of
    * two item vectors collapses to co(a,b) / √(c(a)·c(b)) over exact
    * basket counts — the classic "customers who bought X also
    * bought Y" table.
    *
    * Scale shape: baskets are the blocking key — the pair generator is
    * a self-equi-join on `basketCol` (never all-pairs across items;
    * the co-occurrence-graph precedent: the codegen'd self-join beat
    * in-row HOF pair generation by 1.5× at sf1). Cost is
    * Σ basket_size², so oversized baskets (a crawler's mega-cart, a
    * catalog-spanning synthetic order) are EXCLUDED by `maxBasket` —
    * the skew fuse, same posture as dedup's `maxClusterSize`:
    * conservative (drop the pathological block) rather than quadratic.
    * The distinct membership table is checkpointed once and serves the
    * fuse, both join sides and the item counts; the per-item top-k is
    * a window over item-sized partitions with pairs already pruned to
    * `minCo`. Counts are exact longs; the one divide and sqrt are
    * correctly-rounded IEEE ops the oracle replays bit-identically.
    *
    * Output: `item`, `rank` (1..k), `neighbor`, `n_co`, `cosine`
    * (6 dp), ordered-by-construction (cosine desc, neighbor) per item.
    * Ties in cosine are broken by neighbor id, so the top-k set is a
    * deterministic total order. */
  /** `assumeDistinct = true` promises the input is ALREADY the
    * distinct (basket, item) membership table AND cheap to rescan
    * (checkpointed/cached — e.g. a shared face): the dedup exchange
    * and the membership checkpoint are both skipped. A violating
    * input double-counts co-occurrence. The caller-contract posture
    * of [[GraphOps]]'s assumeCanonical. */
  def itemCf(lineitem: DataFrame, topK: Int = 5, minCo: Long = 2,
             maxBasket: Long = 256,
             basketCol: String = "l_orderkey", itemCol: String = "l_partkey",
             assumeDistinct: Boolean = false): DataFrame = {
    require(topK > 0, s"itemCf: topK must be > 0, got $topK")
    require(minCo >= 1, s"itemCf: minCo must be >= 1, got $minCo")
    require(maxBasket >= 2, s"itemCf: maxBasket must be >= 2, got $maxBasket")
    val renamed = lineitem.select(col(basketCol).as("ok"), col(itemCol).as("item"))
    val bi0 = if (assumeDistinct) renamed else GraftPins.cut(renamed.distinct())
    // skew fuse: drop baskets whose pair cost would be quadratic-pathological
    val big = bi0.groupBy(col("ok")).agg(count(lit(1)).as("bs"))
      .where(col("bs") > maxBasket).select(col("ok"))
    val bi = GraftPins.cut(bi0.join(big, Seq("ok"), "left_anti"))
    val itemCnt = bi.groupBy(col("item")).agg(count(lit(1)).as("c"))
    val pairs = bi.as("a").join(bi.as("b"),
        col("a.ok") === col("b.ok") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("ia"), col("b.item").as("ib"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val sym = pairs.unionAll(
      pairs.select(col("ib").as("ia"), col("ia").as("ib"), col("co")))
    val scored = sym
      .join(itemCnt.select(col("item").as("ia"), col("c").as("ca")), Seq("ia"))
      .join(itemCnt.select(col("item").as("ib"), col("c").as("cb")), Seq("ib"))
      .withColumn("cosine",
        col("co").cast("double") / sqrt((col("ca") * col("cb")).cast("double")))
    val w = Window.partitionBy(col("ia")).orderBy(col("cosine").desc, col("ib"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("ia").as("item"), col("rank"), col("ib").as("neighbor"),
        col("co").as("n_co"), round(col("cosine"), 6).as("cosine"))
  }
}
