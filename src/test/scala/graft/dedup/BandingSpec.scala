package graft.dedup

import graft.SparkSpec
import graft.mm.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared banding layer: the capped id lists and their pair
  * expansion against the bucket self-join they replaced, and the one
  * [[Banding.Index]] type's merge + compact against a rebuild for both
  * index families (text near-dup and pHash). */
class BandingSpec extends SparkSpec {
  import spark.implicits._

  /** The bucket self-join form: buckets over `cap` rows dropped by a
    * count join, then every i<j pair of ids sharing a bucket. */
  private def selfJoinPairs(rows: DataFrame, keys: Seq[String], cap: Option[Int]): DataFrame = {
    val kept = cap.fold(rows)(m => rows.join(
      rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_f"))
        .filter(col("_f") <= m).select(keys.map(col): _*), keys))
    kept.select(keys.map(col) :+ col("id").as("id1"): _*)
      .join(kept.select(keys.map(col) :+ col("id").as("id2"): _*), keys)
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("pairsFromIdLists(idLists(rows, cap)) + distinct == the capped bucket self-join") {
    val cap = 4
    val rnd = new scala.util.Random(3)
    // band 0: key 1 holds exactly cap members, key 2 cap + 1, key 3 a
    // repeated id, key 4 one member; band 1: random keys over few ids
    // so ids repeat across buckets and within them
    val fixed = Seq(
      (0, 1L, 10L), (0, 1L, 11L), (0, 1L, 12L), (0, 1L, 13L),
      (0, 2L, 20L), (0, 2L, 21L), (0, 2L, 22L), (0, 2L, 23L), (0, 2L, 24L),
      (0, 3L, 30L), (0, 3L, 30L), (0, 3L, 31L),
      (0, 4L, 40L))
    val random = Seq.fill(60)((1, rnd.nextInt(8).toLong, rnd.nextInt(15).toLong))
    val rows = (fixed ++ random).toDF("band", "key", "id")
    val keys = Seq("band", "key")
    for (c <- Seq(Some(cap), None)) {
      val got = pairSet(Banding.pairsFromIdLists(Banding.idLists(rows, keys, "id", c)).distinct())
      assert(got == pairSet(selfJoinPairs(rows, keys, c)), s"cap=$c")
    }
    val capped = pairSet(Banding.pairsFromIdLists(Banding.idLists(rows, keys, "id", Some(cap))))
    assert(capped.contains((10L, 13L)), "a bucket of exactly cap members stays")
    assert(capped.forall(p => p._1 < 20L || p._1 > 24L),
      "a bucket of cap + 1 members is dropped")
    assert(capped.contains((30L, 31L)) && !capped.contains((30L, 30L)),
      "a repeated id pairs with the others, never with itself")
  }

  /** Bands with each bucket's ids sorted, and the payload rows. */
  private def canon(ix: Banding.Index) = (
    ix.bands.select(ix.bands.columns.toSeq.map(c =>
      if (c == "ids") array_sort(col(c)).as(c) else col(c)): _*).collect().toSet,
    ix.payload.collect().toSet)

  test("Index: merge + compact(cap) == a rebuild over the union, for near-dup and pHash") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val other = "wholly distinct vocabulary about orchestras rehearsing symphonies nightly"
    // in both families the first member's buckets hold 2 members in A
    // and 1 in B (each fragment within cap 2, the combined bucket over
    // it), the second's 1 and 1 (a combined bucket within the cap)
    val docsA = Seq((1L, base), (2L, other), (5L, base)).toDF("doc_id", "text")
    val docsB = Seq((3L, base), (4L, other)).toDF("doc_id", "text")
    val rnd = new scala.util.Random(7)
    val lumas = Seq.fill(3)(Array.fill(66)(rnd.nextInt(256)))
    def grid(members: (Long, Int)*) =
      members.map { case (i, l) => (i, lumas(l)) }.toDF("media_id", "luma")
    val gridA = grid(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 2)
    val gridB = grid(4L -> 0, 5L -> 1)
    val families: Seq[(String, DataFrame => Banding.Index, DataFrame, DataFrame)] = Seq(
      ("near-dup", d => Dedup.nearDupIndex(d, maxBucketSize = Some(2)), docsA, docsB),
      ("pHash", g => Multimodal.phashIndex(g, maxBucketSize = Some(2)), gridA, gridB))
    for ((name, build, a, b) <- families) {
      val merged = build(a).merge(build(b))
      val rebuilt = build(a.unionByName(b))
      assert(canon(merged.compact(Some(2))) == canon(rebuilt), name)
      assert(canon(merged) != canon(rebuilt), s"$name: the merged index must be fragmented")
    }
  }
}
