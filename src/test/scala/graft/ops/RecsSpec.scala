package graft.ops

import graft.SparkSpec

/** Semantics pins for item-item CF: the binary-cosine formula on exact
  * basket counts, the minCo prune, and the maxBasket skew fuse (a
  * pathological basket must vanish entirely, not distort counts).
  */
class RecsSpec extends SparkSpec {
  import spark.implicits._

  private def li(rows: (Long, Long)*) =
    rows.toDF("l_orderkey", "l_partkey")

  test("itemCf: cosine = co/sqrt(ca*cb) on exact counts; minCo prunes singleton pairs") {
    // baskets: {1,2}, {1,2}, {1,3}, {2,3} → co(1,2)=2, co(1,3)=co(2,3)=1 (pruned)
    val out = Recs.itemCf(li(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L), (4L, 2L), (4L, 3L)))
    // c(1)=c(2)=3 → cosine = 2/3; cols sorted: cosine|item|n_co|neighbor|rank
    assert(rowSet(out) == Set("0.666667|1|2|2|1", "0.666667|2|2|1|1"), rowSet(out).toString)
  }

  test("itemCf: duplicate lines collapse; the maxBasket fuse drops the whole pathological basket") {
    val megacart = (1L to 10L).map(i => (99L, i))
    val normal = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, 2L)) // dup (1,2) line
    val out = Recs.itemCf(li(normal ++ megacart: _*), maxBasket = 5)
    // megacart excluded → only items 1,2 survive with co=2, c=2 each → cosine 1.0
    assert(rowSet(out) == Set("1.0|1|2|2|1", "1.0|2|2|1|1"), rowSet(out).toString)
  }
}
