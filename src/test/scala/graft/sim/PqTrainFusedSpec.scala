package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The fused PQ codebook trainer (one seed job + one job per Lloyd
  * round across ALL m subspaces) must be BYTE-identical to the serial
  * per-subspace form it replaces — same seeds (salted-draw order),
  * same assignments (same native kernel), same decimal-mean centroid
  * arithmetic — including when Lloyd's kills empty lists between
  * rounds. The serial oracle is built here: one [[Similarity.kmeans]]
  * per subspace `slice`, salted `pq<s>:` as the fused draw is. */
class PqTrainFusedSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val m = 4
  private val sub = dim / m

  private def vec(seed: Long, d: Int = dim): Seq[Double] =
    Seq.tabulate(d) { i =>
      var z = seed * 1000003L + i * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      ((z >>> 11) * 1.1102230246251565e-16) - 0.5
    }

  private def vdf(n: Int) =
    (0L until n.toLong).map(i => (i, vec(i))).toDF("vec_id", "v")

  private def serialTrain(v: org.apache.spark.sql.DataFrame, m: Int, sub: Int,
                          nCents: Int, iters: Int): Seq[Seq[(Int, Seq[Double])]] =
    (0 until m).map { s =>
      val sliced = v.select(col("vec_id"), slice(col("v"), s * sub + 1, sub).as("v"))
      Similarity.kmeans(sliced, nCents, sub, iters, "vec_id", "v", salt = s"pq$s:")
    }

  private def both(n: Int, nCents: Int, iters: Int) = {
    val v = vdf(n)
    val serial = serialTrain(v, m, sub, nCents, iters)
    val fused = Similarity.pqTrainCodebooks(v, m, sub, nCents, iters, "vec_id")
    (serial, fused)
  }

  private def assertIdentical(serial: Seq[Seq[(Int, Seq[Double])]],
                              fused: Seq[Seq[(Int, Seq[Double])]]): Unit = {
    assert(fused.length == serial.length)
    for (s <- serial.indices) {
      assert(fused(s).map(_._1) == serial(s).map(_._1),
        s"subspace $s: list ids differ")
      for (((_, fc), (_, sc)) <- fused(s).zip(serial(s)))
        assert(fc == sc, s"subspace $s: centroid components differ")
    }
  }

  test("fused == serial, typical shape (n=200, nCents=8, iters=2)") {
    val (serial, fused) = both(200, 8, 2)
    assert(serial.forall(_.nonEmpty))
    assertIdentical(serial, fused)
  }

  test("fused == serial under empty-list death (duplicated vectors)") {
    // only 5 DISTINCT vectors among 40 rows but nCents=12 seeds: after
    // assignment (argmin ties break by list id) duplicate seeds strand
    // lists with zero members, which DIE (drop out of the centroid
    // set) — the id holes must match exactly between the two paths
    val v = (0L until 40L).map(i => (i, vec(i % 5))).toDF("vec_id", "v")
    val serial = serialTrain(v, m, sub, 12, 3)
    val fused = Similarity.pqTrainCodebooks(v, m, sub, 12, 3, "vec_id")
    assert(serial.exists(_.size < 12),
      "fixture did not exercise empty-list death; lower the distinct count")
    assertIdentical(serial, fused)
  }

  test("fused == serial at one Lloyd round and at m=1") {
    val (serial, fused) = both(60, 5, 1)
    assertIdentical(serial, fused)
    val v = vdf(60)
    val s1 = serialTrain(v, 1, dim, 4, 2)
    val f1 = Similarity.pqTrainCodebooks(v, 1, dim, 4, 2, "vec_id")
    assertIdentical(s1, f1)
  }
}
