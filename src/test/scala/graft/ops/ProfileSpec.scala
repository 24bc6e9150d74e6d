package graft.ops

import graft.SparkSpec

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile: counts, nulls, exact distincts, numeric min/max; strings get null bounds") {
    val df = Seq(
      (Some(1L), Some(2.5), Some("a")),
      (Some(1L), None, Some("b")),
      (Some(3L), Some(7.5), None),
      (None, Some(2.5), Some("a"))).toDF("id", "v", "s")
    val out = Profile.profile(df, numericCols = Seq("id", "v"), otherCols = Seq("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val id = out("id")
    assert((id.getLong(1), id.getLong(2), id.getLong(3), id.getDouble(4), id.getDouble(5)) ==
      ((4L, 1L, 2L, 1.0, 3.0)))
    val v = out("v")
    assert((v.getLong(1), v.getLong(2), v.getLong(3), v.getDouble(4), v.getDouble(5)) ==
      ((4L, 1L, 2L, 2.5, 7.5)))
    val s = out("s")
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) == ((4L, 1L, 2L)))
    assert(s.isNullAt(4) && s.isNullAt(5), "string columns must not claim numeric bounds")
  }

  test("chi2: zero for a perfectly independent table, n for a perfectly associated 2x2") {
    def tbl(rows: Seq[(String, String, Int)]) =
      rows.flatMap { case (a, b, c) => Seq.fill(c)((a, b)) }.toDF("a", "b")
    val indep = Profile.chi2(tbl(Seq(
      ("x", "u", 10), ("x", "v", 10), ("y", "u", 10), ("y", "v", 10))), "a", "b")
      .collect().head
    assert((indep.getLong(0), indep.getLong(1), indep.getDouble(2)) == ((4L, 1L, 0.0)))
    val assoc = Profile.chi2(tbl(Seq(
      ("x", "u", 10), ("y", "v", 10))), "a", "b").collect().head
    // perfect association on a 2x2: chi2 = n = 20; the grid reports all
    // 4 cells even though only 2 combinations were observed
    assert((assoc.getLong(0), assoc.getLong(1), assoc.getDouble(2)) == ((4L, 1L, 20.0)))
  }

  test("corrMatrix: exact ±1 on linear columns, 0 on an orthogonal design, all pairs emitted") {
    // y = 2x (corr +1), z = -x (corr -1 with both); w alternates
    // orthogonally to x over a balanced design (corr 0)
    val df = Seq(
      (1.0, 2.0, -1.0, 1.0), (2.0, 4.0, -2.0, -1.0),
      (3.0, 6.0, -3.0, -1.0), (4.0, 8.0, -4.0, 1.0))
      .toDF("x", "y", "z", "w")
    val out = Profile.corrMatrix(df, Seq("x", "y", "z", "w"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out.size == 6, "k=4 must emit k(k-1)/2 = 6 pairs")
    assert(out(("x", "y")) == 1.0 && out(("x", "z")) == -1.0 && out(("y", "z")) == -1.0)
    assert(out(("x", "w")) == 0.0 && out(("y", "w")) == 0.0 && out(("z", "w")) == 0.0)
    // n rides along on every pair row
    assert(Profile.corrMatrix(df, Seq("x", "y")).collect().head.getLong(2) == 4L)
  }

  test("histogram: exact bucket counts, closed final bucket takes the max, constant column degenerates") {
    val df = (0 until 100).map(_.toDouble).toDF("v")
    val out = Profile.histogram(df, "v", 10).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out.size == 10)
    assert(out(0) == ((0.0, 9.9, 10L)) && out(9) == ((89.1, 99.0, 10L)),
      "equi-width over 0..99 in 10 buckets is 10 rows each; max lands in the last bucket")
    val const = Profile.histogram(Seq(5.0, 5.0, 5.0).toDF("v"), "v", 4).collect()
    assert(const.length == 1 && const.head.getInt(0) == 0 && const.head.getLong(3) == 3L,
      "zero-width (constant column) must not divide by zero — single bucket 0")
  }

  test("spearmanMatrix: monotone-with-ties = 1, classic no-ties case = 0.6, sign flip = -1") {
    import spark.implicits._
    // monotone with ties (x and y tie together) and an anti-monotone z
    val df = Seq((1.0, 10.0, 4.0), (2.0, 20.0, 3.0), (2.0, 20.0, 3.0), (3.0, 30.0, 1.0))
      .toDF("x", "y", "z")
    val out = Profile.spearmanMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out(("x", "y")) == 1.0, out.toString)
    assert(out(("x", "z")) == -1.0, out.toString)
    // classic no-ties permutation: ranks y = (2,1,4,3) vs x = (1,2,3,4)
    // -> 1 - 6*4/(4*15) = 0.6
    val df2 = Seq((1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (4.0, 3.0)).toDF("a", "b")
    val r2 = Profile.spearmanMatrix(df2, Seq("a", "b")).collect()(0)
    assert(r2.getDouble(3) == 0.6, r2.toString)
  }

  test("spearmanMatrix: driver tiny path == distributed per-column bit-for-bit; NULL input falls back") {
    import spark.implicits._
    def distributed[T](body: => T): T = {
      spark.conf.set(DriverGate.ForceDistributed, "true")
      try body
      finally spark.conf.unset(DriverGate.ForceDistributed)
    }
    // tie-heavy (x, z) plus a near-unique column (y) — the catalog's
    // grid-shape mix — on a fixture large enough for real tied groups
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(500)((rnd.nextInt(8).toDouble, rnd.nextDouble() * 100,
      rnd.nextInt(3).toDouble)).toDF("x", "y", "z")
    val drv = rowSet(Profile.spearmanMatrix(df, Seq("x", "y", "z")))
    val dst = distributed(rowSet(Profile.spearmanMatrix(df, Seq("x", "y", "z"))))
    assert(drv == dst, s"driver=$drv distributed=$dst")
    // a NULL keyed value: the driver twin must fall back (distributed
    // inner rank joins drop the row) and match the distributed result
    val dfn = Seq((Option(1.0), 2.0), (Option.empty[Double], 3.0),
      (Option(2.0), 1.0), (Option(3.0), 5.0), (Option(4.0), 4.0)).toDF("a", "b")
    val drvN = rowSet(Profile.spearmanMatrix(dfn, Seq("a", "b")))
    val dstN = distributed(rowSet(Profile.spearmanMatrix(dfn, Seq("a", "b"))))
    assert(drvN == dstN, s"driver=$drvN distributed=$dstN")
  }

  test("cramersV: perfect association = 1.0, independence = 0.0") {
    import spark.implicits._
    // perfect: b determined by a (2x2 diagonal)
    val dep = (Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("y", "q"))).toDF("a", "b")
    val r1 = Profile.cramersV(dep, "a", "b").collect()(0)
    assert(r1.getLong(0) == 10L && r1.getDouble(4) == 1.0, r1.toString)
    // independence: uniform 2x2 -> chi2 = 0 -> v = 0
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")).toDF("a", "b")
    val r2 = Profile.cramersV(ind, "a", "b").collect()(0)
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(4) == 0.0, r2.toString)
  }
}
