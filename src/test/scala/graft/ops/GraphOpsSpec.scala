package graft.ops

import graft.SparkSpec

/** Semantics pins for the degree-ordered triangle counter: known
  * triangle counts on hand-built graphs, canonicalization of messy
  * edge lists, and agreement with a brute-force reference on a random
  * graph (the same independence idea as the catalog oracle, in-suite).
  */
class GraphOpsSpec extends SparkSpec {

  private def stats(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Double) = {
    import spark.implicits._
    val r = GraphOps.triangleStats(edges.toDF("src", "dst")).collect().head
    (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"), r.getAs[Long]("n_wedges"),
      r.getAs[Long]("n_triangles"), r.getAs[Double]("gcc"))
  }

  test("K4 has 4 triangles and transitivity 1") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    assert(stats(k4) == ((4L, 6L, 12L, 4L, 1.0)))
  }

  test("a path graph has wedges but zero triangles; gcc 0") {
    assert(stats(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == ((4L, 3L, 2L, 0L, 0.0)))
  }

  test("self-loops, duplicate and reversed edges canonicalize away") {
    // triangle 1-2-3 written messily: dup (1,2), reversed (3,1), loop (2,2)
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 2L))
    assert(stats(messy) == ((3L, 3L, 3L, 1L, 1.0)))
  }

  test("hub wedge counting: star K1,3 plus one closing edge") {
    // center 1 with spokes 2,3,4; edge (2,3) closes one of the 3 wedges;
    // nodes 2 and 3 each gain a wedge (deg 2): wedges = 3 + 1 + 1 = 5
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L))
    val (n, e, w, t, gcc) = stats(g)
    assert((n, e, w, t) == ((4L, 4L, 5L, 1L)))
    assert(math.abs(gcc - 0.6) < 1e-9) // 3·1/5
  }

  test("labelPropagation: hand-propagated labels on two bridged triangles") {
    import spark.implicits._
    // triangles {1,2,3} and {10,11,12}, bridge 3-10; synchronous
    // min-tie-break rounds hand-computed: after 3 rounds the left
    // triangle holds label 1, the right (incl. its bridge node) label 3
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val out = GraphOps.labelPropagation(g.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("labelPropagation: star round 1 — center takes the smallest spoke label, spokes take the center's") {
    import spark.implicits._
    val out = GraphOps.labelPropagation(
      Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("src", "dst"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(5L -> 1L, 1L -> 5L, 2L -> 5L, 3L -> 5L))
  }

  test("one shared GraphFace serves every operator with results identical to one-shot entries") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val df = g.toDF("src", "dst")
    val face = GraphOps.face(df)
    def m(d: org.apache.spark.sql.DataFrame) = rowSet(d)
    assert(m(GraphOps.labelPropagation(face, 3)) == m(GraphOps.labelPropagation(df, iters = 3)))
    assert(m(GraphOps.triangleStats(face)) == m(GraphOps.triangleStats(df)))
    assert(m(GraphOps.graphStats(face)) == m(GraphOps.graphStats(df)))
    assert(m(GraphOps.kcorePeel(face, k = 2, rounds = 3)) ==
      m(GraphOps.kcorePeel(df, k = 2, rounds = 3)))
    assert(m(GraphOps.ktrussPeel(face, k = 4, rounds = 2)) ==
      m(GraphOps.ktrussPeel(df, k = 4, rounds = 2)))
    val seeds = Seq(1L).toDF("node")
    assert(m(GraphOps.bfsHops(face, seeds, "node", 3)) ==
      m(GraphOps.bfsHops(df, seeds, rounds = 3)))
  }

  test("graphStats: P3 path is perfectly disassortative, K3 has zero degree variance") {
    import spark.implicits._
    def row(edges: Seq[(Long, Long)]) = GraphOps.graphStats(edges.toDF("src", "dst"))
      .collect().head
    val p3 = row(Seq((1L, 2L), (2L, 3L)))
    assert((p3.getLong(0), p3.getLong(1), p3.getLong(2), p3.getLong(3)) == ((3L, 2L, 1L, 2L)))
    assert(math.abs(p3.getDouble(4) - 1.333333) < 1e-9)
    assert(p3.getDouble(5) == -1.0, s"P3 assortativity: ${p3.getDouble(5)}")
    val k3 = row(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(k3.getDouble(5) == 0.0, "regular graph must report r = 0")
    assert(k3.getDouble(4) == 2.0)
  }

  test("kcorePeel: K4 with a tail — tail peels in round 1, core stabilizes; k above the core empties it") {
    import spark.implicits._
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L))
    val tr = GraphOps.kcorePeel(k4.toDF("src", "dst"), k = 3, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // round 1 drops nodes 5 (deg 2) and 6 (deg 1); the K4 core is stable after
    assert(tr == Set((1, 4L, 6L), (2, 4L, 6L), (3, 4L, 6L)), tr.toString)
    val dead = GraphOps.kcorePeel(k4.toDF("src", "dst"), k = 4, rounds = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(dead == Set((1, 0L, 0L), (2, 0L, 0L)), dead.toString)
  }

  test("ktrussPeel: K5 survives as the 4-truss; a lone triangle and a dangling edge peel in round 1; cascade observed") {
    import spark.implicits._
    // K5 {1..5} (10 edges, C(5,3)=10 triangles; every edge has support 3)
    // + disjoint triangle {10,11,12} (support 1 each)
    // + dangling edge (12,13) (support 0)
    val g = (for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)) ++
      Seq((10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L))
    val tr = GraphOps.ktrussPeel(g.toDF("src", "dst"), k = 4, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // round 1: 14 edges, 11 triangles; the triangle's 3 edges (sup 1 < 2)
    // and the dangler (sup 0) peel; rounds 2-3: the K5 is stable
    assert(tr == Set((1, 14L, 11L, 4L), (2, 10L, 10L, 0L), (3, 10L, 10L, 0L)), tr.toString)
    // k=5 (support >= 3): the K5 is exactly 5-truss-tight, still stable
    val t5 = GraphOps.ktrussPeel(g.toDF("src", "dst"), k = 5, rounds = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSet
    assert(t5 == Set((1, 14L, 4L), (2, 10L, 0L)), t5.toString)
    // k=6 (support >= 4): nothing in K5 qualifies -> cascade to empty
    val t6 = GraphOps.ktrussPeel(g.toDF("src", "dst"), k = 6, rounds = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSet
    assert(t6 == Set((1, 14L, 14L), (2, 0L, 0L)), t6.toString)
    // truss-vs-core separation: a 4-cycle with one chord {1,2,3,4}
    // (edges 12,23,34,14,13) is a 3-core-free... every node deg>=2; at
    // k=4 the chordless pair edges have support 1 -> the whole thing
    // unravels over rounds (cascade), unlike kcore at k=2 which keeps it
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
    val tc = GraphOps.ktrussPeel(c4.toDF("src", "dst"), k = 4, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSet
    // round 1: edges 24? absent; triangles {1,2,3},{1,3,4}: supports —
    // (1,3) sits in both (sup 2, survives), the four rim edges sup 1 ->
    // removed; round 2: lone edge (1,3) has sup 0 -> removed; round 3 empty
    assert(tc == Set((1, 5L, 4L), (2, 1L, 1L), (3, 0L, 0L)), tc.toString)
  }

  test("kcoreFixpoint: stops at the first stable round and equals a long-enough fixed run") {
    import spark.implicits._
    // K3 {1,2,3} with path tail 3-4-5-6 at k=2: only the path END is
    // below k initially, so peeling cascades ONE node per round —
    // rounds 1..3 strip 6, 5, 4; round 4 confirms stability
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val df = g.toDF("src", "dst")
    val (tr, rounds) = GraphOps.kcoreFixpoint(df, k = 2, maxRounds = 10)
    val fixed = GraphOps.kcorePeel(df, k = 2, rounds = 6)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = tr.collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rounds == 4, s"expected 4 rounds, got $rounds")
    assert(got == (1 to rounds).map(r => r -> fixed(r)).toMap, got.toString)
    // final row is the true 2-core: the K3 (3 nodes, 3 edges)
    assert(got(rounds) == ((3L, 3L)), got.toString)
    // maxRounds too small to stabilize fails loudly
    intercept[IllegalStateException] {
      GraphOps.kcoreFixpoint(df, k = 2, maxRounds = 2)
    }
  }

  private def hops(edges: Seq[(Long, Long)], seeds: Seq[Long], rounds: Int): Map[Long, Int] = {
    import spark.implicits._
    GraphOps.bfsHops(edges.toDF("src", "dst"), seeds.toDF("node"), rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  test("bfsHops: path graph — hops count up from the seed, truncated at rounds") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(hops(path, Seq(1L), rounds = 3) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)) // node 5 is 4 hops out: absent
  }

  test("bfsHops: multi-source takes the MINIMUM hop over all seeds") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(hops(path, Seq(1L, 5L), rounds = 2) ==
      Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
  }

  test("bfsHops: an isolated seed surfaces at hop 0; messy edges canonicalize") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 2L), (2L, 3L))
    val h = hops(messy, Seq(1L, 99L), rounds = 2)
    assert(h == Map(1L -> 0, 99L -> 0, 2L -> 1, 3L -> 2), h.toString)
  }

  test("assumeCanonical fast path: identical results on an already-canonical edge set") {
    import spark.implicits._
    // canonical by construction: distinct, src < dst, no loops
    val edges = (for {
      a <- 0L until 20L; b <- a + 1 until 20L
      if (a * 13 + b * 7) % 4 == 0
    } yield (a, b)).toDF("src", "dst")
    assert(rowSet(GraphOps.triangleStats(edges, assumeCanonical = true)) ==
      rowSet(GraphOps.triangleStats(edges)))
    assert(rowSet(GraphOps.graphStats(edges, assumeCanonical = true)) ==
      rowSet(GraphOps.graphStats(edges)))
    val seeds = Seq(0L, 4L).toDF("node")
    assert(rowSet(GraphOps.bfsHops(edges, seeds, rounds = 2, assumeCanonical = true)) ==
      rowSet(GraphOps.bfsHops(edges, seeds, rounds = 2)))
  }

  test("labelPropagation: frontier rounds equal the dense loop on hand and pseudo-random graphs") {
    import spark.implicits._
    // force the distributed engine: this test pins the dense/frontier/
    // shuffle ROUND shapes against each other, which the r15 driver
    // gate would otherwise bypass on these tiny graphs (driver ==
    // distributed is pinned separately by the driver-peel parity test)
    spark.conf.set(DriverGate.ForceDistributed, "true")
    try {
    // two bridged triangles, a star, and a 60-node pseudo-random graph;
    // every iters in 1..5 (frontier kicks in from round 2; the random
    // graph stabilizes mid-way, exercising the converged early-exit)
    val graphs = Seq(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)),
      Seq((5L, 1L), (5L, 2L), (5L, 3L)),
      (for {
        a <- 0L until 60L; b <- a + 1 until 60L
        if (a * 31 + b * 17 + a * b) % 7 == 0
      } yield (a, b)).toSeq)
    for (g <- graphs; iters <- 1 to 5) {
      val edges = g.toDF("src", "dst")
      // fraction 2.0: EVERY round after the first is a frontier round
      val frontier = rowSet(GraphOps.labelPropagation(GraphOps.face(edges), iters,
        DriverGate.BroadcastNodes, frontierFraction = 2.0))
      val dense = rowSet(GraphOps.labelPropagation(GraphOps.face(edges), iters,
        DriverGate.BroadcastNodes, frontierFraction = 0.0))
      // shuffle dense path (node table "too big to broadcast")
      val denseShuffle = rowSet(GraphOps.labelPropagation(GraphOps.face(edges), iters,
        broadcastNodes = 0L, frontierFraction = 0.0))
      val adaptive = rowSet(GraphOps.labelPropagation(edges, iters = iters))
      assert(frontier == dense, s"graph of ${g.size} edges, iters=$iters")
      assert(denseShuffle == dense,
        s"broadcast and shuffle dense rounds must agree, graph of ${g.size} edges, iters=$iters")
      assert(adaptive == dense, s"adaptive default, graph of ${g.size} edges, iters=$iters")
    }
    } finally spark.conf.unset(DriverGate.ForceDistributed)
  }

  test("driver peels == distributed peels: k-core and k-truss trajectories, hand and pseudo-random graphs") {
    import spark.implicits._
    // the r15 size-gated driver peel must reproduce the distributed
    // rounds' integer trajectories exactly — k-core (fixed rounds AND
    // fixpoint incl. the stability-witness row) and k-truss — on the
    // hand graphs the earlier tests pin and on a denser pseudo-random
    // graph with real triangle cascades
    val k4tail = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)) :+ (4L, 9L)
    val rnd = (for {
      a <- 0L until 80L; b <- a + 1 until 80L
      if (a * 31 + b * 17 + a * b) % 5 == 0
    } yield (a, b)).toSeq
    for (g <- Seq(k4tail.toSeq, rnd)) {
      val edges = g.toDF("src", "dst")
      def distributed[T](body: => T): T = {
        spark.conf.set(DriverGate.ForceDistributed, "true")
        try body
        finally spark.conf.unset(DriverGate.ForceDistributed)
      }
      for (k <- Seq(2, 3, 5); rounds <- Seq(1, 3)) {
        val drv = rowSet(GraphOps.kcorePeel(edges, k = k, rounds = rounds))
        val dst = distributed(rowSet(GraphOps.kcorePeel(edges, k = k, rounds = rounds)))
        assert(drv == dst, s"kcorePeel k=$k rounds=$rounds on ${g.size} edges")
      }
      for (k <- Seq(2, 4)) {
        val (dTraj, dRounds) = GraphOps.kcoreFixpoint(edges, k = k, maxRounds = 50)
        val drv = (rowSet(dTraj), dRounds)
        val dst = distributed {
          val (t, r) = GraphOps.kcoreFixpoint(edges, k = k, maxRounds = 50)
          (rowSet(t), r)
        }
        assert(drv == dst, s"kcoreFixpoint k=$k on ${g.size} edges")
      }
      for (k <- Seq(3, 4); rounds <- Seq(1, 3)) {
        val drv = rowSet(GraphOps.ktrussPeel(edges, k = k, rounds = rounds))
        val dst = distributed(rowSet(GraphOps.ktrussPeel(edges, k = k, rounds = rounds)))
        assert(drv == dst, s"ktrussPeel k=$k rounds=$rounds on ${g.size} edges")
      }
      // BFS: seeds include a node absent from the graph (hop 0 only)
      val seeds = Seq(1L, 999L, 40L).toDF("node")
      for (rounds <- Seq(1, 3)) {
        val drv = rowSet(GraphOps.bfsHops(edges, seeds, rounds = rounds))
        val dst = distributed(rowSet(GraphOps.bfsHops(edges, seeds, rounds = rounds)))
        assert(drv == dst, s"bfsHops rounds=$rounds on ${g.size} edges")
      }
      for (iters <- Seq(1, 3, 5)) {
        val drv = rowSet(GraphOps.labelPropagation(edges, iters = iters))
        val dst = distributed(rowSet(GraphOps.labelPropagation(edges, iters = iters)))
        assert(drv == dst, s"labelPropagation iters=$iters on ${g.size} edges")
      }
    }
  }

  test("driver-gate guards: string ids stay distributed, triangle cap falls back, NULL seeds stay inert") {
    import spark.implicits._
    def distributed[T](body: => T): T = {
      spark.conf.set(DriverGate.ForceDistributed, "true")
      try body
      finally spark.conf.unset(DriverGate.ForceDistributed)
    }
    // 1. non-integral node ids: the driver twins cast ids to long, so a
    //    string-id graph under the default edge gate must take the
    //    type-generic distributed path and keep distinct nodes distinct
    //    (string ids cast to NULL and would all collapse into node 0)
    val sEdges = Seq(("xa", "xb"), ("xb", "xc"), ("xa", "xc"), ("xc", "xd"),
      ("xd", "xe"), ("xa", "xd"), ("xb", "xd")).toDF("src", "dst")
    assert(rowSet(GraphOps.kcorePeel(sEdges, k = 2, rounds = 3)) ==
      distributed(rowSet(GraphOps.kcorePeel(sEdges, k = 2, rounds = 3))),
      "string-id kcorePeel must match the distributed trajectory")
    val (sT, sR) = GraphOps.kcoreFixpoint(sEdges, k = 3, maxRounds = 50)
    val (dT, dR) = distributed(GraphOps.kcoreFixpoint(sEdges, k = 3, maxRounds = 50))
    assert((rowSet(sT), sR) == ((rowSet(dT), dR)),
      "string-id kcoreFixpoint must match the distributed trajectory")
    assert(rowSet(GraphOps.ktrussPeel(sEdges, k = 3, rounds = 2)) ==
      distributed(rowSet(GraphOps.ktrussPeel(sEdges, k = 3, rounds = 2))),
      "string-id ktrussPeel must match the distributed trajectory")
    // 2. triangle cap: the edge gate does not bound triangle count, so
    //    a cap below the graph's triangle count must make the driver
    //    enumeration bail out (ktrussPeel then takes the distributed
    //    peel), while the uncapped twin matches that distributed peel
    val k5tail = (for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)) :+ (5L, 9L)
    val k5df = k5tail.toDF("src", "dst")
    val k5g = new GraphOps.DriverGraph(k5tail.toArray)
    assert(GraphOps.ktrussPeelDriver(k5g, k = 4, rounds = 3, maxTriangles = 2L).isEmpty,
      "a cap below the triangle count (10 in K5) must abandon the driver enumeration")
    assert(GraphOps.ktrussPeelDriver(k5g, k = 4, rounds = 3,
      maxTriangles = DriverGate.GraphTriangles).isDefined)
    val uncapped = rowSet(GraphOps.ktrussPeel(k5df, k = 4, rounds = 3))
    assert(uncapped == distributed(rowSet(GraphOps.ktrussPeel(k5df, k = 4, rounds = 3))))
    // 3. NULL seed: the distributed path keeps one inert (NULL, 0) row
    //    (NULL never equi-joins sym); the driver twin must mirror it
    //    instead of reading NULL back as node 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val nullSeeds = Seq(Option(3L), Option.empty[Long]).toDF("node")
    val drvB = rowSet(GraphOps.bfsHops(edges, nullSeeds, rounds = 2))
    val dstB = distributed(rowSet(GraphOps.bfsHops(edges, nullSeeds, rounds = 2)))
    assert(drvB == dstB, "NULL-seed BFS: driver must match distributed (inert NULL row)")
    // rowSet stringifies as hop|node with NULL literal; columns sorted
    assert(drvB.exists(_.contains("NULL")), "the NULL seed row must survive")
    assert(!drvB.contains("0|0"), "NULL must not be traversed as node 0")
  }

  test("validateCanonical conf: a violated assumeCanonical promise throws; the default stays silent") {
    import spark.implicits._
    // violates twice over: duplicate row AND a src >= dst row
    val bad = Seq((1L, 2L), (1L, 2L), (3L, 1L)).toDF("src", "dst")
    // default: silent caller contract (documented) — builds fine
    GraphOps.face(bad, assumeCanonical = true).canonical.count()
    spark.conf.set("spark.graft.graph.validateCanonical", "true")
    try {
      val ex = intercept[IllegalArgumentException] {
        GraphOps.face(bad, assumeCanonical = true).canonical.count()
      }
      assert(ex.getMessage.contains("canonical-edge"))
      // a true canonical set passes under the conf
      GraphOps.face(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
        assumeCanonical = true).canonical.count()
    } finally spark.conf.unset("spark.graft.graph.validateCanonical")
  }

  test("GraphFace.release: pinned checkpoint blocks are deregistered and unpersisted") {
    import spark.implicits._
    import org.apache.spark.sql.graftext.GraftPins
    val f = GraphOps.face(Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst"),
      assumeCanonical = true, pinned = true)
    assert(f.canonical.count() == 3L && f.deg.count() == 3L)
    val rddIds = (f.canonical.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }) ++ (f.deg.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    })
    assert(rddIds.nonEmpty && rddIds.forall(GraftPins.isPinned))
    f.release()
    assert(rddIds.forall(id => !GraftPins.isPinned(id)))
    assert(rddIds.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)))
  }

  test("matches brute-force reference on a deterministic pseudo-random graph") {
    // 40 nodes, edge (a,b) present iff a hash-ish predicate fires
    val edges = for {
      a <- 0L until 40L; b <- 0L until 40L
      if a < b && (a * 31 + b * 17 + a * b) % 5 == 0
    } yield (a, b)
    val es = edges.toSet
    val ref = (for {
      a <- 0L until 40L; b <- a + 1 until 40L; c <- b + 1 until 40L
      if es((a, b)) && es((b, c)) && es((a, c))
    } yield 1).size.toLong
    val (_, e, _, t, _) = stats(edges)
    assert(e == edges.size.toLong)
    assert(t == ref, s"engine $t vs brute-force $ref triangles")
  }
}
