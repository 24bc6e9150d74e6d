package graft.ops

import graft.SparkSpec

/** PageRankOp: the distributed fixed-point iteration must agree EXACTLY
  * (integer-for-integer) with an independent single-threaded replay of
  * the same arithmetic, conserve mass up to truncation, and stay
  * deterministic across runs. */
class PageRankOpSpec extends SparkSpec {
  import spark.implicits._

  /** Single-threaded reference replay of the documented fixed-point
    * algorithm (1e-12 units, DIV truncation, 0.85 damping, uniform
    * dangling redistribution). */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val U = PageRankOp.Unit12
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val teleport = (U - U * 85L / 100L) / n
    var r = nodes.map(_ -> U / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / out(s) }.sum
      }
      val dm = nodes.filterNot(out.contains).map(r).sum
      r = nodes.map(v =>
        v -> (teleport + ((contrib.getOrElse(v, 0L) + dm / n) * 85L) / 100L)).toMap
    }
    r
  }

  private val graph: Seq[(Long, Long)] = Seq(
    1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 3L, // cycle + feeder
    5L -> 6L // 6 is dangling, 5 has no in-edges
  )

  test("agrees integer-for-integer with the single-threaded replay") {
    val df = graph.toDF("src", "dst")
    for (iters <- Seq(1, 3)) {
      val got = PageRankOp.pageRank(df, "src", "dst", iters)
        .as[(Long, Long)].collect().toMap
      assert(got == reference(graph, iters), s"iters=$iters")
    }
  }

  test("mass is conserved up to DIV truncation and ranks order sensibly") {
    val got = PageRankOp.pageRank(graph.toDF("src", "dst"), "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    val total = got.values.sum
    // each of the 6 nodes can lose <1 unit per DIV per iteration
    assert(total <= PageRankOp.Unit12 && total > PageRankOp.Unit12 - 1000L, total)
    // node 3 has 3 in-edges, node 5 has none: strict order expected
    assert(got(3L) > got(5L))
  }

  test("deterministic across runs and repartitionings") {
    val df = graph.toDF("src", "dst")
    val a = PageRankOp.pageRank(df, "src", "dst", 2).as[(Long, Long)].collect().toMap
    val b = PageRankOp.pageRank(df.repartition(7), "src", "dst", 2)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  /** Single-threaded personalized replay: teleport, dangling, and the
    * initial mass flow only to seeds. */
  private def referencePpr(edges: Seq[(Long, Long)], seeds: Set[Long],
                           iters: Int): Map[Long, Long] = {
    val U = PageRankOp.Unit12
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val nS = seeds.size.toLong
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val telS = (U - U * 85L / 100L) / nS
    var r = nodes.map(v => v -> (if (seeds(v)) U / nS else 0L)).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / out(s) }.sum
      }
      val dm = nodes.filterNot(out.contains).map(r).sum
      r = nodes.map(v => v ->
        ((if (seeds(v)) telS else 0L) +
          ((contrib.getOrElse(v, 0L) + (if (seeds(v)) dm / nS else 0L)) * 85L) / 100L)).toMap
    }
    r
  }

  test("personalizedPageRank: agrees with the seeded replay; non-seed mass arrives only via links") {
    val df = graph.toDF("src", "dst")
    val seeds = Seq(1L, 4L).toDF("node")
    for (iters <- Seq(1, 3)) {
      val got = PageRankOp.personalizedPageRank(df, "src", "dst", seeds, iters)
        .as[(Long, Long)].collect().toMap
      assert(got == referencePpr(graph, Set(1L, 4L), iters), s"iters=$iters")
    }
    val got3 = PageRankOp.personalizedPageRank(df, "src", "dst", seeds, 3)
      .as[(Long, Long)].collect().toMap
    // node 5 is not a seed and has NO in-edges: it must hold zero rank
    assert(got3(5L) == 0L)
    // node 6 (dangling, non-seed) only earns what 5 passes on: also 0
    assert(got3(6L) == 0L)
    // seeds hold rank; their link targets (2, 3 via 1; 3 via 4) earn it
    assert(got3(1L) > 0L && got3(2L) > 0L && got3(3L) > 0L)
  }

  test("pageRankConverged: stops on its own, equals the fixed API at the same depth exactly") {
    val df = graph.toDF("src", "dst")
    // loose epsilon so the graph converges within the fixed API's
    // iters<=10 window — required for the exact-equality cross-check
    val (ranks, iters) = PageRankOp.pageRankConverged(df, "src", "dst",
      epsUnits = 8000000000L, maxIters = 50)
    assert(iters >= 2 && iters <= 10, s"expected early stop, ran $iters rounds")
    val got = ranks.as[(Long, Long)].collect().toMap
    // fixed point: byte-identical to pageRank() run exactly `iters` times
    val fixed = PageRankOp.pageRank(df, "src", "dst", iters)
      .as[(Long, Long)].collect().toMap
    assert(got == fixed)
    assert(got == reference(graph, iters))
  }

  test("pageRankConverged: plan depth stays flat — the returned ranks read a checkpoint leaf") {
    val df = graph.toDF("src", "dst")
    val (ranks, _) = PageRankOp.pageRankConverged(df, "src", "dst",
      epsUnits = 8000000000L, maxIters = 50)
    // every round re-roots on a localCheckpoint: the final plan must be
    // a scan of checkpointed RDD rows, not `iters` stacked joins
    val plan = ranks.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"), plan)
    assert(plan.linesIterator.size < 10,
      "converged ranks must not carry the per-round join lineage:\n" + plan)
  }

  test("pageRankConverged: fails loudly when maxIters can't reach epsilon") {
    val df = graph.toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      PageRankOp.pageRankConverged(df, "src", "dst", epsUnits = 0L, maxIters = 2)
    }
    assert(e.getMessage.contains("raise maxIters"))
  }

  test("plan: no cartesian beyond the scalar dangling cross join") {
    val p = PageRankOp.pageRank(graph.toDF("src", "dst"), "src", "dst", 2)
      .queryExecution.executedPlan.toString
    // the dangling mass is a literal observed by the previous round's
    // checkpoint, so no nested-loop join is left at all.
    assert(!p.contains("CartesianProduct"), p)
  }

  test("broadcast and shuffle round layouts agree integer-for-integer (pageRank + PPR)") {
    val df = graph.toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val basePr = PageRankOp.pageRank(df, "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    val basePpr = PageRankOp.personalizedPageRank(df, "src", "dst", seeds, 3)
      .as[(Long, Long)].collect().toMap
    // force the shuffle layout (every graph over the broadcast ceiling;
    // tiny gate off too, else this graph would retake the driver path)
    spark.conf.set(DriverGate.ForceDistributed, "true")
    try {
      val shuffled = new PageRankOp.PreparedGraph(
        PageRankOp.buildGraph(df, "src", "dst", broadcastNodes = 0L))
      assert(!shuffled.g.broadcastRounds && !shuffled.g.tiny)
      assert(PageRankOp.pageRank(shuffled, 3)
        .as[(Long, Long)].collect().toMap == basePr)
      assert(PageRankOp.personalizedPageRank(shuffled, seeds, 3)
        .as[(Long, Long)].collect().toMap == basePpr)
    } finally spark.conf.unset(DriverGate.ForceDistributed)
  }

  test("tiny driver path equals the distributed rounds integer-for-integer") {
    val df = graph.toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    // this graph is under the tiny gate: the default path is the
    // driver iteration; force the distributed engine for the reference
    val tinyPr = PageRankOp.pageRank(df, "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    val tinyPpr = PageRankOp.personalizedPageRank(df, "src", "dst", seeds, 3)
      .as[(Long, Long)].collect().toMap
    spark.conf.set(DriverGate.ForceDistributed, "true")
    try {
      assert(PageRankOp.pageRank(df, "src", "dst", 3)
        .as[(Long, Long)].collect().toMap == tinyPr)
      assert(PageRankOp.personalizedPageRank(df, "src", "dst", seeds, 3)
        .as[(Long, Long)].collect().toMap == tinyPpr)
    } finally spark.conf.unset(DriverGate.ForceDistributed)
  }

  test("PreparedGraph: prepared == direct integer-for-integer (pageRank + PPR), repeated calls included") {
    val df = graph.toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val directPr = PageRankOp.pageRank(df, "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    val directPpr = PageRankOp.personalizedPageRank(df, "src", "dst", seeds, 3)
      .as[(Long, Long)].collect().toMap
    for (forceEngine <- Seq(false, true)) {
      if (forceEngine) spark.conf.set(DriverGate.ForceDistributed, "true")
      try {
        val pg = PageRankOp.prepare(df, "src", "dst")
        // two calls each: the shared handle must serve repeat queries
        for (_ <- 1 to 2) {
          assert(PageRankOp.pageRank(pg, 3)
            .as[(Long, Long)].collect().toMap == directPr, s"engine=$forceEngine")
          assert(PageRankOp.personalizedPageRank(pg, seeds, 3)
            .as[(Long, Long)].collect().toMap == directPpr, s"engine=$forceEngine")
        }
      } finally if (forceEngine) spark.conf.unset(DriverGate.ForceDistributed)
    }
  }

  test("broadcast rounds plan ZERO data-sized exchanges; shuffle rounds exactly one") {
    val df = graph.toDF("src", "dst")
    // the spec graph is tiny — disable the driver path so the round
    // engine's plans are what the listener captures
    spark.conf.set(DriverGate.ForceDistributed, "true")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    def roundPlans(body: => Unit): Seq[String] = {
      plans.synchronized(plans.clear())
      spark.listenerManager.register(l)
      try {
        body
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(l)
      // the per-round rank materializations: the only captured plans
      // carrying both the rank column and a join (build-table
      // checkpoints carry no rank_u; scalar counts carry no join)
      plans.synchronized(
        plans.filter(p => p.contains("rank_u") && p.contains("Join")).toSeq)
    }
    try {
      val b = roundPlans(PageRankOp.pageRank(df, "src", "dst", 2))
      assert(b.nonEmpty)
      b.foreach { p =>
        // the dangling mass is observed by the previous round's
        // checkpoint: a broadcast round plans no shuffle at all
        assert(!p.contains("Exchange hashpartitioning"),
          "broadcast-path round must plan zero data-sized exchanges:\n" + p)
        assert(!p.contains("Exchange SinglePartition") && !p.contains("NestedLoopJoin"),
          "the dangling mass must not run as a per-round aggregate:\n" + p)
      }
      val s = roundPlans(PageRankOp.pageRank(new PageRankOp.PreparedGraph(
        PageRankOp.buildGraph(df, "src", "dst", broadcastNodes = 0L)), 2))
      assert(s.nonEmpty)
      s.foreach { p =>
        val n = "Exchange hashpartitioning".r.findAllIn(p).length
        assert(n == 1,
          s"shuffle-path round must ride ONE data-sized exchange (the _dst rollup), saw $n:\n" + p)
      }
    } finally spark.conf.unset(DriverGate.ForceDistributed)
  }
}
