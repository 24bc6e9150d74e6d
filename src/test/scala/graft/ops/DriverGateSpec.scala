package graft.ops

import graft.SparkSpec
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The driver-or-distributed decision point: the bounded collect's
  * boundary, the switch's zero-probe distributed answer, the shared
  * graph face's single edge collect, and the limits' arithmetic
  * bounds. */
class DriverGateSpec extends SparkSpec {

  /** Jobs launched by `body` (listener pattern of DedupSpec). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      ListenerDrain.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def forced[T](body: => T): T = {
    spark.conf.set(DriverGate.ForceDistributed, "true")
    try body
    finally spark.conf.unset(DriverGate.ForceDistributed)
  }

  test("bounded collect: exactly max rows is Some(all rows), max + 1 is None") {
    val max = 37L
    val at = DriverGate.collect("t", max, spark.range(max).toDF("id"))
    assert(at.map(_.map(_.getLong(0)).sorted.toSeq) == Some((0L until max).toSeq))
    assert(DriverGate.collect("t", max, spark.range(max + 1).toDF("id")).isEmpty)
    assert(DriverGate.collect("t", max, spark.range(0).toDF("id")).map(_.length) == Some(0))
    assert(DriverGate.admits(spark, "t", max, max))
    assert(!DriverGate.admits(spark, "t", max, max + 1))
  }

  test("forceDistributed: every gate answers distributed without probing its input") {
    val df = spark.range(10).toDF("id").filter(col("id") > 2)
    val (rows, jobs) = jobsOf(forced(DriverGate.collect("t", 1000L, df)))
    assert(rows.isEmpty && jobs == 0, s"forced bounded collect ran $jobs jobs")
    var probed = false
    val (admitted, sizeJobs) = jobsOf(forced(
      DriverGate.admits(spark, "t", 1000L, { probed = true; df.count() })))
    assert(!admitted && !probed && sizeJobs == 0,
      s"forced size gate probed=$probed, ran $sizeJobs jobs")
  }

  test("one shared GraphFace collects its canonical edges once for k-core, LPA, k-truss and BFS") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L),
      (2L, 10L), (1L, 11L))
    val df = g.toDF("src", "dst")
    val seeds = Seq(1L, 12L).toDF("node")
    val face = GraphOps.face(df)
    // the first twin builds the canonical face and pays the one collect
    val kcore = rowSet(GraphOps.kcorePeel(face, k = 2, rounds = 3))
    // every later twin reads the face's edge array: no job at all
    val ((lpa, truss), warmJobs) = jobsOf((
      rowSet(GraphOps.labelPropagation(face, 3)),
      rowSet(GraphOps.ktrussPeel(face, k = 3, rounds = 2))))
    assert(warmJobs == 0, s"LPA + k-truss on a warm face ran $warmJobs jobs")
    // BFS's only jobs are its own seed-set collect
    val (_, seedJobs) = jobsOf(
      seeds.select(col("node")).distinct().select(col("node").cast("long")).collect())
    val (bfs, bfsJobs) = jobsOf(rowSet(GraphOps.bfsHops(face, seeds, "node", 3)))
    assert(bfsJobs == seedJobs, s"BFS on a warm face ran $bfsJobs jobs, its seed collect $seedJobs")
    // the switch still reaches the warm face: the distributed peel runs
    val (forcedCore, forcedJobs) =
      jobsOf(forced(rowSet(GraphOps.kcorePeel(face, k = 2, rounds = 3))))
    assert(forcedCore == kcore && forcedJobs > 0,
      s"forced k-core on a warm face ran $forcedJobs jobs")
    // results unchanged: each one-shot entry builds and gates its own face
    assert(kcore == rowSet(GraphOps.kcorePeel(df, k = 2, rounds = 3)))
    assert(lpa == rowSet(GraphOps.labelPropagation(df, iters = 3)))
    assert(truss == rowSet(GraphOps.ktrussPeel(df, k = 3, rounds = 2)))
    assert(bfs == rowSet(GraphOps.bfsHops(df, seeds, rounds = 3)))
  }

  test("Spearman's limit keeps the driver twin's Long rank moments from overflowing") {
    // doubled ranks r ≤ 2n, so Σr² and Σr_a·r_b stay ≤ 4n³
    assert(BigInt(4) * BigInt(DriverGate.SpearmanRows).pow(3) < BigInt(Long.MaxValue))
  }
}
