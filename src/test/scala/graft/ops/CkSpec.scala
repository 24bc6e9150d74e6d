package graft.ops

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The observed checkpoint ([[GraftPins.ck]]): its metrics equal a
  * separate aggregate on degenerate inputs under every materialization
  * mode, it saves the scalar's jobs, `keepLayout` keeps the hash
  * layout, and the loop rounds built on it run the pinned number of
  * jobs per round. */
class CkSpec extends SparkSpec {

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

  private val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))

  private def metrics: Seq[Column] = Seq(count(lit(1)).as("n"), count(col("v")).as("nv"),
    sum(col("v")).as("s"), max(col("v")).as("mx"),
    coalesce(sum(col("v")), lit(0L)).as("s0"), count(when(col("v") > 1L, 1)).as("gt1"))

  private def inputs: Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq(
      "empty, 4 partitions" -> spark.range(0, 0, 1, 4)
        .select(col("id").as("k"), col("id").as("v")),
      "zero partitions (emptyRDD)" ->
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      "zero partitions (empty local relation)" ->
        Seq.empty[(Long, Option[Long])].toDF("k", "v"),
      "one row" -> Seq((1L, Option(7L))).toDF("k", "v"),
      "NULL-only column" -> Seq((1L, Option.empty[Long]), (2L, None), (3L, None)).toDF("k", "v"),
      "grouped rows" -> spark.range(0, 1000, 1, 4)
        .select((col("id") % 13).as("k"), col("id").as("v"))
        .groupBy(col("k")).agg(sum(col("v")).as("v")))
  }

  test("observed metrics equal a separate aggregate: degenerate inputs, both layouts, reliable") {
    val dir = java.nio.file.Files.createTempDirectory("ck-reliable").toString
    spark.sparkContext.setCheckpointDir(dir)
    for ((name, df) <- inputs; keepLayout <- Seq(false, true); reliable <- Seq(false, true)) {
      val expected = df.agg(metrics.head, metrics.tail: _*).collect()(0)
      val (c, observed) = GraftPins.ck(df, keepLayout, reliable)(metrics: _*)
      val where = s"$name keepLayout=$keepLayout reliable=$reliable"
      assert(observed == expected, where)
      assert(observed.schema.fieldNames.toSeq == Seq("n", "nv", "s", "mx", "s0", "gt1"), where)
      assert(rowSet(c) == rowSet(df), where)
    }
    // no metrics asked: no observation, an empty row
    val (c, none) = GraftPins.ck(spark.range(3).toDF("k"))()
    assert(none == Row.empty && c.count() == 3L)
  }

  test("a failed checkpoint job throws instead of waiting on its observation") {
    val bad = spark.range(0, 4, 1, 2).select(
      raise_error(lit("boom")).cast("long").as("v"))
    val e = intercept[Exception](GraftPins.ck(bad)(count(lit(1)).as("n")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")))
  }

  test("observed checkpoint runs fewer jobs than checkpoint + count() under AQE") {
    val round = spark.range(0, 50000, 1, 4)
      .select((col("id") % 97).as("k"), col("id").as("v"))
      .groupBy(col("k")).agg(sum(col("v")).as("v"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val (n1, separate) = jobsOf(round.localCheckpoint().count())
    val ((_, m), observed) = jobsOf(GraftPins.ck(round)(count(lit(1)).as("n")))
    assert(m.getLong(0) == n1 && n1 == 97L)
    // AQE: the map stage and the checkpoint write are two jobs; the
    // count() on the checkpoint adds its own map stage and result job
    assert(separate == 4 && observed == 2,
      s"checkpoint + count() ran $separate jobs, the observed checkpoint $observed")
    // AQE off (keepLayout): one job, the scalar included
    val ((_, m2), off) = jobsOf(GraftPins.ck(round, keepLayout = true)(count(lit(1)).as("n")))
    assert(m2.getLong(0) == 97L && off == 1, s"keepLayout observed checkpoint ran $off jobs")
  }

  test("keepLayout keeps the hash partitioning the checkpoint was written with") {
    val df = spark.range(0, 1000, 1, 4).select((col("id") % 10).as("k"), col("id").as("v"))
      .repartition(col("k"))
    val (kept, m) = GraftPins.ck(df, keepLayout = true)(count(lit(1)).as("n"))
    assert(m.getLong(0) == 1000L)
    kept.queryExecution.sparkPlan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == 4 && h.expressions.map(_.sql).mkString.contains("k"), h)
      case p => fail(s"keepLayout checkpoint lost its layout: $p")
    }
    // the AQE default records no layout: the reason keepLayout exists
    val (plain, _) = GraftPins.ck(df)(count(lit(1)).as("n"))
    assert(plain.queryExecution.sparkPlan.outputPartitioning.isInstanceOf[UnknownPartitioning])
  }

  test("loop rounds run one observed checkpoint: jobs per round of k-core, LPA, k-truss, pageRankConverged and dedupClusters") {
    import spark.implicits._
    // 60 nodes, pseudo-random: no loop below converges within 3 rounds
    val g = (for {
      a <- 0L until 60L; b <- a + 1 until 60L
      if (a * 31 + b * 17 + a * b) % 7 == 0
    } yield (a, b)).toSeq.toDF("src", "dst")
    /** Jobs of round r + 1 alone: a fresh face for r + 1 rounds minus
      * one for r rounds (the face builds cancel). */
    def perRound(r: Int)(run: Int => Any): Int = {
      val (_, a) = jobsOf(run(r))
      val (_, b) = jobsOf(run(r + 1))
      b - a
    }
    val measured = forced {
      Map(
        // k-core: the round's one AQE-off checkpoint observes its stats
        "kcore" -> perRound(2)(r => GraphOps.kcorePeel(GraphOps.face(g), 2, r)),
        // k-truss (AQE-on rounds below RoundCkAqeOffMinRows): the
        // support checkpoint observes Σsup and the survivor count
        "ktruss" -> perRound(2)(r => GraphOps.ktrussPeel(GraphOps.face(g), 4, r)),
        // LPA dense rounds: the label broadcast + one checkpoint that
        // observes the changed count (frontier rounds are data-dependent)
        "lpa" -> perRound(2)(r => GraphOps.labelPropagation(GraphOps.face(g), r,
          DriverGate.BroadcastNodes, frontierFraction = 0.0001)),
        // pageRankConverged: the contribution broadcast + one
        // checkpoint that carries |rank − prev| and observes its sum
        // and the dangling mass the next round spreads
        "pageRankConverged" -> perRound(2)(r => intercept[IllegalStateException](
          PageRankOp.pageRankConverged(g, "src", "dst", epsUnits = 0L, maxIters = r))))
    }
    // dedupClusters (not gated; AQE-on rounds): one job per shuffle
    // stage of the round's checkpoint write, none for the changed-label
    // count it observes
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = perRound(2)(r => intercept[IllegalStateException](
      Dedup.dedupClusters(chain, maxIter = r)))
    assert(measured + ("dedupClusters" -> cc) == Map("kcore" -> 1, "ktruss" -> 9, "lpa" -> 2,
      "pageRankConverged" -> 2, "dedupClusters" -> 7))
  }

  test("phashNearDups: the id-list candidates run no more jobs than the band self-join did") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val base = (0L until 40L).map(i => (i, Array.fill(66)(rnd.nextInt(256))))
    val dups = base.collect { case (i, lu) if i % 4 == 0 =>
      val v = lu.clone(); v(rnd.nextInt(66)) = rnd.nextInt(256); (i + 1000L, v)
    }
    // six copies of the first grid: its buckets pass the cap below
    val same = (2000L until 2006L).map(i => (i, base.head._2))
    val grid = (base ++ dups ++ same).toDF("media_id", "luma")
    val (pairs, jobs) = jobsOf(graft.mm.Multimodal.phashNearDups(grid, threshold = 3,
      maxBucketSize = Some(6)).collect())
    assert(pairs.nonEmpty)
    // 6: the count measured for the self-join form this replaced
    assert(jobs <= 6, s"phashNearDups ran $jobs jobs")
  }

  test("videoPhashNearDupsAnyFrame: the id-list candidates run no more jobs than the frame self-join did") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 30 videos of 3 frames; every third has a copy with its middle
    // frame nudged, and five clones of video 0 fill its buckets past
    // the cap below
    val base = for (m <- 0L until 30L; f <- 0 until 3)
      yield (m, f, Array.fill(66)(rnd.nextInt(256)))
    val dups = base.collect { case (m, f, lu) if m % 3 == 0 =>
      val v = lu.clone(); if (f == 1) v(rnd.nextInt(66)) = rnd.nextInt(256); (m + 1000L, f, v)
    }
    val same = for (m <- 2000L until 2005L; (_, f, lu) <- base.take(3)) yield (m, f, lu)
    val frames = (base ++ dups ++ same).toDF("media_id", "frame_no", "luma")
    val (pairs, jobs) = jobsOf(graft.mm.Multimodal.videoPhashNearDupsAnyFrame(frames,
      threshold = 3, maxBucketSize = Some(6)).collect())
    // the pairs the self-join form returned: every copy but video 0's,
    // whose seven-member buckets the cap drops
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      (3L until 30L by 3L).map(m => (m, m + 1000L, 0)).toSet)
    // 7: the count measured for the self-join form this replaced
    assert(jobs <= 7, s"videoPhashNearDupsAnyFrame ran $jobs jobs")
  }
}
