package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Queries are fully materialized via the
  * physical plan's RDD — a bare count() would let Catalyst prune the
  * projected columns and measure an empty scan for narrow queries.
  *
  * Environment: `SPARK_GRAFT_SF_DIR` (the dataset), `SPARK_GRAFT_CPUS`
  * (local slots and shuffle partitions), `SPARK_GRAFT_BENCH_FILTER`
  * (a regex over row names; unset runs the full catalog),
  * `SPARK_GRAFT_EXTRA_CONF` (`k=v;k2=v2` session confs) and
  * `SPARK_GRAFT_BENCH_OUT` (where the line is also written).
  */
object Bench {

  /** Timed runs per row; the row records the min. 263 rows share one
    * JVM, and accumulated GC / JIT / code-cache noise otherwise lands
    * on whichever row happens to run next (history/BENCH_r02.json
    * charged ~59 s of such noise to six sub-second queries). The min
    * of two runs is the steady-state cost of the plan, while failures
    * still surface on the first attempt. */
  val Runs = 2

  /** The result line. A failed row is recorded as -1: it counts in
    * `failed` and not in `value`, the total seconds of the rows that
    * ran. `face:<slot>` rows count like any other row. `cpus` is the
    * run's local slot count. */
  def resultLine(rows: Seq[(String, Double)], sfDir: String, cpus: Int): String = {
    val failed = rows.count(_._2 < 0)
    val total = rows.map(_._2).filter(_ >= 0).sum
    val qs = rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","cpus":$cpus}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Generic A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" sets runtime
    // session confs without a code change per probe — e.g.
    // spark.graft.gates.forceDistributed=true, the one switch that
    // sends every driver-twin size gate (graft.ops.DriverGate) to its
    // distributed arm.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { s =>
      s.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      }
    }

    // Warmup that exercises the codepaths the catalog actually uses —
    // parquet scan, broadcast join, hash agg, window, explode — so JIT /
    // codegen compilation of those operators isn't billed to whichever
    // query happens to run first (min-of-2 doesn't save it when both
    // runs land inside the warmup window). region/nation are a few KB.
    {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(Window.orderBy(col("r_name"))))
        .select(explode(split(col("r_name"), "")).as("ch"))
        .queryExecution.toRdd.count()
    }

    // Tier-kernel warmup on SYNTHETIC in-memory rows — no testdata
    // file is touched, nothing computed here is reused: purely the
    // JVM/codegen warm the generic block above gives the scan/join/agg
    // operators, extended to the tier kernels the shared faces use.
    // The face builds run ONCE per session (single-shot bill), so the
    // first face row otherwise absorbs the session's one-shot
    // Janino/JIT compilation of those kernels (r15, recorded in
    // history/BENCH_KMEANS_WARM_r15.json: the IDENTICAL kmeans call
    // reads 7.3 s cold / 1.7 s warm — ~75% of face:semcents was
    // session warmup, not structure).
    {
      import org.apache.spark.sql.functions._
      val warmEmb = spark.range(64).select(col("id").as("vec_id"),
        array((0 until 64).map(i =>
          pmod(col("id") * (i + 1), lit(97)).cast("double")): _*).as("embedding"))
      sim.Similarity.kmeans(warmEmb, nLists = 4, dim = 64, iters = 2)
      val warmDocs = spark.range(24).select(col("id").as("doc_id"),
        concat(lit("warm up tokens alpha beta gamma delta epsilon zeta "),
          (col("id") % 5).cast("string")).as("text"))
      dedup.Dedup.minhashNearDupsMd5(warmDocs, threshold = 0.5,
        maxBucketSize = Some(64)).queryExecution.toRdd.count()
    }

    // Optional local-iteration filter (regex) over row names.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)

    // Shared-face pre-warm, full legs only: build every cross-query
    // artifact (FaceCache faces + persisted indexes) BEFORE the timed
    // loop and bill each to its own `face:<slot>` row, so no build
    // lands on whichever query row reads the face first. A face row is
    // one-shot (a build can't re-run against its own cache), so it
    // carries single-run noise. A filtered run skips the pre-warm: its
    // rows pay their own face builds in run 1 and the min of 2 keeps
    // run 2's cached read.
    val faceTimes: Seq[(String, Double)] =
      if (filter.isDefined) Seq.empty
      else ops.ExtensionQueries.warmFaces(spark, sfDir)
        .map { case (n, t) => s"face:$n" -> t }
    // Drop every persisted/localCheckpointed RDD the previous query (or
    // run) left behind (iterative operators checkpoint rounds):
    // ContextCleaner only reclaims them after a GC notices the weak
    // refs, ASYNCHRONOUSLY — meanwhile the pinned blocks squeeze the
    // unified memory's execution half and later queries spill (observed
    // at sf1: a 6.5s aggregation measured 56s when run after the
    // checkpoint-heavy dedup queries). Each unpersist is individually
    // guarded: an already-invalidated checkpointed RDD must cost a log
    // line, not the whole bench run.
    // Durable shared faces (GraftPins — e.g. the cross-query graph
    // face cache) are SKIPPED: their localCheckpoint lineage is
    // truncated, so an unpersist would destroy them for every later
    // query, not free a cache.
    def sweepPinnedBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => org.apache.spark.sql.graftext.GraftPins.isPinned(r.id))
        .foreach { r =>
          try r.unpersist(blocking = true)
          catch { case e: Throwable =>
            System.err.println(s"[bench] unpersist of RDD ${r.id} failed: ${e.getMessage}")
          }
        }
    val queryTimes = SparkEntry.queries.toSeq
      .filter { case (name, _) => filter.forall(_.findFirstIn(name).isDefined) }
      .map { case (name, fn) =>
        def once(): Double = {
          // sweep + GC before EVERY timed run (not just the query's
          // first): run 1's leftover pinned blocks would otherwise
          // contaminate run 2 of the same query, and a major collection
          // triggered by accumulated garbage bills 1-4s to whichever
          // query runs next (observed: the same query swings
          // 0.2s ↔ 5.9s across bench runs with no plan change).
          sweepPinnedBlocks()
          System.gc()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.count() // materializes every output row
          (System.nanoTime() - t0) / 1e9
        }
        val best =
          try (1 to Runs).map(_ => once()).min
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              -1.0
          }
        name -> best
      }
    val json = resultLine(faceTimes ++ queryTimes, sfDir, cpus.toInt)
    println(json)
    // Also leave the line on disk, so a logger-prefixed stdout can't
    // lose the per-row measurements (tools/scale_report.py reads it).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    spark.stop()
  }
}
