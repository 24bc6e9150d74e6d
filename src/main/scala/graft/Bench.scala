package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Queries are fully materialized via the
  * physical plan's RDD — a bare count() would let Catalyst prune the
  * projected columns and measure an empty scan for narrow queries.
  */
object Bench {

  /** Parse a solo-ref JSON (written by tools/update_solo_ref.py) into
    * per-query times, IF its "sf" matches this run's. Whitespace-
    * tolerant: python's json.dump writes `"sf": "..."` with a space, so
    * a literal `"sf":"..."` match silently no-ops the whole
    * contamination check (r6 shipped exactly that bug — no committed
    * BENCH_*.json ever carried a `contaminated` field). The SF match is
    * by CANONICAL path: refs record the sbt-cwd-relative `testdata/sf1`
    * while callers may pass the absolute dir, and a raw string compare
    * silently skips the check for the same directory — the same
    * no-op-by-formatting class as the r6 whitespace bug. */
  def parseSoloRef(txt: String, sfDir: String): Map[String, Double] = {
    def canon(p: String): String =
      try new java.io.File(p).getCanonicalPath catch { case _: java.io.IOException => p }
    val sfOk = """"sf"\s*:\s*"([^"]+)"""".r
      .findFirstMatchIn(txt).exists(m => canon(m.group(1)) == canon(sfDir))
    if (!sfOk) Map.empty // ref is for another SF
    else """"queries"\s*:\s*\{""".r.findFirstMatchIn(txt) match {
      case None => Map.empty
      case Some(m) =>
        val body = txt.substring(m.end, txt.indexOf("}", m.end).max(m.end))
        // key charset includes ':' — `face:<slot>` rows are the shared-
        // face build metrics (warmFaces), floored like any other row
        """"([A-Za-z0-9_:]+)"\s*:\s*(-?[0-9.eE+\-]+)""".r.findAllMatchIn(body)
          .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap
    }
  }

  /** Ref files to try: an explicit SPARK_GRAFT_SOLO_REF wins; otherwise
    * every BENCH_SOLO_REF*.json in the working directory — the per-SF
    * convention (BENCH_SOLO_REF.json = sf0.1, BENCH_SOLO_REF_SF1.json =
    * sf1), so sf1 sweeps self-describe their noise too instead of
    * silently skipping the check because the lone ref was sf0.1. */
  def soloRefCandidates(explicit: Option[String]): Seq[String] =
    explicit match {
      case Some(p) => Seq(p)
      case None =>
        Option(new java.io.File(".").listFiles())
          .map(_.toSeq.map(_.getName)
            .filter(n => n.startsWith("BENCH_SOLO_REF") && n.endsWith(".json"))
            .sorted)
          .getOrElse(Seq.empty)
    }

  /** The r11/r12 bracketing-canary set, now measured IN-window: three
    * byte-stable queries spanning the catalog's plan shapes (scan+agg,
    * window, join) whose in-run time over their rolling floor measures
    * the box, not any plan. */
  val canaryNames: Seq[String] = Seq("q1_agg", "x_winsorize", "j1_twokey_join")

  /** Median canary time/floor ratio, clamped at 1.0 (floors are
    * all-time mins; a sub-floor canary must not manufacture phantom
    * regressions in other rows). 1.0 when no canary has a floor. */
  def boxCoefficient(canaryRatios: Seq[Double]): Double =
    if (canaryRatios.isEmpty) 1.0
    else {
      val s = canaryRatios.sorted
      val k = s.size
      math.max(1.0, if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2.0)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_RELIABLE_CKPT=1 routes the iterative dedup chain's
    // round checkpoints through reliable checkpoint files instead of
    // memory-pinned localCheckpoint blocks — the cluster-deployment
    // configuration, and the one that keeps the bench's measurement of
    // the chain independent of executor-memory pressure.
    val reliableCkpt = sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").contains("1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.cc.reliableCheckpoints", reliableCkpt.toString)
      // read at ContextCleaner construction — must be a builder conf;
      // lets the cleaner delete checkpoint trees of GC'd RDDs mid-run
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
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
    // reliable-ckpt runs write one file tree per CC round per query per
    // run; without cleanCheckpoints Spark never deletes out-of-scope
    // ones, and the dir itself must go on exit (belt and braces: the
    // cleaner only fires when a GC collects the RDD reference)
    val ckptDir: Option[java.nio.file.Path] =
      if (!reliableCkpt) None
      else {
        val d = java.nio.file.Files.createTempDirectory("graft-ckpt")
        spark.sparkContext.setCheckpointDir(d.toString)
        Some(d)
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
    // Janino/JIT compilation of those kernels (r15 KmeansWarmProbe:
    // the IDENTICAL kmeans call reads 7.3 s cold / 1.7 s warm — ~75%
    // of face:semcents was session warmup, not structure).
    // SPARK_GRAFT_BENCH_TIER_WARMUP=0 disables (A/B face).
    if (!sys.env.get("SPARK_GRAFT_BENCH_TIER_WARMUP").contains("0")) {
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

    // Optional local-iteration filter (regex); the driver sets no filter.
    val nameFilter: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
      case Some(p) => val re = p.r; n => re.findFirstIn(n).isDefined
      case None => _ => true
    }

    // Shared-face pre-warm: build every cross-query artifact (FaceCache
    // faces + persisted indexes) BEFORE the timed loop and bill each to
    // its own `face:<name>` metric row. Tier floors are amortized by
    // convention (min-of-N rides the face built in run 1), but in a
    // FULL leg the first tier row's run 1 pays the whole build and on
    // a 3-second face even the min self-flags at norm ~20× (r14:
    // x_sample_semantic 3.01 s vs its 0.14 floor). Pre-warm moves the
    // build off every query row and ON the books: face rows enter the
    // same totals/floors/flag pipeline as queries (they are one-shot —
    // a build can't re-run against its own cache — so their floors
    // carry the usual single-shot noise; adjudicate flags like any
    // sub-second row). Default ON for full legs, OFF when a filter is
    // set (solo probes already amortize via min-of-N and shouldn't pay
    // a 13-artifact build); SPARK_GRAFT_BENCH_WARM_FACES=1/0 overrides.
    val warmFacesOn = sys.env.get("SPARK_GRAFT_BENCH_WARM_FACES") match {
      case Some(v) => v == "1"
      case None => sys.env.get("SPARK_GRAFT_BENCH_FILTER").isEmpty
    }
    val faceTimes: Seq[(String, Double)] =
      if (!warmFacesOn) Seq.empty
      else ops.ExtensionQueries.warmFaces(spark, sfDir)
        .map { case (n, t) => s"face:$n" -> t }
    // Each query runs twice and records the min: 59 queries share one
    // JVM, and accumulated GC / JIT / code-cache noise otherwise lands
    // on whichever query happens to run next (BENCH_r02 charged ~59s of
    // such noise to six sub-second queries). The min of two runs is the
    // steady-state cost of the PLAN — the number that predicts cluster
    // behavior — while failures still surface on the first attempt.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
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
    val queryResults = SparkEntry.queries.filter(kv => nameFilter(kv._1)).map { case (name, fn) =>
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
        try (1 to runs).map(_ => once()).min
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      name -> best
    }
    // face metrics join the result set: same totals, floors, and flag
    // pipeline as catalog rows (warm-faces comment above)
    val results = faceTimes.toMap ++ queryResults
    val failed = results.count(_._2 < 0)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Self-describing noise check: this box's in-driver bench runs keep
    // recording phantom regressions (cold-I/O contamination migrating
    // between heavy queries — see BENCH_SCALE.md) that the committed
    // solo records disprove. Compare each time against the rolling solo
    // record (BENCH_SOLO_REF.json, refreshed from each round's full solo
    // run) and embed the exceedances, so one file tells the reader which
    // rows are environment, not plan.
    val soloRef: Map[String, Double] =
      soloRefCandidates(sys.env.get("SPARK_GRAFT_SOLO_REF")).iterator.map { p =>
        try parseSoloRef(
          java.nio.file.Files.readString(java.nio.file.Paths.get(p)), sfDir)
        catch { case _: Throwable => Map.empty[String, Double] }
      }.find(_.nonEmpty).getOrElse(Map.empty)
    // In-window box coefficient: the canary rows are byte-stable
    // reference queries whose floors are refreshed every round, so
    // their in-run time / floor ratio measures THE BOX, not any plan.
    // median over the canaries present in this run; clamped at 1.0
    // (floors are all-time mins — a lucky sub-floor canary must not
    // manufacture regressions elsewhere). Raw ratios stay reported;
    // the NORMALIZED ratio (raw / box_coef) is the computed
    // contamination verdict: on a degraded box raw ratios inflate
    // together while normalized ones hold, so a real plan regression
    // is the row whose normalized ratio exceeds the bar.
    val resMap = results.toMap
    val canaryRatios = canaryNames.flatMap(n =>
      for { v <- resMap.get(n); r <- soloRef.get(n) if v >= 0 && r > 0 } yield v / r)
    val boxCoef = boxCoefficient(canaryRatios)
    def round3(x: Double): BigDecimal =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val contaminated = results.toSeq.collect {
      case (n, v) if v >= 0 && soloRef.get(n).exists(r => r > 0 && v > r * 1.5 && v - r > 0.3) =>
        val r = soloRef(n)
        s""""$n":{"sec":$v,"solo_ref":$r,"ratio":${round3(v / r)},"norm":${round3(v / r / boxCoef)}}"""
    }
    // the normalized verdict list: slow even after discounting the box
    val flaggedNorm = results.toSeq.collect {
      case (n, v) if v >= 0 && soloRef.get(n).exists(r =>
          r > 0 && v / r / boxCoef > 1.5 && v - r * boxCoef > 0.3) =>
        val r = soloRef(n)
        s""""$n":{"sec":$v,"solo_ref":$r,"ratio":${round3(v / r)},"norm":${round3(v / r / boxCoef)}}"""
    }
    val contJson =
      if (soloRef.isEmpty) "" // no ref for this SF: flag nothing, say so
      else s""","box_coef":${round3(boxCoef)},"canary_n":${canaryRatios.size}""" +
        s""","contaminated":${contaminated.mkString("{", ",", "}")}""" +
        s""","flagged_norm":${flaggedNorm.mkString("{", ",", "}")}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"$contJson}"""
    println(json)
    // Belt-and-braces for the driver's stdout parse: also leave the line
    // on disk, so a logger-prefixed (or truncated) stdout can't lose the
    // per-query measurements. SPARK_GRAFT_BENCH_OUT names the file —
    // committing it per round is the durable full-catalog record the
    // driver's truncated BENCH_r0N.json tail can't provide.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    spark.stop()
    // the cleaner deletes per-RDD trees it noticed; the dir itself (and
    // any trees whose refs never got GC'd) goes here
    ckptDir.foreach { d =>
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      val walk = Files.walk(d)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    // The full JSON line above overflows the driver's fixed-size stdout
    // capture (~2000 chars) once the catalog passed ~80 queries, so every
    // BENCH_r{N}.json since r6 recorded "parsed": null with a mid-line
    // tail. Emit a COMPACT summary as the unambiguous LAST stdout line —
    // same shape (metric/value/unit/queries/failed/sf), queries limited
    // to the slowest rows that fit a ~1200-char budget at 3-dp precision,
    // with the full record's path and the omitted count self-described.
    // Printed after spark.stop() so no executor/shutdown log can trail it.
    val slowest = results.toSeq.filter(_._2 >= 0).sortBy(-_._2)
    val budget = 1200
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    slowest.foreach { case (k, v) =>
      val s = "\"" + k + "\":" + BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      if (used + s.length + 1 <= budget) { parts += s; used += s.length + 1 }
    }
    val compact =
      s"""{"metric":"total","value":${BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"unit":"sec","queries":${parts.mkString("{", ",", "}")},"queries_total":${results.size},"queries_omitted":${results.size - parts.size},"failed":$failed,"contaminated_n":${contaminated.size},"flagged_norm_n":${flaggedNorm.size},"box_coef":${round3(boxCoef)},"sf":"$sfDir","full_out":"$outPath"}"""
    println(compact)
  }
}
