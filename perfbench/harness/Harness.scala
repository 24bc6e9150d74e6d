package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftext.GraftPins
import org.apache.spark.sql.types.StructType

import graft.{Q, SparkEntry}
import graft.etl.{Enrichment, Pipeline, Schemas, Selectors, SessionFactory, Sinks, Sources,
  TransformTypes, Transforms}
import graft.ops.ExtensionQueries

/** One benchmark run of one workload in one JVM.
  *
  * Drives the engine only through its public entry points and writes
  * every measurement as JSON lines to `<out>/records.jsonl` when the run
  * ends; `perfbench/run.py` turns them into metrics and checks outputs.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *                <cores> <setups> <seed>
  */
object Harness {

  /** Site ids per family, as in the reference job's config. */
  val types: TransformTypes = TransformTypes(
    default = Seq("154992"), type1 = Seq("-48"), type2 = Seq("155138"), type3 = Seq("4550"))

  /** Face-reading catalog rows for `catalog_faces`: every face slot of
    * `ExtensionQueries.warmFaces` (named beside its first reader) is read
    * at least once, 26 rows in all. */
  val faceReaders: Seq[String] = Seq(
    "x_item_cf", "x_assoc_rules",                              // membership
    "x_kcore", "x_graph_stats", "x_bfs_hops", "x_label_prop",  // graphface
    "x_triangles",
    "x_ktruss",                                                // graphface_r
    "x_pagerank", "x_ppr",                                     // purchasegraph
    "x_knn_cosine", "x_ann_ivf_kmeans",                        // embeddings
    "x_sample_semantic", "x_dedup_semantic",                   // semcents
    "x_dedup_minhash",                                         // ndpairs
    "x_dedup_clusters", "x_cluster_reps", "x_dedup_apply",     // ndclusters
    "x_dedup_incremental_neardup",                             // ndcorpusindex
    "x_dedup_incremental_neardup_persisted",                   // ndindex_saved
    "x_mm_video_phash_multi",
    "x_dedup_index_merged",                                    // ndindex_merged
    "x_ann_pq_persisted",                                      // pqindex_saved
    "x_knn_join_ivf_persisted",                                // ivfindex_saved
    "x_bm25_indexed", "x_bool_search")                         // invindex_saved                         // invindex_saved

  /** `catalog_core` rows: the catalog rows named with neither `x_` nor
    * `face:`, every other one by name within each family letter, so one
    * pass fits a run. */
  def coreRows(catalog: Seq[Q]): Seq[Q] =
    catalog.filter(q => !q.name.startsWith("x_") && !q.name.startsWith("face:"))
      .groupBy(_.name.head).toSeq.sortBy(_._1)
      .flatMap { case (_, family) => family.sortBy(_.name).grouped(2).map(_.head) }

  def main(argv: Array[String]): Unit = {
    val Array(workload, data, out, secondsS, traceS, coresS, setupsS, seedS) = argv
    val run = new Run(workload, data, out, secondsS.toDouble, traceS == "1",
      coresS.toInt, setupsS.toInt, seedS.toLong)
    val code = try { run.execute(); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }
}

final class Run(workload: String, data: String, out: String, seconds: Double,
                trace: Boolean, cores: Int, setups: Int, seed: Long) {
  import Harness._

  private val rec = new Records
  private val spans = new Spans(rec)
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None

  private def newSession(): SparkSession = workload match {
    case "etl_logs" =>
      SessionFactory.build("perfbench-etl", Some(s"local[$cores]"))
    case _ =>
      SparkSession.builder().appName("perfbench-catalog")
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .getOrCreate()
  }

  /** Set-up, repeated `setups` times: the first is timed from JVM start
    * and ends after the harness warm-up; later ones are timed from
    * stopping the previous session and end when one small job has run on
    * the new session. */
  private def setUp(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    for (i <- 1 to setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 1) jvmStart else Clock.nowMs
      spark = newSession()
      spark.sparkContext.setLogLevel("WARN")
      spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
      if (i == 1) warmUp()
      rec.add("setup", "i" -> i, "s" -> (Clock.nowMs - t0) / 1000)
    }
    if (trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t.qe)
      tracer = Some(t)
    }
  }

  /** Harness warm-up, once per process. The ETL job runs one batch per
    * process, so its batch stays cold. The catalog serves many queries
    * from one long-lived session, so, as in `graft.Bench`, in-memory
    * synthetic rows first take the common operators (join, aggregate,
    * window, explode) and, for the faces, the tier kernels through JIT and
    * codegen. No input file is read. */
  private def warmUp(): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    if (workload != "etl_logs") {
      val a = spark.range(200).select((col("id") % 25).as("k"), col("id").cast("string").as("v"))
      val b = spark.range(25).select(col("id").as("k"), (col("id") % 5).as("g"))
      a.join(broadcast(b), "k").groupBy("g").agg(count(lit(1)).as("c"), max("v").as("m"))
        .withColumn("rn", row_number().over(Window.orderBy(col("g"))))
        .select(col("rn"), explode(split(col("m"), "")).as("ch"))
        .queryExecution.toRdd.count()
    }
    if (workload == "catalog_faces") {
      val emb = spark.range(64).select(col("id").as("vec_id"),
        array((0 until 64).map(i => pmod(col("id") * (i + 1), lit(97)).cast("double")): _*).as("embedding"))
      graft.sim.Similarity.kmeans(emb, nLists = 4, dim = 64, iters = 2)
      val docs = spark.range(24).select(col("id").as("doc_id"),
        concat(lit("warm up tokens alpha beta gamma delta epsilon zeta "),
          (col("id") % 5).cast("string")).as("text"))
      graft.dedup.Dedup.minhashNearDupsMd5(docs, threshold = 0.5, maxBucketSize = Some(64))
        .queryExecution.toRdd.count()
    }
  }

  /** Drop every persisted RDD that is not a pinned shared face, then
    * collect garbage, so no op pays for its predecessor's leftovers. */
  private def sweep(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => GraftPins.isPinned(r.id))
      .foreach { r =>
        try r.unpersist(blocking = true)
        catch { case e: Throwable => System.err.println(s"[perfbench] unpersist ${r.id}: ${e.getMessage}") }
      }
    System.gc()
  }

  private def withGroup[T](group: String)(body: => T): T =
    if (!trace) body
    else {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }

  def execute(): Unit = {
    setUp()
    val runSpan = spans.open("run", workload, -1, "")
    workload match {
      case "etl_logs" => etl(runSpan)
      case "catalog_core" => catalogCore(runSpan)
      case "catalog_faces" => catalogFaces(runSpan)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spans.close(runSpan)
    writeChecks()
    if (trace) withGroup("extra")(extras())
    spark.stop()
    tracer.foreach(_.write(rec))
    rec.add("proc", "vmhwm_kb" -> vmHwmKb, "cores" -> cores)
    rec.writeTo(Paths.get(out, "records.jsonl"))
  }

  // --- etl_logs -----------------------------------------------------------

  /** One batch, cold: the ETL job runs one batch per process. */
  private def etl(runSpan: Int): Unit = {
    sweep()
    val group = "op-1"
    val passSpan = spans.open("pass", "1", runSpan, group)
    val opSpan = spans.open("op", "batch", passSpan, group)
    val ok = attempt("batch", 1) {
      withGroup(group) {
        val (logs, cats) = spans.timed("extract", "extract", opSpan, group) {
          (Sources.logs(spark, s"$data/logs"),
            spark.read.schema(Schemas.category).parquet(s"$data/categories"))
        }
        val df = spans.timed("build", "transformData", opSpan, group) {
          Pipeline.transformData(logs, cats, types)
        }
        spans.timed("sink", "parquetAppend", opSpan, group) {
          Sinks.parquetAppend(df, s"$out/sink-1")
        }
      }
    }
    spans.close(opSpan)
    spans.close(passSpan)
    rec.add("op", "pass" -> 1, "idx" -> 0, "name" -> "batch", "kind" -> "batch",
      "s" -> spans.seconds(opSpan), "ok" -> ok)
    rec.add("pass", "pass" -> 1, "s" -> spans.seconds(passSpan))
  }

  /** Traced-run extras, outside the timed window: the cost of each
    * cumulative prefix of the chain into a noop sink, and the row count
    * entering the final dedup. */
  private def extras(): Unit = workload match {
    case "etl_logs" =>
      val logs = Sources.logs(spark, s"$data/logs")
      val cats = spark.read.schema(Schemas.category).parquet(s"$data/categories")
      val select = Selectors.selectAll(logs, types)
      val shape = Pipeline.preJoin(logs, types)
      val validId = Transforms.selectValidId(shape)
      val enrich = Enrichment.joinWithCategories(validId, cats)
      val dedup = Pipeline.transformData(logs, cats, types)
      val prefixes = Seq("select" -> select, "shape" -> shape, "validid" -> validId,
        "enrich" -> enrich, "dedup" -> dedup)
      for ((name, df) <- prefixes) {
        sweep()
        val t = new Timer
        df.write.format("noop").mode("overwrite").save()
        rec.add("extra", "name" -> s"prefix.$name", "s" -> t.seconds)
      }
      rec.add("extra", "name" -> "dedup_in_rows", "s" -> enrich.count().toDouble)
    case _ => ()
  }

  // --- catalog workloads -------------------------------------------------

  private val firstResults = ArrayBuffer.empty[(Q, Array[Row], StructType)]
  private val firstHashes = scala.collection.mutable.HashMap.empty[String, String]

  private def catalogCore(runSpan: Int): Unit = {
    val rows = new scala.util.Random(seed).shuffle(coreRows(SparkEntry.catalog))
    val window = new Timer
    var pass = 0
    while (pass == 0 || window.seconds < seconds) {
      pass += 1
      val passSpan = spans.open("pass", s"$pass", runSpan, "")
      rows.zipWithIndex.foreach { case (q, i) => queryOp(q, pass, i, passSpan) }
      spans.close(passSpan)
      rec.add("pass", "pass" -> pass, "s" -> spans.seconds(passSpan))
    }
  }

  /** One cold pass: shared faces and index caches live for the session
    * and the process, so a second pass would read warm faces. */
  private def catalogFaces(runSpan: Int): Unit = {
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    val readers = new scala.util.Random(seed).shuffle(faceReaders.map(byName))
    val passSpan = spans.open("pass", "1", runSpan, "")
    sweep()
    val group = "op-1-faces"
    val opSpan = spans.open("op", "warmFaces", passSpan, group)
    var slots: Seq[(String, Double)] = Nil
    val ok = attempt("warmFaces", 1) {
      slots = withGroup(group) {
        spans.timed("faces", "warmFaces", opSpan, group)(ExtensionQueries.warmFaces(spark, data))
      }
    }
    spans.close(opSpan)
    if (ok) slots.zipWithIndex.foreach { case ((slot, s), i) =>
      rec.add("op", "pass" -> 1, "idx" -> i, "name" -> s"face:$slot", "kind" -> "face_build",
        "s" -> s, "ok" -> true)
    } else rec.add("op", "pass" -> 1, "idx" -> 0, "name" -> "warmFaces", "kind" -> "face_build",
      "s" -> spans.seconds(opSpan), "ok" -> false)
    rec.add("faces", "pinned_mb" -> pinnedMb, "build_s" -> spans.seconds(opSpan))
    readers.zipWithIndex.foreach { case (q, i) => queryOp(q, 1, slots.size + i, passSpan) }
    spans.close(passSpan)
    rec.add("pass", "pass" -> 1, "s" -> spans.seconds(passSpan))
  }

  /** Build one catalog row, force its physical plan, then materialize
    * every output row on the driver. */
  private def queryOp(q: Q, pass: Int, idx: Int, passSpan: Int): Unit = {
    sweep()
    val group = s"op-$pass-$idx"
    val opSpan = spans.open("op", q.name, passSpan, group)
    var rows: Array[Row] = null
    var schema: StructType = null
    val ok = attempt(q.name, pass) {
      withGroup(group) {
        val df = spans.timed("build", "Q.run", opSpan, group)(q.run(spark, data))
        spans.timed("plan", "executedPlan", opSpan, group)(df.queryExecution.executedPlan)
        rows = spans.timed("action", "collect", opSpan, group)(df.collect())
        schema = df.schema
      }
    }
    spans.close(opSpan)
    val hash = if (rows == null) "" else Records.rowsHash(rows)
    val consistent = pass == 1 || firstHashes.get(q.name).forall(_ == hash)
    if (pass == 1 && rows != null) {
      firstResults += ((q, rows, schema))
      firstHashes(q.name) = hash
    }
    rec.add("op", "pass" -> pass, "idx" -> idx, "name" -> q.name, "kind" -> "query",
      "s" -> spans.seconds(opSpan), "ok" -> (ok && consistent),
      "rows" -> (if (rows == null) 0L else rows.length.toLong))
  }

  /** Write each first-pass result and its oracle SQL in the layout
    * `tools/compare.py` reads, a few at a time. Runs after the timed
    * window. */
  private def writeChecks(): Unit = if (firstResults.nonEmpty) {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val writes = firstResults.map { case (q, rows, schema) =>
        pool.submit(new Runnable {
          def run(): Unit = withGroup("check") {
            val parts = 1 + rows.length / 50000
            spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, parts), schema)
              .write.mode("overwrite").parquet(s"$out/results/${q.name}")
          }
        })
      }
      writes.foreach(_.get())
    } finally pool.shutdown()
    val oracle = firstResults.flatMap { case (q, _, _) => q.oracle.map(q.name -> _) }
    Files.writeString(Paths.get(out, "results", "oracle_sql.json"),
      oracle.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))
  }

  // --- helpers -----------------------------------------------------------

  /** Runs one op; a throw is logged and counted, never fatal. */
  private def attempt(name: String, pass: Int)(body: => Unit): Boolean =
    try { body; true }
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name (pass $pass) FAILED: $e")
      false
    }

  private def pinnedMb: Double =
    spark.sparkContext.getRDDStorageInfo
      .filter(i => GraftPins.isPinned(i.id)).map(_.memSize).sum / 1048576.0

  private def vmHwmKb: Long =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toLong
    } catch { case _: Throwable => 0L }
}
