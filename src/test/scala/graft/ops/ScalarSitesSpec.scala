package graft.ops

import graft.SparkSpec
import graft.corpus.Corpus
import graft.dedup.Dedup
import graft.text.TextQueries
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The operators whose 1-row scalar rides its checkpoint's own job
  * ([[org.apache.spark.sql.graftext.GraftPins.ck]] + `withScalars`)
  * instead of a `crossJoin(broadcast(agg))` over the checkpoint. Two
  * pins per operator:
  *  - degenerate inputs (the operator's table empty, one row, its value
  *    column all NULL): the output schema — names, types, decimal
  *    precision and scale — and rows equal the cross-join form's,
  *    recorded below from that form; an aggregate NULL there stays
  *    NULL here, never 0;
  *  - jobs to build and collect on a fixed input (AQE on), each below
  *    the cross-join form's count, recorded beside it. */
class ScalarSitesSpec extends SparkSpec {
  import ScalarSitesSpec._

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

  /** The fixed input: small, seeded by arithmetic, one table per
    * operator family. */
  private lazy val base: Map[String, DataFrame] = Map(
    "orders" -> spark.range(0, 400, 1, 4).select(
      col("id").as("o_orderkey"), (col("id") % 37).as("o_custkey"),
      lit("O").as("o_orderstatus"),
      ((col("id") * 7919 % 100000) / 100.0 + 1.0).as("o_totalprice"),
      expr("timestamp'1995-01-01 00:00:00' + make_interval(0, 0, 0, cast(id * 13 % 900 as int))")
        .as("o_orderdate"),
      concat(lit("P"), (col("id") % 5).cast("string")).as("o_orderpriority")),
    "lineitem" -> spark.range(0, 600, 1, 4).select(
      (col("id") / 3).cast("long").as("l_orderkey"), (col("id") % 53).as("l_partkey"),
      (col("id") % 7).as("l_suppkey"), (col("id") % 3).cast("int").as("l_linenumber"),
      (col("id") % 50 + 1).cast("double").as("l_quantity"),
      ((col("id") * 104729 % 90000) / 100.0 + 10.0).as("l_extendedprice"),
      ((col("id") % 11) / 100.0).as("l_discount"), lit(0.02).as("l_tax"),
      element_at(array(lit("R"), lit("A"), lit("N")), (col("id") % 3 + 1).cast("int"))
        .as("l_returnflag"),
      lit("O").as("l_linestatus"),
      expr("timestamp'1996-01-01 00:00:00' + make_interval(0, 0, 0, cast(id % 700 as int))")
        .as("l_shipdate")),
    "events" -> spark.range(0, 500, 1, 4).select(
      col("id").as("event_id"),
      expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, " +
        "cast((id * 7919 % 500) * 517 as int))").as("ts"),
      (col("id") % 23).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("cart"), lit("purchase")),
        (col("id") * 7 % 4 + 1).cast("int")).as("event_type"),
      ((col("id") % 97) / 3.0).as("value"), lit("{}").as("props")),
    "documents" -> spark.range(0, 60, 1, 4).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), (col("id") % 9 + 6).cast("int")),
        i => concat(lit("w"), ((col("id") * 31 + i * 17) % 40).cast("string")))).as("text"),
      element_at(array(lit("en"), lit("de")), (col("id") % 2 + 1).cast("int")).as("lang"),
      concat(lit("src"), (col("id") % 3).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
    "customer" -> spark.range(0, 37, 1, 2).select(
      col("id").as("c_custkey"), concat(lit("C"), col("id").cast("string")).as("c_name"),
      (col("id") % 5).cast("int").as("c_nationkey"), lit(1.0).as("c_acctbal"),
      lit("M").as("c_mktsegment")))

  /** `site`'s tables, its own table replaced by the degenerate `kind`. */
  private def tables(site: Site, kind: String): Map[String, DataFrame] = {
    val t = base(site.table)
    val keyCol = t.columns.head
    val d = kind match {
      case "fixed" => t
      case "empty" => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], t.schema)
      case "one row" => t.where(col(keyCol) === 1)
      case "NULL values" => t.where(col(keyCol) < 8)
        .withColumn(site.valueCol, lit(null).cast(t.schema(site.valueCol).dataType))
    }
    base + (site.table -> d)
  }

  private def render(df: DataFrame): (String, Seq[String]) =
    (df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
      rowSet(df).toSeq.sorted)

  for (site <- sites) {
    test(s"${site.name}: degenerate inputs keep the cross-join form's schema and NULLs") {
      for (kind <- Seq("empty", "one row", "NULL values")) {
        val expected = site.degenerate(kind)
        if (expected.startsWith("THROWS ")) {
          val e = intercept[Exception](render(site.run(tables(site, kind))))
          val conditions = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collect { case st: org.apache.spark.SparkThrowable => st.getCondition }.toSeq
          assert(conditions.contains(expected.stripPrefix("THROWS ")), s"${site.name} on $kind")
        } else {
          val (schema, rows) = render(site.run(tables(site, kind)))
          assert(schema == site.schema, s"${site.name} on $kind")
          assert(rows.mkString(" ;; ") == expected, s"${site.name} on $kind")
        }
      }
    }
  }

  for (site <- sites) {
    test(s"${site.name}: observed scalar runs ${site.jobs} jobs to build and collect " +
      s"(cross-join form: ${site.parentJobs})") {
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val t = tables(site, "fixed")
      val (_, jobs) = jobsOf(site.run(t).collect())
      assert(jobs == site.jobs && site.jobs < site.parentJobs,
        s"${site.name} ran $jobs jobs")
    }
  }

  test("the shared range scan runs no more jobs than the persist/unpersist copy it replaced") {
    val df = spark.range(0, 5000, 1, 4).select((col("id") * 7919 % 5000).as("k"),
      (col("id") % 13).as("v"))
    val (_, rank) = jobsOf(Relational.globalRank(df, Seq(col("k")), "r").collect())
    val (_, pmax) = jobsOf(Relational.prefixMax(df, Seq(col("k")), "v", "m").collect())
    val (_, ntile) = jobsOf(Relational.exactNtile(df, 7, Seq("k"), "b").collect())
    val (_, pack) = jobsOf(Corpus.packSequences(base("documents"), seqLen = 16).collect())
    val (_, psum) = jobsOf(Relational.prefixSum(spark.range(0, 20000, 1, 4)
      .select(col("id").as("k"), (col("id") % 13).as("v")), Seq(col("k")), "v", "s").collect())
    // the persist/unpersist copies ran 8, 8, 8, 7 and 9 jobs here
    assert((rank, pmax, ntile, pack, psum) == ((5, 5, 5, 5, 6)))
  }
}

object ScalarSitesSpec {

  /** `degenerate` maps each degenerate input to the cross-join form's
    * rows (sorted, " ;; "-joined `rowSet` strings) or, where that form
    * failed, to `THROWS <error condition>`. Where that form failed on an
    * undefined statistic (`theilRevenue` and `cupedAb` dividing by zero,
    * `watermarkProfile` reading an all-NULL range partial), the pin is
    * the row's DuckDB oracle on the same input: NULL for the undefined
    * value. */
  final case class Site(name: String, table: String, valueCol: String,
                        run: Map[String, DataFrame] => DataFrame,
                        schema: String, degenerate: Map[String, String],
                        jobs: Int, parentJobs: Int)

  val sites: Seq[Site] = Seq(
    Site("theilRevenue", "orders", "o_totalprice",
      t => Relational.theilRevenue(t("orders")),
      schema = "n_customers:bigint,theil:double,theil_norm:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "1|0.0|NULL",
        "NULL values" -> ""),
      jobs = 4, parentJobs = 6),
    Site("theilDecomposition", "orders", "o_totalprice",
      t => Relational.theilDecomposition(t("orders"), t("customer")),
      schema = "nationkey:int,n_customers:bigint,income_share:double,theil_within:double,between_term:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "0.0|1.0|1|1|0.0",
        "NULL values" -> ""),
      jobs = 8, parentJobs = 10),
    Site("abcClassification", "lineitem", "l_extendedprice",
      t => Relational.abcClassification(t("lineitem")),
      schema = "abc_class:string,n_parts:bigint,revenue:double,share:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "A|2|1284.32|0.745558 ;; C|1|438.31|0.254442",
        "NULL values" -> "C|24|NULL|NULL"),
      jobs = 6, parentJobs = 7),
    Site("interOrderGapProfile", "orders", "o_orderdate",
      t => Relational.interOrderGapProfile(t("orders")),
      schema = "n_gaps:bigint,mean_gap:double,median_gap:double,p90_gap:int",
      degenerate = Map(
        "empty" -> "NULL|NULL|NULL|NULL",
        "one row" -> "NULL|NULL|NULL|NULL",
        "NULL values" -> "NULL|NULL|NULL|NULL"),
      jobs = 6, parentJobs = 8),
    Site("kmSurvival", "orders", "o_orderdate",
      t => Relational.kmSurvival(t("orders"), censorDays = 30),
      schema = "duration_days:int,n_risk:bigint,n_events:bigint,survival:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "",
        "NULL values" -> ""),
      jobs = 6, parentJobs = 10),
    Site("ksDrift", "documents", "n_chars",
      t => DataQuality.ksDrift(t("documents"), "src0", "src1"),
      schema = "n_a:bigint,n_b:bigint,ks_d:double,ks_at:bigint",
      degenerate = Map(
        "empty" -> "NULL|NULL|NULL|NULL",
        "one row" -> "NULL|NULL|0|1",
        "NULL values" -> "NULL|0.0|3|3"),
      jobs = 6, parentJobs = 10),
    Site("psiDrift", "documents", "n_chars",
      t => DataQuality.psiDrift(t("documents"), refSource = "src0"),
      schema = "source:string,n_rows:bigint,psi:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "",
        "NULL values" -> "2|0.016596|src2 ;; 3|0.0|src1"),
      jobs = 16, parentJobs = 21),
    Site("woeIv", "lineitem", "l_discount",
      t => DataQuality.woeIv(t("lineitem")),
      schema = "bucket:int,n_events:bigint,n_good:bigint,n_bad:bigint,woe:double,iv:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "3|0.415889|0|1|1|0.916291 ;; 4|0.415889|1|1|0|-0.470004 ;; 5|0.415889|1|1|0|-0.470004",
        "NULL values" -> "NULL|0.0|16|24|8|0.0"),
      jobs = 4, parentJobs = 8),
    Site("jsDivergence", "documents", "text",
      t => DataQuality.jsDivergence(t("documents"), refSource = "src0"),
      schema = "n_vocab:bigint,n_tok_ref:bigint,n_tok_other:bigint,kl_ref:double,kl_other:double,jsd:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "",
        "NULL values" -> ""),
      jobs = 4, parentJobs = 6),
    Site("acfDaily", "events", "ts",
      t => EventAnalytics.acfDaily(t("events"), maxLag = 7),
      schema = "lag:bigint,n_pairs:bigint,acf:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "NULL|1|0 ;; NULL|2|0 ;; NULL|3|0 ;; NULL|4|0 ;; NULL|5|0 ;; NULL|6|0 ;; NULL|7|0",
        "NULL values" -> "NULL|1|0 ;; NULL|2|0 ;; NULL|3|0 ;; NULL|4|0 ;; NULL|5|0 ;; NULL|6|0 ;; NULL|7|0"),
      jobs = 4, parentJobs = 8),
    Site("peakConcurrency", "events", "ts",
      t => EventAnalytics.peakConcurrency(t("events"), gapSec = 1800L),
      schema = "n_sessions:bigint,peak_concurrency:bigint,peak_at_us:bigint",
      degenerate = Map(
        "empty" -> "NULL|NULL|NULL",
        "one row" -> "1|1704283823000000|1",
        "NULL values" -> "8|NULL|0"),
      jobs = 7, parentJobs = 9),
    Site("watermarkProfile", "events", "ts",
      t => EventAnalytics.watermarkProfile(t("events")),
      schema = "n_events:bigint,n_late:bigint,max_late_s:bigint,p99_late_s:bigint,p999_late_s:bigint",
      degenerate = Map(
        "empty" -> "NULL|NULL|NULL|NULL|NULL",
        "one row" -> "0|1|0|0|0",
        "NULL values" -> "NULL|8|0|NULL|NULL"),
      jobs = 9, parentJobs = 14),
    Site("markovAttribution", "events", "event_type",
      t => EventAnalytics.markovAttribution(t("events"), convType = "purchase", steps = 8),
      schema = "channel:string,p_conv:double,p_conv_removed:double,removal_effect:double,share:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "",
        "NULL values" -> ""),
      jobs = 23, parentJobs = 28),
    Site("cupedAb", "events", "value",
      t => EventAnalytics.cupedAb(t("events")),
      schema = "n_a:bigint,n_b:bigint,theta:double,z_unadj:double,z_cuped:double,var_reduction:double",
      degenerate = Map(
        "empty" -> "NULL|NULL|NULL|NULL|NULL|NULL",
        "one row" -> "1|NULL|NULL|NULL|NULL|NULL",
        "NULL values" -> "7|1|NULL|NULL|NULL|NULL"),
      jobs = 7, parentJobs = 9),
    Site("tokenWaterfill", "documents", "text",
      t => Corpus.tokenWaterfill(t("documents"), budget = 300L),
      schema = "source:string,tokens:bigint,alloc:bigint,capped:boolean",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "8|false|src1|8",
        "NULL values" -> "NULL|NULL|src0|NULL ;; NULL|NULL|src1|NULL ;; NULL|NULL|src2|NULL"),
      jobs = 4, parentJobs = 8),
    Site("vocabGrowth", "documents", "text",
      t => Corpus.vocabGrowth(t("documents"), nPoints = 8),
      schema = "point:bigint,n_tokens:bigint,vocab:bigint,ttr:double",
      degenerate = Map(
        "empty" -> "",
        "one row" -> "1|1|1.0|1 ;; 2|2|1.0|2 ;; 3|3|1.0|3 ;; 4|4|1.0|4 ;; 5|5|1.0|5 ;; 6|6|1.0|6 ;; 7|7|1.0|7 ;; 8|8|1.0|8",
        "NULL values" -> ""),
      jobs = 8, parentJobs = 13),
    Site("lshTuningCurve", "documents", "text",
      t => Dedup.lshTuningCurve(t("documents"), k = 16, rowsPerBand = 2),
      schema = "s:double,p_collide:double,n_docs:bigint,n_buckets:bigint,max_bucket:bigint,n_candidate_pairs:bigint,n_true_pairs:bigint,n_true_caught:bigint,recall:double",
      degenerate = Map(
        "empty" -> "NULL|0|0|0|0|0|0.019826|NULL|0.05 ;; NULL|0|0|0|0|0|0.077255|NULL|0.1 ;; NULL|0|0|0|0|0|0.166445|NULL|0.15 ;; NULL|0|0|0|0|0|0.27861|NULL|0.2 ;; NULL|0|0|0|0|0|0.403281|NULL|0.25 ;; NULL|0|0|0|0|0|0.529747|NULL|0.3 ;; NULL|0|0|0|0|0|0.648458|NULL|0.35 ;; NULL|0|0|0|0|0|0.752124|NULL|0.4 ;; NULL|0|0|0|0|0|0.836377|NULL|0.45 ;; NULL|0|0|0|0|0|0.899887|NULL|0.5 ;; NULL|0|0|0|0|0|0.943979|NULL|0.55 ;; NULL|0|0|0|0|0|0.971853|NULL|0.6 ;; NULL|0|0|0|0|0|0.987629|NULL|0.65 ;; NULL|0|0|0|0|0|0.995423|NULL|0.7 ;; NULL|0|0|0|0|0|0.998658|NULL|0.75 ;; NULL|0|0|0|0|0|0.999718|NULL|0.8 ;; NULL|0|0|0|0|0|0.999965|NULL|0.85 ;; NULL|0|0|0|0|0|0.999998|NULL|0.9 ;; NULL|0|0|0|0|0|1.0|NULL|0.95",
        "one row" -> "1|8|0|1|0|0|0.019826|NULL|0.05 ;; 1|8|0|1|0|0|0.077255|NULL|0.1 ;; 1|8|0|1|0|0|0.166445|NULL|0.15 ;; 1|8|0|1|0|0|0.27861|NULL|0.2 ;; 1|8|0|1|0|0|0.403281|NULL|0.25 ;; 1|8|0|1|0|0|0.529747|NULL|0.3 ;; 1|8|0|1|0|0|0.648458|NULL|0.35 ;; 1|8|0|1|0|0|0.752124|NULL|0.4 ;; 1|8|0|1|0|0|0.836377|NULL|0.45 ;; 1|8|0|1|0|0|0.899887|NULL|0.5 ;; 1|8|0|1|0|0|0.943979|NULL|0.55 ;; 1|8|0|1|0|0|0.971853|NULL|0.6 ;; 1|8|0|1|0|0|0.987629|NULL|0.65 ;; 1|8|0|1|0|0|0.995423|NULL|0.7 ;; 1|8|0|1|0|0|0.998658|NULL|0.75 ;; 1|8|0|1|0|0|0.999718|NULL|0.8 ;; 1|8|0|1|0|0|0.999965|NULL|0.85 ;; 1|8|0|1|0|0|0.999998|NULL|0.9 ;; 1|8|0|1|0|0|1.0|NULL|0.95",
        "NULL values" -> "8|8|28|8|0|0|0.019826|NULL|0.05 ;; 8|8|28|8|0|0|0.077255|NULL|0.1 ;; 8|8|28|8|0|0|0.166445|NULL|0.15 ;; 8|8|28|8|0|0|0.27861|NULL|0.2 ;; 8|8|28|8|0|0|0.403281|NULL|0.25 ;; 8|8|28|8|0|0|0.529747|NULL|0.3 ;; 8|8|28|8|0|0|0.648458|NULL|0.35 ;; 8|8|28|8|0|0|0.752124|NULL|0.4 ;; 8|8|28|8|0|0|0.836377|NULL|0.45 ;; 8|8|28|8|0|0|0.899887|NULL|0.5 ;; 8|8|28|8|0|0|0.943979|NULL|0.55 ;; 8|8|28|8|0|0|0.971853|NULL|0.6 ;; 8|8|28|8|0|0|0.987629|NULL|0.65 ;; 8|8|28|8|0|0|0.995423|NULL|0.7 ;; 8|8|28|8|0|0|0.998658|NULL|0.75 ;; 8|8|28|8|0|0|0.999718|NULL|0.8 ;; 8|8|28|8|0|0|0.999965|NULL|0.85 ;; 8|8|28|8|0|0|0.999998|NULL|0.9 ;; 8|8|28|8|0|0|1.0|NULL|0.95"),
      jobs = 13, parentJobs = 21),
    Site("joinSizeEstimate", "lineitem", "l_orderkey",
      t => Skew.joinSizeEstimate(t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
      schema = "left_rows:bigint,left_keys:bigint,right_rows:bigint,right_keys:bigint,matched_keys:bigint,est_rows:bigint,max_key_rows:bigint,top_share:double",
      degenerate = Map(
        "empty" -> "0|0|0|0|0|400|400|0.0",
        "one row" -> "3|1|3|1|3|400|400|1.0",
        "NULL values" -> "0|1|24|0|0|400|400|0.0"),
      jobs = 6, parentJobs = 10),
    Site("conformal2", "documents", "n_chars",
      { t =>
        val toks = split(col("text"), "\\s+")
        Ols.conformal2(t("documents").select(col("doc_id"), col("n_chars").as("y"),
            size(toks).as("x1"), size(array_distinct(toks)).as("x2")),
          col("doc_id"), col("y"), col("x1"), col("x2"), q = 0.9)
      },
      schema = "n_train:bigint,n_cal:bigint,q_rank:bigint,q_hat:double,train_coverage:double",
      degenerate = Map(
        "empty" -> "0|NULL|NULL|1|NULL",
        "one row" -> "0|NULL|NULL|1|NULL",
        "NULL values" -> "1|7|NULL|1|0.0"),
      jobs = 9, parentJobs = 14),
    Site("cohensKappa", "documents", "text",
      { t =>
        val dir = java.nio.file.Files.createTempDirectory("scalar-sites").toString
        t("documents").write.parquet(s"$dir/documents.parquet")
        TextQueries.cohensKappa.run(t("documents").sparkSession, dir)
      },
      schema = "n_rows:bigint,n_agree:bigint,po:double,pe:double,kappa:double",
      degenerate = Map(
        "empty" -> "NULL|0|NULL|NULL|NULL",
        "one row" -> "0.0|0|1|0.0|0.0",
        "NULL values" -> "0.0|0|8|0.0|0.0"),
      jobs = 9, parentJobs = 11))
}
