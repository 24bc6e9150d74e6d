package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Micro-benchmark for the IdPairs generator's CodegenFallback cost
  * (dev tool, test scope — run with Test/runMain graft.tools.IdPairsBench).
  *
  * IdPairs is the one native expression without doGenCode; codegen for
  * a Generator would require the CollectionGenerator contract, which
  * MATERIALIZES the full f² pair collection per input row — exactly the
  * per-task memory spike the streaming iterator exists to avoid. This
  * bench bounds what that codegen could possibly buy: it times the
  * pair-expansion stage (groupBy + collect_list + IdPairs) against the
  * identical plan WITHOUT the expansion, so the difference is the
  * entire generator cost — iterator, InternalRow allocation AND eval
  * dispatch. The interpreted-HOF expansion is timed as the alternative
  * implementation. Results are committed in IdPairs' scaladoc.
  */
object IdPairsBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 200k buckets x fanout 24 -> 200k * 24*23/2 = 55.2M pairs
    val nKeys = 200000
    val fanout = 24
    val grouped = spark.range(nKeys.toLong * fanout)
      .select((col("id") % nKeys).as("bucket"), col("id"))
      .groupBy("bucket").agg(collect_list(col("id")).as("ids"))

    val V = org.apache.spark.sql.graftext.VectorExpressions
    def idPairsPlan = grouped.filter(size(col("ids")) > 1)
      .select(V.idPairs(col("ids")))
    def hofPlan = grouped.filter(size(col("ids")) > 1)
      .select(explode(filter(
        flatten(transform(col("ids"),
          x => transform(col("ids"), y => struct(x.as("id1"), y.as("id2"))))),
        p => p("id1") < p("id2"))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))

    def time(label: String, df: => org.apache.spark.sql.DataFrame): Double = {
      val runs = (1 to 3).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val n = df.queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, n)
      }
      val best = runs.map(_._1).min
      println(f"$label%-28s ${best}%7.2f s  (${runs.head._2} rows)")
      best
    }

    val feed = time("groupBy feed (no expansion)", grouped)
    val gen = time("feed + IdPairs generator", idPairsPlan)
    val hof = time("feed + interpreted HOF", hofPlan)
    val expansion = gen - feed
    val nPairs = nKeys.toLong * fanout * (fanout - 1) / 2
    println(f"IdPairs all-in expansion cost (iterator + InternalRow + eval " +
      f"dispatch): ${expansion}%.2f s for $nPairs pairs = " +
      f"${1e9 * expansion / nPairs}%.1f ns/pair on local[8]; " +
      f"interpreted HOF alternative: ${hof - feed}%.2f s " +
      f"(${(hof - feed) / expansion}%.1fx the generator)")

    // context: the REAL pair volume the dedup pipelines push through the
    // generator — the candidate exchange that feeds it costs seconds at
    // this scale (history/BENCH_SCALE.md), so expansion share = pairs * ns/pair
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sh = docs.select(col("doc_id"), explode(array_distinct(
      V.md5Hashes60(graft.dedup.Dedup.shingles(col("text"), 3)))).as("g"))
    val cand = sh.groupBy(col("g")).agg(count(lit(1)).as("f"))
      .filter(col("f") > 1 && col("f") <= 64)
      .select((sum(col("f") * (col("f") - 1)) / 2).cast("long")).collect()(0).getLong(0)
    println(f"x_ngram_jaccard candidate pairs at $sfDir: $cand " +
      f"(≈ ${1e9 * expansion / nPairs * cand / 1e9}%.3f s of generator time " +
      "inside a multi-second dictionary-shuffle stage)")
    spark.stop()
  }
}
