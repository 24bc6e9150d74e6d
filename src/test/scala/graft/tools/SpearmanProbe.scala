package graft.tools

import graft.Tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decomposition probe for x_spearman at sf0.1 (scratch, not part of
  * the library): splits the row into keyed-checkpoint, per-column
  * rank-grid builds, the 3-way rank join, and the moment tail — the
  * where-does-the-fixed-overhead-go question the r14 verdict asked
  * before any plan change. */
object SpearmanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    def ix(c: String) = round(col(c) * 100).cast("long")
    def li = Tables.lineitem(spark, sfDir)

    def timed(label: String)(body: => Long): Unit =
      for (i <- 1 to 3) {
        System.gc()
        val t0 = System.nanoTime()
        val n = body
        println(f"$label%-24s run$i ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n rows)")
      }

    timed("keyed_ck_only") {
      li.select(cols.map(c => ix(c).as(s"_v_$c")): _*)
        .localCheckpoint().count()
    }
    val keyed = li.select(cols.map(c => ix(c).as(s"_v_$c")): _*).localCheckpoint()
    timed("grids_only") {
      cols.map { c =>
        keyed.groupBy(col(s"_v_$c")).agg(count(lit(1)).as("_cnt")).count()
      }.sum
    }
    timed("ranks_join_materialize") {
      var ranked = keyed
      for (c <- cols) {
        val grid = keyed.groupBy(col(s"_v_$c")).agg(count(lit(1)).as("_cnt"))
        val pre = graft.ops.Relational.prefixSum(grid, Seq(col(s"_v_$c")), "_cnt", "_pre")
          .select(col(s"_v_$c"),
            (lit(2L) * col("_pre") - col("_cnt") + 1L).as(s"_r_$c"))
        ranked = ranked.join(pre, Seq(s"_v_$c"))
      }
      ranked.queryExecution.toRdd.count()
    }
    timed("full_spearman") {
      graft.ops.Profile.spearmanMatrix(li, cols)
        .queryExecution.toRdd.count()
    }
    // grid sizes for the record
    cols.foreach { c =>
      println(s"grid $c: " +
        keyed.groupBy(col(s"_v_$c")).agg(count(lit(1))).count() + " values")
    }
    spark.stop()
  }
}
