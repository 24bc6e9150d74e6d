package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM session, reused). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Rows as (sorted-by-column-name) string tuples, order-insensitive. */
  def rowSet(df: DataFrame): Set[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"cast(`$c` as string)"): _*)
      .collect()
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) "NULL" else r.getString(i)).mkString("|"))
      .toSet
  }

  def rowSeq(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(r.get))
}
