package graft.functions

import org.apache.spark.sql.Column

/** Public facade for the native vector expressions (implementation in
  * org.apache.spark.sql.graftext — see that file for why). */
object VectorFunctions {
  /** Codegen'd dot product of two array<double> columns. */
  def dotProduct(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.dotProduct(a, b)

  /** Codegen'd |a ∩ b| of two SORTED array<bigint> columns (single
    * merge scan, no allocation) — the triangle-closure kernel. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.sortedIntersectCount(a, b)

  /** Count-min-sketch point estimate of a long key against a broadcast
    * sketch (never underestimates — the heavy-hitters prefilter). */
  def cmsEstimateBcast(
      sketch: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.CountMinSketch],
      key: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.cmsEstimateBcast(sketch, key)

  /** Codegen'd Jaro–Winkler similarity of two string columns in [0,1]
    * (DuckDB-bit-exact semantics — see the graftext scaladoc). */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graftext.VectorExpressions.jaroWinkler(a, b)

  /** Register the FULL native-function surface for SQL use on a live
    * session (dot_product, md5_minhash, md5_hashes60, simhash_from,
    * id_pairs, ... — every GraftFunctionRegistry entry): the same list
    * GraftExtensions injects at builder time; both iterate
    * GraftFunctionRegistry so the surfaces cannot drift. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.graftext.VectorExpressions.register(spark)
}
