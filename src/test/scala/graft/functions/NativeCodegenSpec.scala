package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback}
import org.apache.spark.sql.graftext._
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** The hot native expressions must participate in whole-stage codegen:
  * none of them may be CodegenFallback (which evaluates the expression
  * through boxed interpreted eval inside generated code), and each must
  * generate a static call into GraftKernels. Value parity between the
  * interpreted and generated paths is covered by
  * NativeExpressionProperties (normal execution runs the generated
  * path; Literal-folded contexts run the interpreted one). */
class NativeCodegenSpec extends SparkSpec {
  import spark.implicits._

  private val strArr = BoundReference(0, ArrayType(StringType), nullable = true)
  private val longArr = BoundReference(0, ArrayType(LongType), nullable = true)
  private val dblArr = BoundReference(0, ArrayType(DoubleType), nullable = true)
  private val str = BoundReference(0, StringType, nullable = true)

  private val converted: Seq[(String, Expression)] = Seq(
    "RollingHashes" -> RollingHashes(strArr, 3),
    "RollingNgrams" -> RollingNgrams(strArr, 3),
    "Md5MinHash" -> Md5MinHash(strArr, 8),
    "Md5Hashes60" -> Md5Hashes60(strArr),
    "SimHashFrom" -> SimHashFrom(longArr, 60),
    "Md5Min" -> Md5Min(strArr),
    "NormalizeWs" -> NormalizeWs(str),
    "JaroWinkler" -> JaroWinkler(str, BoundReference(1, StringType, nullable = true)),
    "TextStats" -> TextStats(str, TextStats.defaultStopwords),
    "QuantizeInt8" -> QuantizeInt8(dblArr))

  test("no hot expression is CodegenFallback; each generates a GraftKernels call") {
    for ((name, e) <- converted) {
      assert(!e.isInstanceOf[CodegenFallback], s"$name must not fall back")
      val code = e.genCode(new CodegenContext).code.toString
      assert(code.contains("GraftKernels"),
        s"$name must generate a kernel call, got:\n$code")
    }
  }

  test("generated path evaluates correctly inside a codegen'd projection") {
    // a non-literal pipeline (parquet-less, but WSCG still applies over
    // LocalTableScan via project codegen) — compare against known values
    val df = Seq((1L, "The quick  brown fox"), (2L, ""), (3L, "a b a b"))
      .toDF("id", "text")
    val out = df.select(
      col("id"),
      graft.text.TextAnalysis.textStats(col("text")).as("st"),
      org.apache.spark.sql.graftext.VectorExpressions.normalizeWs(col("text")).as("nw"))
      .collect().map(r => r.getLong(0) -> ((r.getStruct(1).getInt(0), r.getString(2)))).toMap
    assert(out(1L) == ((4, "the quick brown fox")), out.toString) // \s+ run = one separator
    assert(out(2L) == ((1, "")))
    assert(out(3L) == ((4, "a b a b")))
    // and a minhash chain end-to-end under codegen
    val sig = df.select(org.apache.spark.sql.graftext.VectorExpressions.md5MinHash(
      org.apache.spark.sql.graftext.VectorExpressions.rollingNgrams(split(col("text"), "\\s+"), 2), 4).as("s"))
      .collect().map(r => Option(r.getSeq[Long](0)).map(_.length))
    assert(sig.forall(_.contains(4)))
  }
}
