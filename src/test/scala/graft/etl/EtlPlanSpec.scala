package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Plan-shape pin for the batch chain, in `PlanAuditSpec`'s style: the
  * logs are read once and flow through one linear pass, so a refactor
  * that brings back a per-branch union (one re-scan per branch) fails. */
class EtlPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The final adaptive plan of `transformData` over the fixture logs,
    * read back from parquet. */
  private def executedChain(): SparkPlan = {
    val dir = Files.createTempDirectory("etl-plan").toString
    Fixtures.goldenLogs.write.parquet(s"$dir/logs")
    Fixtures.categories(Seq(Fixtures.catRow("-48", "-48-pc1", "a")))
      .write.parquet(s"$dir/categories")
    val df = Pipeline.transformData(Sources.logs(spark, s"$dir/logs"),
      spark.read.schema(Schemas.category).parquet(s"$dir/categories"), Fixtures.types)
    assert(df.collect().length == 1)
    df.queryExecution.executedPlan
  }

  test("transformData: one scan of the logs, no union, one broadcast join, one shuffle") {
    val plan = executedChain()
    val logScans = collect(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.endsWith("/logs")) => s
    }
    assert(logScans.size == 1, s"the logs must be scanned once:\n$plan")
    assert(collect(plan) { case u: UnionExec => u }.isEmpty, s"no union:\n$plan")
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size == 1, plan.toString)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1,
      s"the C13 dedup is the only shuffle:\n$plan")
  }

  // A higher-order function (`filter`, `array_compact`, ...) has no
  // generated code: each row walks its expression tree interpreted,
  // which is slow and whose cost follows the JIT's warm-up, run to run.
  test("transformData: no per-row higher-order function in the chain") {
    val plan = executedChain()
    val interpreted = collect(plan) {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[HigherOrderFunction])) => p
    }
    assert(interpreted.isEmpty, s"interpreted per-row expressions in:\n${interpreted.mkString("\n")}")
  }
}
