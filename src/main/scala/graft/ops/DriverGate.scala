package graft.ops

import org.apache.log4j.LogManager
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one decision point between an operator's driver twin (collect a
  * gate-sized input, run the identical exact arithmetic in Scala) and
  * its distributed plan (the 100 TB shape). Results are identical
  * either way (spec-pinned per operator), so the limits are fixed cost
  * trade-offs, not tuning surface. The one session switch,
  * `spark.graft.gates.forceDistributed=true`, sends every gate to its
  * distributed arm without probing the input: the parity face for
  * specs and the forced-distributed oracle run. Each decision logs one
  * INFO line: `gate=<name> max=<max> arm=driver|distributed
  * forced=<bool>`, plus `size=<n>` (or `size>max` past a bounded
  * collect) when the input was probed. */
object DriverGate {

  /** `Relational.prefixSum` input rows: value grids, not data. */
  val PrefixSumRows: Long = 10000L
  /** PageRank nodes and edges; the edge limit is the binding ≈32 MB
    * collect bound (r15 A/B: the 587k-edge purchase graph runs 32–36%
    * faster on the driver). */
  val PageRankNodes: Long = 200000L
  val PageRankEdges: Long = 2000000L
  /** Canonical edges for the k-core, k-truss, BFS and LPA twins. */
  val GraphEdges: Long = 2000000L
  /** Triangles the k-truss driver twin enumerates before it falls back
    * to the distributed peel: the edge limit does not bound triangle
    * count (a ~2000-node near-clique under it has ~1.3e9), and the
    * flat int storage is ~12 B/triangle, so ~360 MB transient. */
  val GraphTriangles: Long = 30000000L
  /** Node tables up to this size run LPA and PageRank rounds with the
    * node-sized table broadcast onto the partitioned edges (zero
    * data-sized exchanges per round); past it the rounds shuffle. A
    * few-hundred-MB broadcast ceiling (history/OPTIMIZATION_r15.md §4: the
    * shuffle layout wins from ~5M nodes). Not a driver twin: both
    * arms are distributed, so the switch leaves it alone. */
  val BroadcastNodes: Long = 4000000L
  /** Spearman keyed rows. The driver twin's Long moment sums Σr² and
    * Σr_a·r_b run over doubled ranks r ≤ 2n, so they stay ≤ 4n³ = 4e18
    * < Long.MaxValue here (overflow past n ≈ 1.32M; spec-pinned). */
  val SpearmanRows: Long = 1000000L
  /** Markov attribution transition-matrix rows. */
  val MarkovRows: Long = 100000L

  val ForceDistributed = "spark.graft.gates.forceDistributed"

  @transient private lazy val logger = LogManager.getLogger(getClass)

  private def forced(spark: SparkSession): Boolean =
    spark.conf.getOption(ForceDistributed).exists(_.toBoolean)

  /** The single logging site: one line per gate decision. */
  private def decide(name: String, max: Long, driver: Boolean, size: Option[String]): Boolean = {
    logger.info(s"gate=$name max=$max arm=${if (driver) "driver" else "distributed"} " +
      s"forced=${size.isEmpty}" + size.fold("")(n => s" size$n"))
    driver
  }

  /** Size-only gate, for sites whose driver arm needs a count it pays
    * anyway on an already-materialized input: true (driver arm) iff
    * `size` ≤ `max`. `size` is not evaluated when the switch is set. */
  def admits(spark: SparkSession, name: String, max: Long, size: => Long): Boolean = {
    val n = if (forced(spark)) None else Some(size)
    decide(name, max, n.exists(_ <= max), n.map(v => s"=$v"))
  }

  /** Bounded probe that also collects: `Some(rows)` when `df` has at
    * most `max` rows, `None` (distributed arm) otherwise or when the
    * switch is set — then without touching `df`.
    *
    * `limit(max + 1).collect()` stops once `max + 1` rows are in hand,
    * so the losing case never pays a full O(input) pass, and the
    * winning case needs no count before its collect. Spark's
    * CollectLimit scans partitions incrementally (1, then ×4 per
    * attempt), so on P input partitions it runs up to ~log4(P) + 1
    * jobs: 2 on 4 partitions, 5 on 200 (local[4], AQE on) — no more
    * than the count + collect it replaces on the few-partition,
    * already-checkpointed inputs the gates see. */
  def collect(name: String, max: Long, df: DataFrame): Option[Array[Row]] =
    if (forced(df.sparkSession)) distributed(name, max) else probe(name, max, df)

  /** [[collect]] for an input shared by several calls (a graph face):
    * the first unforced `get` probes once and keeps the rows' image
    * under `build`; later calls reuse it, while the switch is still
    * honored on every call. */
  final class Kept[T](name: String, max: Long, df: => DataFrame, build: Array[Row] => T) {
    private lazy val kept = probe(name, max, df).map(build)
    def get(spark: SparkSession): Option[T] =
      if (forced(spark)) distributed(name, max) else kept
  }

  private def distributed[T](name: String, max: Long): Option[T] = {
    decide(name, max, driver = false, None)
    None
  }

  private def probe(name: String, max: Long, df: DataFrame): Option[Array[Row]] = {
    val rows = df.limit(max.toInt + 1).collect()
    val driver = rows.length <= max
    decide(name, max, driver, Some(if (driver) s"=${rows.length}" else s">$max"))
    if (driver) Some(rows) else None
  }
}
