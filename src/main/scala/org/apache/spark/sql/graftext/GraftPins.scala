package org.apache.spark.sql.graftext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.functions.{col, lit}

/** The engine's one materialization primitive ([[GraftPins.ck]] and
  * its short form [[GraftPins.cut]]) and the registry of DURABLE
  * checkpointed datasets — shared faces a workload builds once per
  * dataset and reuses across queries (the
  * [[graft.ops.GraphOps.GraphFace]] cache). A benchmark harness
  * that sweeps leftover pinned blocks between queries (unpersisting
  * every `getPersistentRDDs` entry — the right hygiene for per-query
  * round checkpoints) must SKIP these: a localCheckpointed RDD's
  * lineage is truncated, so unpersisting it doesn't free a cache, it
  * destroys the data (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` on the next
  * reader).
  *
  * Lives in the spark.sql namespace because extracting the persisted
  * RDD behind a checkpointed Dataset reads `LogicalRDD.rdd`
  * (private[sql]).
  */
object GraftPins {
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Register the persisted RDD(s) backing a checkpointed dataset. */
  def pin(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.foreach(id => { ids.add(id); () })

  /** Deregister AND unpersist a previously pinned dataset — the face
    * is being discarded (its cache entry was replaced because the
    * dataset files changed, or its session ended), so its blocks must
    * become reclaimable again: a pin with no unpin path would hold
    * every stale face's localCheckpoint blocks for the JVM's lifetime
    * (sweepers skip pinned ids by contract, and nothing else frees
    * them). Safe on a stopped context: the unpersist failure is
    * swallowed, the id still leaves the registry. */
  def unpin(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach { r =>
      ids.remove(r.id)
      try r.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }

  /** Is this RDD a registered durable face? (Sweepers must skip it.) */
  def isPinned(rddId: Int): Boolean = ids.contains(rddId)

  /** The session's collision-free stable id (`sessionUUID` is
    * private[sql]; this is the face-cache key — identity hashes can
    * repeat across GC'd sessions, a UUID cannot). None for a
    * non-classic session implementation. */
  def sessionUuid(s: org.apache.spark.sql.SparkSession): Option[String] = s match {
    case c: org.apache.spark.sql.classic.SparkSession => Some(c.sessionUUID)
    case _ => None
  }

  /** The one checkpoint primitive — every materialization in main goes
    * through it (a source-scan spec keeps it that way). It eagerly
    * checkpoints `df` and returns the checkpoint with the named
    * aggregates `metrics`, observed by the SAME job that writes it.
    * The policy, one argument each:
    *  - local or reliable: a `localCheckpoint()` by default;
    *    `reliable` writes a `checkpoint()` into the context's
    *    checkpoint dir instead (executor loss cannot lose it).
    *  - layout: `keepLayout` materializes AQE-off ([[withAqeOff]]),
    *    so the checkpoint keeps the physical partitioning downstream
    *    joins ride, and the whole write is one job instead of one per
    *    shuffle stage.
    *  - pin: `pinned` registers the checkpoint as a durable face
    *    ([[pin]]) that between-query sweeps must skip.
    *  - observed scalars: a loop round's convergence scalar, a gate's
    *    row count or an operator's 1-row total costs no job of its
    *    own, where a `count()`/`agg(...).collect()` or a
    *    `crossJoin(broadcast(agg))` over the fresh checkpoint
    *    schedules more (two under AQE). The returned row holds the
    *    metrics in order, with their schema (`Row.empty` when none
    *    are asked); aggregates see the same rows a separate `agg`
    *    would, empty inputs included (`count` 0, `sum` NULL).
    *    [[withScalars]] turns the row into typed literal columns.
    *    DISTINCT aggregates are not observable (Spark rejects them).
    *
    * A fresh `Observation` per call (one can fire once), read only
    * after the eager checkpoint returned: a failed job throws here and
    * never leaves the read waiting. */
  def ck(df: DataFrame, keepLayout: Boolean = false, reliable: Boolean = false,
         pinned: Boolean = false)(metrics: Column*): (DataFrame, Row) = {
    val obs = if (metrics.isEmpty) None else Some(new Observation())
    val in = obs.fold(df)(o => df.observe(o, metrics.head, metrics.tail: _*))
    def write = if (reliable) in.checkpoint() else in.localCheckpoint()
    val c = if (keepLayout) withAqeOff(df.sparkSession)(write) else write
    if (pinned) pin(c)
    (c, obs.fold(Row.empty)(_.getRow))
  }

  /** [[ck]] without metrics: the checkpoint alone. */
  def cut(df: DataFrame, keepLayout: Boolean = false, pinned: Boolean = false): DataFrame =
    ck(df, keepLayout, pinned = pinned)()._1

  /** `df` with every field of the observed `rows` ([[ck]]) appended as
    * a literal column of the aggregate's declared type — what a
    * `crossJoin` with the 1-row aggregate appended, without its job.
    * The cast matters: `lit` alone types a decimal by its value
    * (`lit(BigDecimal)` of 12.5 is DECIMAL(3,1), not the aggregate's
    * DECIMAL(38,1)) and a NULL scalar (an empty input's `sum`) as
    * VOID, and the type feeds every expression downstream. */
  def withScalars(df: DataFrame, rows: Row*): DataFrame =
    df.select(col("*") +: rows.flatMap(r => r.schema.fields.indices.map(i =>
      lit(r.get(i)).cast(r.schema(i).dataType).as(r.schema(i).name))): _*)

  /** Per-session reentrancy state for [[withAqeOff]]: only the
    * OUTERMOST entry snapshots the previous conf value and only the
    * matching outermost exit restores it. Without the depth counter,
    * two overlapping `withAqeOff` bodies in one session race the
    * read-modify-restore: the second entry snapshots the 'false' the
    * first just set, and its finally restores 'false' — leaving AQE
    * permanently disabled for the session (the r13 ADVICE sticky-
    * restore race). States are keyed by session and never removed —
    * one small object per session for the JVM's lifetime, bounded by
    * session count (removal would race a thread still holding the
    * old state object through computeIfAbsent). */
  private final class AqeState { var depth = 0; var prev: Option[String] = None }
  private val aqeStates =
    new java.util.concurrent.ConcurrentHashMap[String, AqeState]()

  /** Run `body` with AQE disabled in the session conf, restoring the
    * previous value after the OUTERMOST nested/concurrent call exits
    * (per-session depth counter — see [[AqeState]]). WHY: a checkpoint
    * materialized under AQE records `UnknownPartitioning` on its
    * LogicalRDD (an adaptive plan reports no partitioning until its
    * final plan, and the checkpoint captures the metadata before
    * that), which silently DISCARDS the layout a face's repartition
    * just paid for — every downstream consumer then re-exchanges the
    * face (measured r13: the u-partitioned sym self-join planned 2
    * exchanges under AQE-on checkpointing, 0 when the checkpoint was
    * built AQE-off and queried AQE-on; the metadata, not the layout,
    * was the loss). Scope caveat: the toggle is session-conf-wide for
    * the duration of `body`, so unrelated plans COMPILED concurrently
    * in the same session during a face build would also lose AQE —
    * the depth counter makes overlap SAFE (no sticky restore), not
    * side-effect-free. */
  def withAqeOff[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val k = "spark.sql.adaptive.enabled"
    val key = sessionUuid(spark)
      .getOrElse("@" + System.identityHashCode(spark))
    val st = aqeStates.computeIfAbsent(key, _ => new AqeState)
    st.synchronized {
      if (st.depth == 0) {
        st.prev = spark.conf.getOption(k)
        spark.conf.set(k, "false")
      }
      st.depth += 1
    }
    try body
    finally st.synchronized {
      st.depth -= 1
      if (st.depth == 0) st.prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }
}
