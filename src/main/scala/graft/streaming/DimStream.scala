package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.etl.Scd
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SCD type-2 dimension maintenance: a CDC update stream
  * merges into a persisted current slice, micro-batch by micro-batch —
  * the streaming face of [[graft.etl.Scd.scd2Merge]], composed the same
  * `foreachBatch`-applies-the-batch-operator way as the corpus ingest
  * tier (stream == batch semantics by construction, no parallel
  * implementation to drift).
  *
  * Within one micro-batch a key may update several times; the batch is
  * compacted to its LAST row per key first (ordered by the caller's
  * `seqCol` — CDC offsets, LSNs), which is standard CDC compaction:
  * intermediate same-batch versions are not recorded as history rows.
  *
  * == Persistence layout and crash safety ==
  *
  * `slicePath` is a ROOT directory of versioned slices plus an
  * atomically-renamed pointer file:
  *
  * {{{
  *   slicePath/
  *     _CURRENT        <- names the live version dir; swapped via
  *                        write-tmp + ATOMIC_MOVE rename
  *     v3/ ... v4/     <- complete parquet slice per applied batch
  * }}}
  *
  * Per batch: (1) this batch's CLOSED rows go to `historyPath` under a
  * `_batch_id=` partition written with dynamic partition overwrite, so
  * foreachBatch's at-least-once replay overwrites its own partition
  * instead of duplicating it; (2) the next slice is written IN FULL to
  * a fresh `v{batchId}` dir while the previous version stays untouched;
  * (3) only then is `_CURRENT` swapped to the new name by an atomic
  * rename; (4) superseded version dirs are deleted last, best-effort.
  * A crash at ANY point leaves `_CURRENT` naming a complete slice: before
  * the swap it still names the previous version (replay rebuilds
  * `v{batchId}` with `mode=overwrite`); after the swap, replay of the
  * committed batch is a no-op merge (same values, same injected ts) and
  * orphaned old versions are swept on the next successful batch. The
  * merged result is localCheckpointed BEFORE any directory is touched —
  * both writes would otherwise lazily re-scan the slice being replaced.
  * A production deployment would put the slice behind a transactional
  * table format; the merge math and the versioned-pointer layout (the
  * same commit shape as a table format's version pointer) are identical.
  */
object DimStream {

  private val Pointer = "_CURRENT"

  /** Name of the live version dir under `slicePath`, if a batch has
    * committed. */
  def currentVersion(slicePath: String): Option[String] = {
    val p = Paths.get(slicePath, Pointer)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  /** The live slice as a DataFrame, resolved through the pointer file;
    * None before the first committed batch. */
  def readCurrentSlice(spark: SparkSession, slicePath: String): Option[DataFrame] =
    currentVersion(slicePath).map(v => spark.read.parquet(s"$slicePath/$v"))

  /** Start the maintenance query. `batchTs` maps the micro-batch id to
    * the SCD effective timestamp (injected, not wall-clock, so replays
    * and tests are deterministic). Updates must carry `key`, `tracked`
    * and `seqCol`. */
  def maintainScd2(updates: DataFrame, slicePath: String, historyPath: String,
                   checkpoint: String, key: String, tracked: Seq[String],
                   seqCol: String, batchTs: Long => Column): StreamingQuery =
    updates.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, slicePath, historyPath, key, tracked,
          seqCol, batchTs)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch's merge + commit. Package-private so the crash
    * spec can drive it to a failpoint; `failpoint` is invoked with the
    * labels "after-history", "after-version-write", "after-pointer-swap"
    * and may throw to simulate a crash at that boundary. */
  private[streaming] def applyBatch(batch: DataFrame, batchId: Long,
      slicePath: String, historyPath: String, key: String,
      tracked: Seq[String], seqCol: String, batchTs: Long => Column,
      failpoint: String => Unit = _ => ()): Unit = {
    val spark = batch.sparkSession
    val ts = batchTs(batchId)
    // CDC compaction: last row per key by seqCol (struct max keeps the
    // tracked values that belong to the winning sequence number)
    val compacted = batch
      .groupBy(col(key))
      .agg(max(struct(col(seqCol) +: tracked.map(col): _*)).as("_last"))
      .select(col(key) +: tracked.map(c => col(s"_last.$c").as(c)): _*)
    val dim = readCurrentSlice(spark, slicePath).getOrElse(
      compacted.limit(0)
        .withColumn("valid_from", ts)
        .withColumn("valid_to", when(lit(false), ts))
        .withColumn("is_current", lit(true)))
    // materialize before touching either dir
    val merged = GraftPins.cut(Scd.scd2Merge(dim, compacted, key, tracked, ts))
    merged.filter(!col("is_current"))
      .withColumn("_batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id")
      .parquet(historyPath)
    failpoint("after-history")
    val version = s"v$batchId"
    merged.filter(col("is_current"))
      .write.mode("overwrite").parquet(s"$slicePath/$version")
    failpoint("after-version-write")
    swapPointer(slicePath, version)
    failpoint("after-pointer-swap")
    sweepOldVersions(slicePath, version)
  }

  /** Atomically point `_CURRENT` at `version`: write a tmp file, then a
    * single rename. Readers either see the old complete slice or the
    * new complete slice, never a partial one. */
  private def swapPointer(slicePath: String, version: String): Unit = {
    val tmp = Paths.get(slicePath, Pointer + ".tmp")
    Files.write(tmp, version.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(slicePath, Pointer),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete every superseded `v*` dir. Best-effort: a crash here leaves
    * orphan versions that the next successful batch sweeps; correctness
    * never depends on this step. */
  private def sweepOldVersions(slicePath: String, keep: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(slicePath)
    Files.list(root).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("v")
        && p.getFileName.toString != keep)
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(dir: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
