package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The banded-LSH bucket policy shared by the text near-dup
  * ([[Dedup.bandSignaturesMd5]]), image/video pHash
  * ([[graft.mm.Multimodal.phashNearDups]],
  * [[graft.mm.Multimodal.phashIndex]]) and cosine
  * ([[graft.sim.Similarity.cosineNearDups]]) operators. A family
  * supplies band rows — one row per (member, band) carrying the band
  * key columns and the member's long id — and its own verify; this
  * object owns what happens in between: ids grouped per band key,
  * buckets over a cap dropped, i<j candidate pairs expanded, and the
  * persisted bucket [[Index]]. */
object Banding {

  /** One `ids` list per band key, dropping buckets of more than `cap`
    * members. A bucket of f members expands to f²/2 pairs in one task,
    * and a degenerate input (all-identical docs or images) puts the
    * WHOLE input in one bucket per band, so the cap is the skew escape
    * hatch; None keeps the bucket set exact. Only (key, id) rows
    * shuffle, never the payload the ids stand for. */
  def idLists(rows: DataFrame, keys: Seq[String], id: String, cap: Option[Int]): DataFrame = {
    val grouped = rows.groupBy(keys.map(col): _*).agg(collect_list(col(id)).as("ids"))
    cap.fold(grouped)(m => grouped.filter(size(col("ids")) <= m))
  }

  /** Expand each `ids` list into its (id1, id2) pairs with id1 < id2
    * via the native IdPairs generator. Replaces a bucket self-join:
    * the upstream plan is consumed ONCE (a self-join would execute it
    * per side), and the only shuffle is the groupBy on the key. The
    * generator STREAMS the O(f²) pairs per key — constant memory even
    * for a hot key, unlike [[pairsFromIdListsHof]], which materializes
    * the full f²-element array before exploding. A pair sharing
    * several buckets (or an id repeated in one) comes out once per
    * occurrence; callers that need a set apply distinct. */
  def pairsFromIdLists(lists: DataFrame): DataFrame =
    lists
      .filter(size(col("ids")) > 1)
      .select(org.apache.spark.sql.graftext.VectorExpressions.idPairs(col("ids")))

  /** The column-function form of [[pairsFromIdLists]] (test oracle for
    * the IdPairs generator). */
  private[dedup] def pairsFromIdListsHof(lists: DataFrame): DataFrame =
    lists
      .filter(size(col("ids")) > 1)
      .select(explode(filter(
        flatten(transform(col("ids"),
          x => transform(col("ids"), y => struct(x.as("id1"), y.as("id2"))))),
        p => p("id1") < p("id2"))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))

  /** A corpus bucket index: `bands` holds [[idLists]] over the corpus
    * band rows (the band key columns plus `ids`), `payload` holds what
    * the family's verify reads per corpus member, keyed by `_ex_id` —
    * shingle sets for text near-dups, 8-byte hashes for pHash. Build it
    * ONCE over the corpus (the only pass that touches documents or
    * media), persist or cache it, and probe it with every ingest batch:
    * a batch then pays only batch-proportional work.
    *
    * [[merge]] and [[append]] add a batch at DELTA cost: fragments are
    * unioned, nothing already indexed is re-read. A band key present in
    * several fragments keeps one row per fragment, which [[candidates]]
    * handles by construction (the probe equi-join matches every
    * fragment row; explode + dropDuplicates unions the id groups), so
    * probing a merged index equals probing a full rebuild with ONE
    * divergence: the cap judged each fragment's bucket on its own, not
    * the combined bucket (the price of never reading the existing
    * fragments). [[compact]] with the cap restores build-time
    * semantics. */
  final case class Index(bands: DataFrame, payload: DataFrame) {
    private def keys: Seq[String] = bands.columns.toSeq.filterNot(_ == "ids")

    def cache(): this.type = { bands.cache(); payload.cache(); this }
    def unpersist(): Unit = { bands.unpersist(); payload.unpersist() }

    /** Both fragments' tables, unioned (see the class scaladoc). */
    def merge(delta: Index): Index =
      Index(bands.unionByName(delta.bands), payload.unionByName(delta.payload))

    /** Write the index to `path` as parquet, `bands/` + `payload/`,
      * replacing what is there. */
    def save(path: String): Unit = write(path, "overwrite")

    /** Add this index's fragments to a [[save]]d tree: write volume
      * scales with this (batch) index, never with the corpus. [[load]]
      * reads the fragments transparently. */
    def append(path: String): Unit = write(path, "append")

    private def write(path: String, mode: String): Unit = {
      bands.write.mode(mode).parquet(s"$path/bands")
      payload.write.mode(mode).parquet(s"$path/payload")
    }

    /** Re-group a fragmented (merged or appended) index into one row per
      * band key and re-apply `cap` to the COMBINED buckets, after which
      * the index is what a build over the whole corpus gives (up to id
      * order inside a bucket). The regroup is one band-key exchange over
      * the index: an occasional maintenance pass, not part of the
      * per-batch ingest path. */
    def compact(cap: Option[Int]): Index =
      Index(idLists(bands.select(keys.map(col) :+ explode(col("ids")).as("_id"): _*),
        keys, "_id", cap), payload.dropDuplicates())

    /** The distinct (`_in_id`, `_ex_id`) candidate pairs of a probe
      * batch's band rows (the index's key columns plus `inId`): one
      * equi-join on the band key against the bucket table, never an
      * all-pairs compare. The probe must be banded with the build's
      * parameters; band keys are compared verbatim. */
    def candidates(rows: DataFrame, inId: String): DataFrame =
      rows.join(bands, keys)
        .select(col(inId).as("_in_id"), explode(col("ids")).as("_ex_id"))
        .dropDuplicates()
  }

  object Index {
    /** Read a [[Index.save]]d (and possibly appended) index. */
    def load(spark: SparkSession, path: String): Index =
      Index(spark.read.parquet(s"$path/bands"), spark.read.parquet(s"$path/payload"))
  }
}
