package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Deduplication operators for a 100 TB training-data pipeline.
  *
  * All variants follow the same scale shape: per-row signature work is
  * narrow (codegen over the scan), candidate generation happens via an
  * equi-join on a small key (band signature / shingle / bucket) so
  * Spark shuffles only (key, doc_id) pairs — never document text — and
  * verification runs per candidate pair. No driver-side loops, no UDFs.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: groupBy the full text (or its fingerprint at scale,
    * [[exactByFingerprint128]] — shuffling a hash beats shuffling
    * document bodies), keep the smallest id as canonical. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** 120-bit engine-portable fingerprint: both md5 halves of the
    * normalized text (first/second 15 hex chars) as 60-bit longs in a
    * struct — a 16-byte shuffle key with a birthday bound of
    * n²/2^121 ≈ 4e-15 expected collisions even at 10^11 docs, where a
    * 64-bit key's ~270 expected collisions would silently merge
    * distinct documents. DuckDB replays both halves exactly (same
    * md5-hex-prefix construction as [[md5Hash60]]). */
  def fingerprint128(text: Column): Column = {
    val h = md5Fingerprint(text)
    struct(
      conv(substring(h, 1, 15), 16, 10).cast("long").as("f1"),
      conv(substring(h, 17, 15), 16, 10).cast("long").as("f2"))
  }

  /** Exact dedup keyed on the collision-hardened 120-bit md5-pair
    * [[fingerprint128]] — the corpus-scale form of [[exact]]: one
    * hash-keyed groupBy, 16 bytes per row through the exchange instead
    * of the document body. */
  def exactByFingerprint128(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    docs.select(col(idCol), fingerprint128(col(textCol)).as("fp"))
      .groupBy(col("fp.f1").as("f1"), col("fp.f2").as("f2"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------- shingles

  /** w-token shingles (n-grams) of the text, distinct (first-occurrence
    * order). Native single-pass expression; `shinglesHof` below is the
    * semantically-identical column-function form kept as its test
    * oracle. */
  def shingles(text: Column, w: Int = 3): Column =
    org.apache.spark.sql.graftext.VectorExpressions.rollingNgrams(
      TextAnalysis.tokens(text), w)

  /** The interpreted higher-order-function form of `shingles` (test
    * oracle for the native RollingNgrams expression). */
  def shinglesHof(text: Column, w: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (w - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(w)))))
  }

  // ----------------------------------------------------------- minhash/LSH

  /** Per-band LSH signatures on the md5 hash family: one row per
    * (doc, band) with the band's signature slice rendered as a compact
    * string key. This is the EXCHANGEABLE near-dup artifact — for an
    * ingest pipeline, build it once over the corpus and persist it
    * (bucket by (band, s) so the incremental probe join in
    * [[dedupAgainstCorpusNearDupMd5]] is co-located); the text column
    * never leaves the map side. */
  def bandSignaturesMd5(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", k: Int = 16,
                        rowsPerBand: Int = 2, shingleW: Int = 3): DataFrame = {
    val nBands = k / rowsPerBand
    docs.select(col(idCol),
        org.apache.spark.sql.graftext.VectorExpressions.md5MinHash(
          shingles(col(textCol), shingleW), k).as("sig"))
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(nBands - 1)),
          b => concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band", "s")))
  }

  /** MinHash+LSH near-dups on the md5 hash family — the engine-portable
    * construction the DuckDB oracle can replay hash-for-hash (md5 is
    * identical everywhere). One digest per shingle, k hashes by
    * Carter-Wegman double hashing over the two 60-bit md5 halves
    * (native Md5MinHash expression); bands of
    * `rowsPerBand` signature values (r=2 default: a candidate pair must
    * share a FULL band, which keeps the false-candidate rate — and the
    * verify-stage work — bounded as the corpus grows; r=1 degenerates
    * into every pair sharing any single min). Candidates come from
    * grouping band keys and expanding id pairs
    * ([[Banding.pairsFromIdLists]]: the signature pass runs once; a
    * bucket self-join would run it per side); only (key, id) rows
    * shuffle, and the shingles are re-joined per candidate for the
    * exact Jaccard verify, which keeps precision. */
  def minhashNearDupsMd5(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", threshold: Double = 0.7,
                         k: Int = 16, rowsPerBand: Int = 2,
                         shingleW: Int = 3,
                         maxBucketSize: Option[Int] = None): DataFrame = {
    val candidates = Banding.pairsFromIdLists(Banding.idLists(
        bandSignaturesMd5(docs, idCol, textCol, k, rowsPerBand, shingleW),
        Seq("band", "s"), idCol, maxBucketSize))
      .dropDuplicates()
    // deliberately NOT checkpointed: the native shingle recompute for
    // the two verify-side probes is cheaper than materializing
    // corpus-wide string shingle arrays (measured: +0.5s at sf0.1)
    val sh = docs.select(col(idCol), shingles(col(textCol), shingleW).as("sh"))
    candidates
      .join(sh.as("s1"), col("id1") === col(s"s1.$idCol"))
      .join(sh.as("s2"), col("id2") === col(s"s2.$idCol"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("s1.sh"), col("s2.sh"))).as("nc"),
        size(col("s1.sh")).as("n1"), size(col("s2.sh")).as("n2"))
      .withColumn("jaccard", col("nc").cast("double") / (col("n1") + col("n2") - col("nc")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** LSH tuning readout — the knob-turning face of the banded-minhash
    * tier: for the configured (k, rowsPerBand) banding it reports the
    * MEASURED candidate expansion on this corpus (bucket count, max
    * bucket, distinct candidate pairs — the verify-stage bill) next to
    * the textbook S-curve p(s) = 1 − (1 − s^r)^b (MMDS ch.3: the
    * probability a pair at Jaccard similarity s shares ≥ 1 band), on a
    * 19-point s grid, PLUS the measured recall at `refThreshold`: the
    * exact-Jaccard true-pair set of a deterministic `sampleN`-doc
    * sample (md5-ordered take — scale-independent ground-truth cost:
    * sampleN²/2 exact verifications regardless of corpus size) is
    * intersected with the candidate set, so one readout is
    * decision-complete — theoretical knee, actual candidate bill, and
    * how much of the real ≥θ mass this banding actually catches.
    *
    * Determinism: the banding is the md5 family ([[bandSignaturesMd5]]
    * — oracle-replayable hash-for-hash); the curve avoids libm pow
    * (cross-engine last-ulp risk) by expanding the small integer
    * exponents into explicit left-associated multiplication chains,
    * mirrored literally in the oracle; the sample is the first
    * `sampleN` docs in (md5(doc_id), doc_id) order and the true-pair
    * test is the exact integer-shingle Jaccard divide both engines
    * compute identically.
    *
    * Scale shape: one signature pass, one (band, s) exchange; the
    * pair expansion reads the checkpointed bucket table, whose job
    * observes the bucket stats; the s grid is 19 literal rows
    * crossJoined with the 1-row doc count; the recall leg is a
    * TakeOrdered of sampleN rows, one broadcast all-pairs verify over
    * sampleN² (bounded by the parameter, never the corpus), and one
    * left join against the candidate pairs whose job observes both
    * recall counts. */
  def lshTuningCurve(docs: DataFrame, k: Int = 16, rowsPerBand: Int = 2,
                     shingleW: Int = 3, refThreshold: Double = 0.7,
                     sampleN: Int = 200): DataFrame = {
    require(k % rowsPerBand == 0, s"lshTuningCurve: k=$k not divisible by r=$rowsPerBand")
    require(sampleN >= 2 && sampleN <= 10000,
      s"lshTuningCurve: sampleN=$sampleN out of [2, 10000]")
    val nBands = k / rowsPerBand
    def ipow(c: Column, e: Int): Column = Seq.fill(e)(c).reduce(_ * _)
    // each checkpoint's job observes its stats: the bucket table's
    // (read by the pair expansion), the candidate table's (read by the
    // recall join) and the sample pairs' (the recall itself)
    val (grouped, bucketSt) = GraftPins.ck(Banding.idLists(
      bandSignaturesMd5(docs, "doc_id", "text", k, rowsPerBand, shingleW),
      Seq("band", "s"), "doc_id", None))(
      count(lit(1)).as("n_buckets"), max(size(col("ids"))).cast("long").as("max_bucket"))
    val (cand, candSt) = GraftPins.ck(
      Banding.pairsFromIdLists(grouped).dropDuplicates())(
      count(lit(1)).as("n_candidate_pairs"))
    // measured recall at refThreshold on the deterministic sample
    val sample = GraftPins.cut(docs
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(sampleN)
      .select(col("doc_id"), shingles(col("text"), shingleW).as("sh")))
    val truePairs = sample.select(col("doc_id").as("id1"), col("sh").as("_sh1"))
      .crossJoin(broadcast(sample.select(col("doc_id").as("id2"), col("sh").as("_sh2"))))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("_sh1"), col("_sh2"))).as("_nc"),
        size(col("_sh1")).as("_n1"), size(col("_sh2")).as("_n2"))
      .filter(col("_nc").cast("double") /
        (col("_n1") + col("_n2") - col("_nc")) >= refThreshold)
      .select(col("id1"), col("id2"))
    // cand is distinct, so the left join marks each caught pair once
    val (_, recallSt) = GraftPins.ck(truePairs
      .join(cand.withColumn("_caught", lit(1)), Seq("id1", "id2"), "left"))(
      count(lit(1)).as("n_true_pairs"), count(col("_caught")).as("n_true_caught"))
    val spark = docs.sparkSession
    val grid = spark.range(1, 20).select(col("id").cast("int").as("i"))
    GraftPins.withScalars(grid.crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs")))),
        bucketSt, candSt, recallSt)
      .withColumn("recall",
        when(col("n_true_pairs") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_true_caught").cast("double")
            / col("n_true_pairs").cast("double"), 6)))
      .withColumn("_y", lit(1.0) - ipow(col("i").cast("double") / 20.0, rowsPerBand))
      .select(round(col("i").cast("double") / 20.0, 2).as("s"),
        round(lit(1.0) - ipow(col("_y"), nBands), 6).as("p_collide"),
        col("n_docs"), col("n_buckets"), col("max_bucket"),
        col("n_candidate_pairs"), col("n_true_pairs"), col("n_true_caught"),
        col("recall"))
  }

  // -------------------------------------------------------------- simhash

  /** SimHash over an arbitrary per-token hash array: per-token hash →
    * ±1 per bit position → per-position sums via a zip_with fold → sign
    * bits recombined (bit b set iff more tokens have it set than not).
    * Near-dups then differ in few bits (hamming distance). The hash
    * column is pluggable; [[simhashMd5]] is this over [[md5Hash60]]
    * token hashes. */
  def simhashFrom(hashes: Column, bits: Int): Column = {
    val masks = array((0 until bits).map(b => lit(1L << b)): _*)
    val zeros = array((0 until bits).map(_ => lit(0L)): _*)
    val bitSums = aggregate(
      hashes,
      zeros,
      (acc, h) => zip_with(acc, masks,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0L, lit(1L)).otherwise(lit(-1L))))
    // recombine sign bits: bit b of the signature set iff sum_b > 0
    aggregate(
      zip_with(bitSums, masks, (s, m) => when(s > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** 60-bit engine-portable token hash: the first 15 hex chars of
    * md5(token) as a long. Bit-for-bit reproducible in any engine with
    * md5 + hex parsing (the DuckDB oracle replays it exactly). */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Driver-side scalar twin of [[md5Hash60]] (same first-15-hex-chars
    * construction), for probing broadcast/driver-held sketches keyed on
    * the column form's output. */
  def md5Hash60Value(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** 60-bit SimHash of the whitespace tokens on the md5 basis — the
    * oracle-replayable signature the catalog query uses. Native
    * end-to-end (one digest per token + a tight bit-count loop); the
    * column-function equivalent is
    * simhashFrom(transform(tokens, md5Hash60), 60). */
  def simhashMd5(text: Column): Column = {
    val V = org.apache.spark.sql.graftext.VectorExpressions
    V.simhashFrom(V.md5Hashes60(TextAnalysis.tokens(text)), 60)
  }

  /** Duplicate-span detection: for every w-token window (stride 1) of
    * every document, hash the window text ([[md5Hash60]]) and count
    * global occurrences; a window whose hash occurs ≥ 2 times anywhere
    * in the corpus (another doc OR a self-repeat) is a duplicate span.
    * Returns per-doc (n_windows, n_dup, dup_ratio) for docs with ≥ 1
    * duplicate span — the exact-substring-dedup signal (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better") that
    * MinHash's whole-doc granularity misses: boilerplate headers,
    * quoted passages, licence blocks repeated across otherwise-unique
    * docs. Docs shorter than w tokens have no window and never appear.
    *
    * Scale shape: the exchange carries only (8-byte hash, doc_id) —
    * never window text; global counts are one hash-keyed groupBy whose
    * output partitioning is reused by the count-back join; the per-doc
    * rollup is the third and last shuffle. Per-row work is O(tokens·w)
    * md5 (w is a small constant; a rolling hash would be O(tokens) but
    * md5 is the engine-portable choice the oracle can replay — swap in
    * a rolling-hash Expression if profiles ever show window hashing
    * dominating). */
  def dupSpans(docs: DataFrame, w: Int = 16,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w >= 2, s"dupSpans: window must be >= 2 tokens, got $w")
    // materialized once for the same reason as [[removeDupSpans]]: the
    // global-count aggregate and the count-back join would otherwise
    // each re-run the O(tokens·w) md5 window pass (no common-subplan
    // reuse), and the hash-keyed repartition makes the join co-located
    // instead of broadcasting the dup-key table (not small at 100 TB)
    val keys = GraftPins.cut(docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= w)
      .select(col(idCol),
        explode(org.apache.spark.sql.graftext.VectorExpressions
          .md5WindowHashes60(col("_toks"), w)).as("k"))
      .repartition(col("k")))
    val dupKeys = keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("k"), lit(1).as("_dup"))
    keys.join(dupKeys, Seq("k"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"), count(col("_dup")).as("n_dup"))
      .filter(col("n_dup") >= 1)
      .select(col(idCol), col("n_windows"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_windows"), 6).as("dup_ratio"))
  }

  /** Top duplicated substring FAMILIES — the corpus-level diagnostic
    * face of the text-dedup triad ([[dupSpans]] detects per doc,
    * [[removeDupSpans]] rewrites; this names WHAT is duplicated): the
    * most widespread maximal duplicated spans, clustered by exact
    * content, with doc/occurrence counts — the "which license block /
    * boilerplate header is bloating the corpus" readout a curation
    * review acts on.
    *
    * Construction: every w-token window (stride 1) whose hash occurs
    * ≥ 2 times corpus-wide is a duplicated window (the [[dupSpans]]
    * signal); CONSECUTIVE duplicated windows in one doc form a maximal
    * duplicated span (token length = run length + w − 1); a span's
    * family key is md5 of its ordered window-hash sequence — equal
    * keys ⇔ identical token content AND identical maximal extent, so
    * a family is one exact repeated passage. Ranked by reach
    * (n_docs DESC), then span length, then key (a total order — both
    * engines pick the same top-k).
    *
    * Scale shape: the window table is built, hashed, repartitioned and
    * checkpointed exactly as [[removeDupSpans]] (exchanges carry
    * (8B hash, id, int) — never text); the dup filter is a co-located
    * semi join on that partitioning; the run-splitting window function
    * is PARTITIONED by doc (islands: j − row_number), so its exchange
    * carries only the filtered duplicated windows; families roll up
    * map-side-combined on the 16-byte key; the final top-k is a
    * TakeOrderedAndProject. No data-sized collect, no text past the
    * tokenizer.
    *
    * Output: `family_fp` (hex md5), `span_tokens`, `n_docs`,
    * `n_spans`, `example_doc` (smallest doc id carrying the span). */
  def dupSpanFamilies(docs: DataFrame, w: Int = 16, topK: Int = 20,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w >= 2, s"dupSpanFamilies: window must be >= 2 tokens, got $w")
    require(topK >= 1, s"dupSpanFamilies: topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val wins = GraftPins.cut(docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= w)
      .select(col(idCol),
        posexplode(org.apache.spark.sql.graftext.VectorExpressions
          .md5WindowHashes60(col("_toks"), w)).as(Seq("j", "k")))
      .repartition(col("k")))
    val dupKeys = wins.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("k"))
    val runs = wins.join(dupKeys, Seq("k"), "left_semi")
      .withColumn("_run", col("j") -
        row_number().over(Window.partitionBy(col(idCol)).orderBy(col("j"))))
      .groupBy(col(idCol), col("_run"))
      .agg(count(lit(1)).as("_nw"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(struct(col("j"), col("k")))),
            s => s.getField("k").cast("string"))).cast("binary")).as("family_fp"))
    runs
      .select(col(idCol), col("family_fp"),
        (col("_nw") + lit(w - 1)).cast("bigint").as("span_tokens"))
      .groupBy(col("family_fp"), col("span_tokens")) // fp ⊇ length: still one family per key
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_spans"),
        min(col(idCol)).as("example_doc"))
      .orderBy(col("n_docs").desc, col("span_tokens").desc, col("family_fp"))
      .limit(topK)
  }

  /** Exact-substring dedup APPLICATION — the removal step [[dupSpans]]
    * only detects (Lee et al. 2022 cut the repeated spans out of the
    * corpus, not just flag them). Deterministic ownership rule: every
    * duplicated window hash is owned by the smallest doc_id containing
    * it; in every OTHER doc, all w tokens covered by that window are
    * removed. The owner keeps its copy (doc granularity — a hash that
    * repeats inside its owner survives there), so one copy of every
    * repeated passage survives corpus-wide. Emits per doc the original
    * and kept token counts plus an md5 fingerprint of the cleaned token
    * stream — the downstream-verifiable contract of the rewrite (the
    * DuckDB oracle reconstructs the cleaned stream independently and
    * must land on the same digest).
    *
    * Scale shape: same hash-keyed shuffles as [[dupSpans]] — the
    * exchange carries (8-byte hash, doc_id, window start), never text;
    * removed-start sets come back as one small int array per AFFECTED
    * doc (bounded by that doc's token count) joined LEFT to the corpus,
    * so untouched docs stream through with a null; the final rewrite is
    * a per-row array filter over (token index, removed starts) — no
    * second explode of the corpus, no window function. */
  def removeDupSpans(docs: DataFrame, w: Int = 16,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(w >= 2, s"removeDupSpans: window must be >= 2 tokens, got $w")
    val base = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
    // Materialize the window table ONCE: both consumers (the ownership
    // aggregate and the count-back join's probe side) would otherwise
    // re-explode and re-hash the corpus — the O(tokens·w) md5 pass is
    // the operator's dominant per-row cost and Catalyst gives these two
    // shapes no common-subplan reuse (measured: 2 Generate subtrees,
    // ReuseExchange never fires even with an explicit shared
    // repartition). localCheckpoint stores (id, j, 8-byte hash) rows —
    // the same volume the shuffle already carries — and is the house
    // pattern for reuse-across-jobs (see dedupClusters' CC rounds). The
    // hash-keyed repartition also makes the count-back join co-located
    // by partitioning instead of broadcasting the duplicated-window
    // table, which at 100 TB is NOT small (billions of repeated spans).
    val wins = GraftPins.cut(base.filter(size(col("_toks")) >= w)
      .select(col(idCol),
        posexplode(org.apache.spark.sql.graftext.VectorExpressions
          .md5WindowHashes60(col("_toks"), w)).as(Seq("j", "k")))
      .repartition(col("k")))
    val owners = wins.groupBy(col("k"))
      .agg(count(lit(1)).as("c"), min(col(idCol)).as("_owner"))
      .filter(col("c") >= 2).select(col("k"), col("_owner"))
    val removed = wins.join(owners, Seq("k"))
      .filter(col(idCol) =!= col("_owner"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("j"))).as("_rem"))
    base.join(removed, Seq(idCol), "left")
      .select(col(idCol), col("_toks"),
        coalesce(col("_rem"), array().cast("array<int>")).as("_rem"))
      .select(col(idCol), size(col("_toks")).cast("long").as("n_toks"),
        filter(col("_toks"), (t, i) =>
          !exists(col("_rem"), p => p <= i && p >= i - (w - 1))).as("_kept"))
      .select(col(idCol), col("n_toks"), size(col("_kept")).cast("long").as("n_kept"),
        md5(array_join(col("_kept"), " ").cast("binary")).as("clean_fp"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
    * — the MOSS algorithm): hash every k-token gram, slide a window of
    * `w` consecutive gram hashes, keep each window's MINIMUM, emit the
    * distinct selected hashes as the doc's fingerprint set. The paper's
    * guarantee: any shared run of ≥ w + k − 1 tokens between two docs
    * surfaces as a shared fingerprint, while storage is ~2/(w+1) of the
    * gram count — the storage/recall dial between [[dupSpans]] (every
    * window) and a single whole-doc fingerprint. Docs shorter than one
    * gram/window degrade gracefully (their shorter tail slices still
    * hash). Returns exploded (id, fp) rows — groupable, joinable,
    * indexable like any fingerprint table.
    *
    * Scale shape: fingerprint selection is one narrow per-row pass
    * (array ops over the token list — nothing shuffles until the
    * explode, which emits ~2/(w+1)·grams 8-byte rows); md5-60 gram
    * hashes keep it engine-portable (the oracle replays the selection
    * verbatim; swap the rolling-hash native kernel for the hash step if
    * profiles demand — see TextAnalysis.rollingFingerprints). */
  /** Evaluate `e` ONCE per row and hand it to `f` as a lambda-bound
    * variable. Writing the intermediate as a projected alias does NOT
    * give this guarantee: CollapseProject inlines single-use aliases
    * into the consumer, and when the consumer is a per-element lambda
    * the inlined expression re-executes per ELEMENT — winnowing's gram
    * array rebuilt (with all its md5s) per window turned an O(n·w) row
    * into O(n²·k) and measured 200s at sf0.1. A lambda variable is a
    * true let-binding the optimizer cannot inline through. */
  private def bound(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  def winnowFingerprints(docs: DataFrame, k: Int = 4, w: Int = 4,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints: k and w must be >= 1, got k=$k w=$w")
    val fps = bound(org.apache.spark.sql.graftext.VectorExpressions
        .md5WindowHashes60(TextAnalysis.tokens(col(textCol)), k)) { g =>
      array_distinct(transform(
        sequence(lit(1), greatest(size(g) - (w - 1), lit(1))),
        j => array_min(slice(g, j, lit(w)))))
    }
    docs.select(col(idCol), explode(fps).as("fp"))
  }

  /** Incremental (cross-corpus) dedup: drop incoming docs whose
    * fingerprint already exists in the corpus — the daily-ingest shape.
    * The existing side reduces to a distinct fingerprint set before the
    * anti-join (at 100 TB that set is a materialized/bucketed table or
    * bloom filter, not a re-scan), so the shuffle carries fingerprint
    * keys only, never text. `fp` defaults to the 120-bit md5-pair
    * [[fingerprint128]] — engine-portable AND collision-safe at the
    * 10^11-doc design point where a 64-bit key expects ~270 collisions
    * (each one silently DROPPING a genuinely new document here); pass
    * `TextAnalysis.fingerprint` for the cheapest in-engine 64-bit key
    * when the corpus is small enough to tolerate it. */
  def dedupAgainstCorpus(incoming: DataFrame, existing: DataFrame,
                         textCol: String = "text",
                         fp: Column => Column = fingerprint128): DataFrame = {
    val seen = existing.select(fp(col(textCol)).as("_fp")).distinct()
    incoming.join(seen, fp(col(textCol)) === col("_fp"), "left_anti")
  }

  /** Engine-portable fingerprint: md5 of the normalized text (the
    * oracle-checkable twin of TextAnalysis.fingerprint). */
  def md5Fingerprint(text: Column): Column =
    md5(org.apache.spark.sql.graftext.VectorExpressions.normalizeWs(text)
      .cast("binary"))

  /** [[dedupAgainstCorpus]] with a bloom-filter pre-filter — the shape
    * a DAILY ingest against a 100 TB corpus actually runs. The corpus
    * fingerprints fold once into a bloom filter (~1.2 GB at 10⁹
    * distinct fingerprints and 1% fpp — rebuilt only when the corpus
    * grows) shipped to executors by TORRENT BROADCAST, never as a plan
    * literal: Spark caps plan-embedded blooms at ~8 MB because the
    * serialized plan travels with every task, and the broadcast
    * transport is what makes the 10⁹ design point runnable. The ingest
    * then splits NARROWLY: rows failing might_contain are DEFINITELY
    * new (bloom filters have no false negatives) and skip the join
    * entirely, so the expensive anti-join shuffle processes only
    * fpp·|new| + |true dups| rows instead of the whole ingest — for a
    * mostly-new ingest, ~1% of it. False positives are resolved by the
    * exact anti-join on the full fingerprint, so the result is
    * ROW-IDENTICAL to [[dedupAgainstCorpus]] on any input (the oracle
    * replays the plain anti-join).
    *
    * Sketch build cost: ONE narrow pass over `existing` — per-partition
    * local filters merged with a CUSTOM `treeReduce` at the RDD layer
    * (this file, below — the single source of the build story). Not
    * catalyst's `bloom_filter_agg`: that lands its result in a plan
    * literal and is hard-capped at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (4M) /
    * `maxNumBits` (8 MB) — the very coupling this operator exists to
    * avoid. Not `Dataset.stat.bloomFilter` either: it is an uncapped
    * RDD-layer aggregate too, but sizes the filter only from its own
    * arguments and hands back a driver-held object — the custom
    * treeReduce lets this operator size from `expectedItems`, create
    * the zero filter executor-side (never a closure-captured zero
    * value), and keep the one-job guarantee DedupSpec pins. No distinct
    * shuffle either: bloom insertion is idempotent, so duplicates cost
    * nothing and the filter is sized from an item-count UPPER bound,
    * which only lowers the realized fpp. Pass `expectedItems` (≥ the
    * corpus's distinct-fingerprint count; any deployment tracks this)
    * to skip even the sizing count — at 100 TB the count job, though
    * metadata-only for parquet sources, is still a job. Past
    * `maxBloomBytes` (default 2 GiB) the build fails LOUDLY, pointing
    * at [[dedupAgainstCorpusBloomSharded]] (one under-budget sketch per
    * fingerprint shard) rather than silently building a filter the
    * executors can't hold.
    *
    * Broadcast lifetime: the shipped sketch lives until Spark's
    * GC-driven ContextCleaner collects the handle. A long-lived
    * application running many ingest batches against large sketches
    * should use [[dedupAgainstCorpusBloomWithHandle]] and `destroy()`
    * the handle once the result DataFrame is fully consumed.
    */
  def dedupAgainstCorpusBloom(incoming: DataFrame, existing: DataFrame,
                              textCol: String = "text",
                              fp: Column => Column = fingerprint128,
                              fpp: Double = 0.01,
                              expectedItems: Long = 0L,
                              maxBloomBytes: Long = 2L << 30): DataFrame =
    dedupAgainstCorpusBloomWithHandle(incoming, existing, textCol, fp, fpp,
      expectedItems, maxBloomBytes)._1

  /** [[dedupAgainstCorpusBloom]] exposing the sketch's Broadcast handle:
    * callers running many ingest batches in one long-lived application
    * should `handle.destroy()` after the result DataFrame is fully
    * consumed — otherwise each batch's sketch (up to `maxBloomBytes`)
    * stays resident until the GC-driven ContextCleaner collects it. */
  def dedupAgainstCorpusBloomWithHandle(incoming: DataFrame, existing: DataFrame,
                                        textCol: String = "text",
                                        fp: Column => Column = fingerprint128,
                                        fpp: Double = 0.01,
                                        expectedItems: Long = 0L,
                                        maxBloomBytes: Long = 2L << 30)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]) = {
    val V = org.apache.spark.sql.graftext.VectorExpressions
    // bloom keys are the xxhash64 of the fingerprint (the sketch wants
    // a long); exactness does not depend on this hash — every corpus
    // fingerprint is inserted through the same mapping, so a
    // might_contain MISS still proves the fingerprint is new
    val keys = existing.select(xxhash64(fp(col(textCol))).as("_k"))
    val n = math.max(
      if (expectedItems > 0) expectedItems else keys.count(), 1L)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    require(numBits / 8 <= maxBloomBytes,
      s"dedupAgainstCorpusBloom: ~$n items at fpp=$fpp needs a ${numBits / 8 >> 20} MiB " +
        s"sketch, past maxBloomBytes=${maxBloomBytes >> 20} MiB. Use " +
        "dedupAgainstCorpusBloomSharded(nShards) (one under-budget sketch per " +
        "fingerprint shard) or the plain dedupAgainstCorpus anti-join.")
    // per-partition local filters (created executor-side from the two
    // longs, never shipped as a closure zero-value) merged pairwise —
    // one job, bounded intermediates, works on an empty corpus
    val partials = keys.queryExecution.toRdd.mapPartitions { it =>
      val f = org.apache.spark.util.sketch.BloomFilter.create(n, numBits)
      it.foreach(r => f.putLong(r.getLong(0)))
      Iterator(f)
    }
    val filter = try partials.treeReduce((a, b) => a.mergeInPlace(b))
      catch { // zero-partition RDD (e.g. a literally empty relation)
        case _: UnsupportedOperationException =>
          org.apache.spark.util.sketch.BloomFilter.create(n, numBits)
      }
    val bloom = incoming.sparkSession.sparkContext.broadcast(filter)
    val hit = V.bloomMightContainBcast(bloom, xxhash64(fp(col(textCol))))
    val seen = existing.select(fp(col(textCol)).as("_fp")).distinct()
    val definitelyNew = incoming.filter(!hit)
    val resolved = incoming.filter(hit)
      .join(seen, fp(col(textCol)) === col("_fp"), "left_anti")
    (definitelyNew.unionByName(resolved), bloom)
  }

  /** The sharded-sketch path [[dedupAgainstCorpusBloom]]'s budget error
    * points at: the corpus's fingerprint space splits into `nShards`
    * deterministic shards (`pmod(xxhash64(fp), nShards)` — a prefix of
    * the same key the sketch hashes), each shard folds into its OWN
    * bloom filter under `maxBloomBytes`, and each ingest row probes
    * exactly its shard's sketch. Row-identical to
    * [[dedupAgainstCorpus]] on any input, like the unsharded path: the
    * per-shard split is a partition of both sides on the same key, so
    * every (incoming, existing) fingerprint collision still meets in
    * exactly one shard, and per-shard false positives still resolve
    * through the exact anti-join.
    *
    * What sharding buys at the 10¹⁰⁺-fingerprint design point where
    * ONE sketch would blow the byte budget: each build job, broadcast
    * object, and rebuild-on-growth unit is a shard (an ingest that only
    * touches some shards re-folds only those), and single-object
    * serialization limits never bind. Total resident sketch bytes
    * across executors are unchanged (total bits depend on n and fpp,
    * not the shard count) — size executors for Σ shards, or consume
    * shard results incrementally with [[dedupAgainstCorpusBloomWithHandle]]
    * per shard and destroy each handle before the next.
    *
    * Build cost is one narrow pass over `existing` PER SHARD (nShards
    * jobs); the scan prunes nothing — at scale, store the corpus
    * partitioned by the shard key so each pass reads one partition. */
  def dedupAgainstCorpusBloomSharded(incoming: DataFrame, existing: DataFrame,
                                     nShards: Int,
                                     textCol: String = "text",
                                     fp: Column => Column = fingerprint128,
                                     fpp: Double = 0.01,
                                     expectedItemsPerShard: Long = 0L,
                                     maxBloomBytes: Long = 2L << 30): DataFrame =
    dedupAgainstCorpusBloomShardedWithHandles(incoming, existing, nShards,
      textCol, fp, fpp, expectedItemsPerShard, maxBloomBytes)._1

  /** [[dedupAgainstCorpusBloomSharded]] exposing every shard sketch's
    * Broadcast handle — the per-batch lifecycle contract of
    * [[dedupAgainstCorpusBloomWithHandle]], extended to the sharded
    * path: destroy all nShards handles once the result is consumed. */
  def dedupAgainstCorpusBloomShardedWithHandles(incoming: DataFrame, existing: DataFrame,
                                                nShards: Int,
                                                textCol: String = "text",
                                                fp: Column => Column = fingerprint128,
                                                fpp: Double = 0.01,
                                                expectedItemsPerShard: Long = 0L,
                                                maxBloomBytes: Long = 2L << 30)
      : (DataFrame, Seq[org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]]) = {
    require(nShards >= 1, s"dedupAgainstCorpusBloomSharded: nShards must be >= 1, got $nShards")
    def shardOf(c: Column): Column =
      pmod(xxhash64(fp(c)), lit(nShards.toLong))
    val parts = (0 until nShards).map { s =>
      dedupAgainstCorpusBloomWithHandle(
        incoming.filter(shardOf(incoming(textCol)) === s.toLong),
        existing.filter(shardOf(existing(textCol)) === s.toLong),
        textCol, fp, fpp, expectedItemsPerShard, maxBloomBytes)
    }
    (parts.map(_._1).reduce(_ unionByName _), parts.map(_._2))
  }

  /** Incremental NEAR-dup dedup: drop incoming docs whose Jaccard
    * similarity to ANY existing-corpus doc reaches `threshold` — the
    * MinHash/LSH twin of [[dedupAgainstCorpus]] (which only catches
    * exact-normalized-text twins). A daily ingest composes both: exact
    * anti-join first (cheap), then this for the reworded/near-copy tail.
    *
    * Shape: both sides map to per-band signature keys
    * ([[bandSignaturesMd5]] — narrow, text never shuffles), the corpus
    * side pre-groups ids per (band, s) key, and candidates come from
    * ONE equi-join of incoming band rows against those groups — never
    * an all-pairs compare. Exact Jaccard verification per candidate
    * keeps precision (LSH alone admits false candidates); only verified
    * matches suppress an incoming row, via left_anti on the id.
    *
    * At the 100 TB design point the corpus group table is built ONCE
    * and persisted bucketed by (band, s) (see [[bandSignaturesMd5]]),
    * so an ingest batch costs: narrow signature pass over the batch +
    * one co-located probe join + per-candidate verify joins — the
    * near-dup analogue of the persisted-IVF probe path. `maxBucketSize`
    * drops degenerate corpus buckets (a bucket of f docs fans every
    * colliding incoming row out f ways), same escape hatch as
    * [[minhashNearDupsMd5]]; None keeps it exact.
    *
    * Incoming docs that are near-dups of EACH OTHER but not of the
    * corpus all survive (same contract as the exact incremental
    * family); run [[minhashNearDupsMd5]] + [[dedupClusters]] within the
    * batch first when that matters. */
  def dedupAgainstCorpusNearDupMd5(incoming: DataFrame, existing: DataFrame,
                                   idCol: String = "doc_id",
                                   textCol: String = "text",
                                   threshold: Double = 0.7, k: Int = 16,
                                   rowsPerBand: Int = 2, shingleW: Int = 3,
                                   maxBucketSize: Option[Int] = None): DataFrame =
    dedupAgainstCorpusNearDupIndexed(incoming,
      nearDupIndex(existing, idCol, textCol, k, rowsPerBand, shingleW, maxBucketSize),
      idCol, textCol, threshold, k, rowsPerBand, shingleW)

  /** The reusable corpus half of [[dedupAgainstCorpusNearDupMd5]] as a
    * [[Banding.Index]]: per-(band, s) id groups, buckets over
    * `maxBucketSize` dropped, and the per-doc shingle sets (`_ex_id`,
    * `_sh2`) as its payload. Build ONCE, persist or cache, and probe
    * with every ingest batch; a batch merged in or appended is this
    * index over the batch. */
  def nearDupIndex(existing: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", k: Int = 16,
                   rowsPerBand: Int = 2, shingleW: Int = 3,
                   maxBucketSize: Option[Int] = None): Banding.Index =
    Banding.Index(Banding.idLists(
        bandSignaturesMd5(existing, idCol, textCol, k, rowsPerBand, shingleW),
        Seq("band", "s"), idCol, maxBucketSize),
      existing.select(col(idCol).as("_ex_id"), shingles(col(textCol), shingleW).as("_sh2")))

  /** [[dedupAgainstCorpusNearDupMd5]] against a prebuilt
    * [[nearDupIndex]]. `k`/`rowsPerBand`/`shingleW` must match the
    * index's build parameters (band keys are compared verbatim). */
  def dedupAgainstCorpusNearDupIndexed(incoming: DataFrame, index: Banding.Index,
                                       idCol: String = "doc_id",
                                       textCol: String = "text",
                                       threshold: Double = 0.7, k: Int = 16,
                                       rowsPerBand: Int = 2,
                                       shingleW: Int = 3): DataFrame = {
    val candidates = index.candidates(
      bandSignaturesMd5(incoming, idCol, textCol, k, rowsPerBand, shingleW), idCol)
    val shIn = incoming.select(col(idCol).as("_in_id"),
      shingles(col(textCol), shingleW).as("_sh1"))
    val matched = candidates
      .join(shIn, "_in_id").join(index.payload, "_ex_id")
      .select(col("_in_id"),
        size(array_intersect(col("_sh1"), col("_sh2"))).as("_nc"),
        size(col("_sh1")).as("_n1"), size(col("_sh2")).as("_n2"))
      .filter(col("_nc").cast("double") / (col("_n1") + col("_n2") - col("_nc")) >= threshold)
      .select(col("_in_id")).distinct()
    incoming.join(matched, incoming(idCol) === col("_in_id"), "left_anti")
  }

  // ---------------------------------------------------------- clustering

  /** Connected components over near-dup pairs: every doc in a duplicate
    * cluster gets the cluster's minimum doc id as `cluster_id` — the
    * step that turns pairwise similarity into keep/drop decisions (keep
    * the canonical member, drop the rest).
    *
    * Min-label propagation with pointer jumping: each round takes the
    * minimum label across the symmetrized edges (one hop) AND follows
    * the label's own label (label(label(id)) — pointer doubling), so a
    * component of diameter D converges in O(log D) rounds instead of
    * O(D); `maxIter` bounds the pathological case. Each round is two
    * joins + a groupBy, all shuffling on the id key only; checkpointing
    * truncates the growing lineage so round N doesn't re-execute rounds
    * 1..N-1. The driver loop iterates ROUNDS (the standard
    * Pregel/large-star shape), never rows.
    *
    * `reliableCheckpoints = true` switches from `localCheckpoint`
    * (blocks pinned in executor memory, LOST on executor death — fine
    * locally and for short runs) to reliable `checkpoint` into
    * `sc.setCheckpointDir` (HDFS/object store), which a long CC run
    * over 10¹⁰ edges on a real cluster wants: an executor loss then
    * costs re-reading a file, not recomputing every round since the
    * start. The convergence test rides the SAME job as each round's
    * materialization (the changed-label count is observed by the
    * checkpoint write, [[org.apache.spark.sql.graftext.GraftPins.ck]]),
    * so no round schedules a convergence job of its own.
    */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 20,
                    reliableCheckpoints: Boolean = false): DataFrame = {
    // materialize the (possibly expensive) pair source ONCE — ids,
    // self-loops, and every round's join all read this leaf instead of
    // re-executing the candidate-generation pipeline
    val sym = GraftPins.ck(pairs.select(col("id1"), col("id2"))
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2"))),
      reliable = reliableCheckpoints)()._1
    val ids = sym.select(col("id1").as("id")).distinct()
    // self-loops make "min over neighbors" include the node's own label,
    // so each round is ONE join + ONE groupBy — no union in the loop
    val edges = sym
      .union(ids.select(col("id").as("id1"), col("id").as("id2")))
    var labels = GraftPins.ck(ids.withColumn("cluster_id", col("id")),
      reliable = reliableCheckpoints)()._1
    var converged = false
    var i = 0
    // ONE materialization per round: the hop + pointer-jump + previous
    // label are one plan, and the changed-label count is observed while
    // the eager checkpoint materializes that plan — no separate
    // convergence job
    while (!converged && i < maxIter) {
      val hop = edges.join(labels, edges("id1") === labels("id"))
        .select(col("id2"), col("cluster_id"))
        .groupBy(col("id2")).agg(min(col("cluster_id")).as("cluster_id"))
        .select(col("id2").as("id"), col("cluster_id"))
      val jumped = hop.as("a")
        .join(hop.as("b"), col("a.cluster_id") === col("b.id"), "left")
        .select(col("a.id").as("id"),
          least(col("a.cluster_id"),
            coalesce(col("b.cluster_id"), col("a.cluster_id"))).as("cluster_id"))
      val tagged = jumped
        .join(labels.withColumnRenamed("cluster_id", "prev"), "id")
      val (next, m) = GraftPins.ck(tagged, reliable = reliableCheckpoints)(
        count(when(!(col("cluster_id") <=> col("prev")), 1)).as("changed"))
      converged = m.getLong(0) == 0L
      labels = next.select(col("id"), col("cluster_id"))
      i += 1
    }
    // Partially-propagated labels would silently split one duplicate
    // cluster into several — downstream dedup then KEEPS duplicates.
    // Fail loudly instead; the caller raises maxIter (log₂(diameter)
    // rounds suffice, so 20 covers any realistic component).
    if (!converged) throw new IllegalStateException(
      s"dedupClusters did not converge within $maxIter rounds; raise maxIter")
    labels.select(col("cluster_id"), col("id").as("doc_id"))
  }

  /** Canonical-document selection per duplicate cluster — the step that
    * turns [[dedupClusters]] labels into keep/drop decisions. Every doc
    * joins its cluster label (docs with no near-dup are their own
    * singleton cluster), then each cluster keeps its best-scoring
    * member: max (`score`, then SMALLEST doc id on ties). The default
    * score is `octet_length(text)` — UTF-8 byte length, exactly equal
    * in any engine — i.e. "keep the longest copy", the usual near-dup
    * policy (truncated mirrors lose to the full page).
    *
    * Scale shape: one equi-join on the doc id plus ONE aggregation
    * whose per-cluster state is a constant-size (score, negid) struct —
    * partial map-side combine, no window, no per-cluster sort. A
    * window-rank formulation would put each cluster through one task
    * (harmless here, a straggler for the degenerate giant cluster);
    * the max-struct aggregation cannot straggle.
    *
    * REQUIRES a signed-integral `idCol` with values > Long.MinValue:
    * the smallest-id-on-ties encoding is max(struct(score, -id)), and
    * negation is the order inversion only for signed numerics (it fails
    * analysis for string ids and overflows for Long.MinValue itself —
    * which no real id space emits). The id type is checked eagerly so a
    * string-keyed corpus fails with this message, not an analysis
    * error deep in the plan. */
  def clusterRepresentatives(docs: DataFrame, clusters: DataFrame,
                             idCol: String = "doc_id",
                             score: Column = octet_length(col("text"))): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"clusterRepresentatives: idCol '$idCol' must be a signed integral type " +
        s"(the tie-break negates it to invert its order), got $idType; " +
        "map string/unsigned ids to longs first")
    val labeled = docs
      .select(col(idCol), score.cast("bigint").as("_score"))
      .join(clusters.select(col("cluster_id"), col("doc_id").as(idCol)),
        Seq(idCol), "left")
      .select(coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        col(idCol), col("_score"))
    // argmax by (score asc-in-max, -id): struct max is lexicographic, so
    // the winner has the highest score and, among ties, the smallest id
    labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("_score"), (-col(idCol)).as("_negid"))).as("_m"))
      .select(col("cluster_id"), (-col("_m._negid")).as("keep_id"),
        col("_m._score").as("keep_score"), col("n_members"))
  }

  /** The final dedup step: keep only each cluster's representative.
    * A LEFT SEMI join against the keeper ids — at scale both sides
    * shuffle on the doc id (or the keeper set broadcasts when small);
    * no row of text moves unless it survives. */
  def applyDedup(docs: DataFrame, reps: DataFrame,
                 idCol: String = "doc_id"): DataFrame =
    docs.join(reps.select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")

  // ------------------------------------------------------- ngram jaccard

  /** Exact n-gram Jaccard near-dup pairs: candidates = docs sharing at
    * least one shingle (group by shingle, expand id pairs — shingles
    * the corpus once; a shingle self-join would do it once per side),
    * verified with exact set arithmetic. Oracle-friendly (the md5
    * shingle key replays in SQL).
    *
    * `maxShingleDocFreq`: a shingle present in f docs expands to f²/2
    * pairs inside one task, so a stop-word shingle at corpus scale is
    * both a skew and a memory hazard. Setting a cap drops shingles
    * with doc-frequency above it (CCNet-style frequency pruning) —
    * near-dup recall is unaffected in practice because near-dup pairs
    * share many rarer shingles too, but the result is then a lower
    * bound on n_common; None keeps the operator exact. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", threshold: Double = 0.05,
                        shingleW: Int = 3,
                        maxShingleDocFreq: Option[Int] = None): DataFrame = {
    commonShinglePairs(docs, idCol, textCol, shingleW, maxShingleDocFreq)
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("n_common"), col("jaccard"))
  }

  /** Near-containment pairs: |A∩B| / min(|A|, |B|) ≥ threshold — the
    * asymmetric twin of Jaccard that catches a short document embedded
    * in a long one (quoted articles, mirror pages with added chrome),
    * where Jaccard stays low because the union is dominated by the big
    * doc. Same candidate machinery and skew cap as ngramJaccardPairs;
    * same scale shape. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", threshold: Double = 0.8,
                       shingleW: Int = 3,
                       maxShingleDocFreq: Option[Int] = None): DataFrame =
    commonShinglePairs(docs, idCol, textCol, shingleW, maxShingleDocFreq)
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("n_common"), col("containment"))

  /** Candidate (id1 < id2) pairs sharing ≥1 distinct shingle, with the
    * shared-shingle count and both docs' distinct-shingle sizes.
    * Group-by-shingle + streamed pair expansion: the corpus is shingled
    * once for the pair stream (plus one cheap narrow pass for the
    * per-doc set sizes); the only wide ops are the two groupBys and the
    * final small joins. `maxShingleDocFreq` is the skew escape hatch —
    * a stop-shingle shared by half the corpus would otherwise expand
    * n²/2 candidate pairs.
    *
    * The dictionary key is the 60-bit md5 of the shingle, NOT the
    * shingle text: the doc-frequency groupBy is the widest exchange of
    * this family, and hashing shrinks its key from a w-token string
    * (~20-40 bytes + comparison cost) to an 8-byte long. Set
    * arithmetic then runs over the hashed shingle universe (two
    * shingles colliding in 60 bits would count as one — ~n²/2⁶¹
    * expected, zero in practice, and the md5 construction replays
    * exactly in the SQL oracle). */
  private def commonShinglePairs(docs: DataFrame, idCol: String, textCol: String,
                                 shingleW: Int,
                                 maxShingleDocFreq: Option[Int]): DataFrame = {
    val keyed = array_distinct(org.apache.spark.sql.graftext.VectorExpressions
      .md5Hashes60(shingles(col(textCol), shingleW)))
    val sizes = docs.select(col(idCol), size(keyed).as("n"))
    Banding.pairsFromIdLists(Banding.idLists(docs.select(col(idCol), explode(keyed).as("g")),
        Seq("g"), idCol, maxShingleDocFreq))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed(idCol, "id1").withColumnRenamed("n", "n1"), "id1")
      .join(sizes.withColumnRenamed(idCol, "id2").withColumnRenamed("n", "n2"), "id2")
  }

  /** Cross-source shared-content matrix — the provenance governance
    * readout: for every unordered source pair, how much content they
    * share, keyed by each document's MIN-SHINGLE CONTENT ANCHOR (the
    * winnowing-style anchor of the fingerprint family: two documents
    * sharing their minimum shingle fingerprint share at least one
    * w-token window verbatim — boilerplate, syndication, or scraping
    * overlap that exact-hash dedup misses). Answers "which sources
    * copy from which" before a mixing decision double-counts them.
    *
    * Scale shape: one tokenize pass to the anchor (the min reduces
    * in-row — no shingle explode), counts per (anchor, source) with
    * map-side combine, the count table checkpointed ONCE for both
    * sides of the anchor-keyed self-join (count-table-sized, never
    * corpus-sized — the [[graft.ops.Skew.joinSizeEstimate]] shape).
    * Every exchanged key is the 60-bit md5 long of the anchor — the
    * no-text-in-exchange discipline.
    *
    * Output: `source_a` < `source_b`, `n_shared_anchors` (distinct
    * shared content anchors), `n_doc_pairs` (Σ cₐ·c_b document
    * pairs). */
  def crossSourceSharing(docs: DataFrame, textCol: String = "text",
                         srcCol: String = "source"): DataFrame = {
    val anchor = conv(substring(org.apache.spark.sql.graftext.VectorExpressions
      .md5Min(shingles(col(textCol))), 1, 15), 16, 10).cast("long")
    val counts = GraftPins.cut(docs
      .select(anchor.as("anchor"), col(srcCol).as("src"))
      .groupBy(col("anchor"), col("src")).agg(count(lit(1)).as("c")))
    val l = counts.select(col("anchor"), col("src").as("source_a"), col("c").as("ca"))
    val r = counts.select(col("anchor"), col("src").as("source_b"), col("c").as("cb"))
    l.join(r, "anchor").filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_anchors"),
        sum(col("ca") * col("cb")).cast("bigint").as("n_doc_pairs"))
  }
}
