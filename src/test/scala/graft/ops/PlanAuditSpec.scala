package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Physical-plan audits: the scale-critical plan properties (pushdown,
  * pruning, broadcast choice, no cartesian products) asserted as tests,
  * so a refactor that silently loses one fails CI instead of surfacing
  * in a 100 TB run. Plans are built against the sf0.001 data.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1_agg: filter pushed to the parquet scan, schema pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p.contains("PushedFilters: [LessThanOrEqual(l_shipdate"), p)
    // only the 7 needed columns read, not all 11
    assert(!p.contains("l_orderkey"), "q1 must not read join keys it doesn't use")
  }

  test("p3_filter_isin: IN-list pushed to the scan") {
    val p = plan("p3_filter_isin")
    assert(p.contains("PushedFilters") && p.contains("In("), p)
  }

  test("q3_join_agg: dimension joins broadcast, no sort-merge") {
    val p = plan("q3_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "small dims must broadcast:\n" + p)
  }

  test("q5_multi_join: all five joins broadcast at this dim scale") {
    val p = plan("q5_multi_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j1_u4_a1_enrich: category enrichment is a broadcast join") {
    val p = plan("j1_u4_a1_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("a4_orderby_limit: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("a4_orderby_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x_knn_cosine: query vector broadcast; scan side stays narrow") {
    val p = plan("x_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-k before the rank window:\n" + p)
  }

  test("x_cosine_neardups: banded-LSH default has no cartesian product in the plan") {
    val p = plan("x_cosine_neardups")
    assert(!p.contains("CartesianProduct"),
      "near-dup catalog entry must use the LSH prefilter, not an O(n²) cross join:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be an equi-join on (band, bucket):\n" + p)
  }

  test("x_fuzzy_join: delete-variant equi-join, never the quadratic theta join") {
    val p = plan("x_fuzzy_join")
    assert(!p.contains("CartesianProduct"),
      "edit-distance join must block on delete variants, not cross-join:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_scd2_merge: one key join and a struct explode — no window, no sort") {
    val p = plan("x_scd2_merge")
    assert(!p.contains("Window"),
      "SCD2 merge must not rank per key — the join + explode is the whole plan:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), "the per-row struct explode:\n" + p)
  }

  test("x_contamination: benchmark shingles broadcast; corpus side never shuffles text") {
    val p = plan("x_contamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "benchmark shingle set must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_corpus_mix and x_tfidf: dictionary/count sides broadcast, no cartesian") {
    for (name <- Seq("x_corpus_mix", "x_tfidf")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(p.contains("BroadcastExchange"), s"$name must broadcast its tiny side:\n$p")
    }
  }

  test("x_line_dedup: no cartesian; line dictionary joins on the hash key") {
    val p = plan("x_line_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "frequency join must be an equi-join on the line hash:\n" + p)
  }

  test("x_source_cap: rank window sorts only the draw-prefiltered candidates") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = graft.SparkEntry.queries("x_source_cap")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: logical.Window => w }
    assert(wins.nonEmpty, "expected the per-source rank window")
    wins.foreach { w =>
      val preFiltered = w.child.collectFirst {
        case f: logical.Filter if f.condition.toString.contains("_thr") => f
      }.isDefined
      assert(preFiltered,
        "the window must rank only rows below the per-source draw threshold — " +
          "an unfiltered per-source window sorts a head domain through one task:\n" + w)
    }
    val p = plan("x_source_cap")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the per-source thresholds must broadcast:\n" + p)
  }

  test("x_dedup_incremental_bloom: bloom prefilter guards the anti-join") {
    val p = plan("x_dedup_incremental_bloom")
    assert(p.contains("might_contain"),
      "ingest rows must split on the bloom before the join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_dedup_incremental_bloom: sketch ships by broadcast, never as a plan literal") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftext.BloomMightContainBcast
    import org.apache.spark.sql.types.BinaryType
    val qe = SparkEntry.queries("x_dedup_incremental_bloom")(spark, sf).queryExecution
    // the r5 shape inlined the serialized filter via Literal.create —
    // a gigabyte-scale plan literal at the 10⁹-fingerprint design point
    // (optimizedPlan: AdaptiveSparkPlanExec is a leaf and hides the
    // physical tree from TreeNode traversal before execution)
    val bigLits = qe.optimizedPlan.flatMap(n => n.expressions.flatMap(_.collect {
      case Literal(v: Array[Byte], BinaryType) if v.length > 1024 => v.length
    }))
    assert(bigLits.isEmpty,
      s"plan embeds binary literal(s) of ${bigLits.mkString(",")} bytes — " +
        "the sketch must travel by broadcast")
    val probes = qe.optimizedPlan.flatMap(n => n.expressions.flatMap(_.collect {
      case b: BloomMightContainBcast => b
    }))
    assert(probes.nonEmpty, "the broadcast might_contain probe must be in the plan:\n" +
      qe.optimizedPlan.toString)
  }

  test("x_ngram_jaccard: candidate exchanges carry hashed longs, never shingle text") {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.types.StringType
    val df = graft.SparkEntry.queries("x_ngram_jaccard")(spark, sf)
    val aggs = df.queryExecution.optimizedPlan.collect { case a: logical.Aggregate => a }
    assert(aggs.nonEmpty)
    for (a <- aggs; g <- a.groupingExpressions)
      assert(g.dataType != StringType,
        s"string grouping key in the shingle dictionary exchange: $g")
  }

  test("x_embed_quantize: narrow scan-side pipeline — no shuffle, no join") {
    val p = plan("x_embed_quantize")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      "quantization is per-row; any shuffle is a bug:\n" + p)
  }

  test("x_gopher_rules: single scan, schema pruned to doc_id+text") {
    val p = plan("x_gopher_rules")
    assert(!p.contains("Join") && !p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("n_chars"), "rules must not read unused columns:\n" + p)
  }

  test("j1_twokey_join: one lineitem scan, exchange reused, no extra shuffle for the join") {
    val df = SparkEntry.queries("j1_twokey_join")(spark, sf)
    df.collect() // AQE: reuse only materializes in the final plan
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"),
      "both join inputs must derive from the same aggregated exchange:\n" + p)
    assert(p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange")) == 1,
      "one shuffle of lineitem; the join inherits its partitioning:\n" + p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      "lineitem must scan once:\n" + p)
  }

  test("j1_twokey_join: the tautological >= predicates drop no rows (self-join stays 1:1)") {
    // The join condition uses n >= n2 / total_qty >= total_qty2 as
    // deliberately-inequality tautologies (see TpchQueries.j1TwoKey).
    // If the two branches ever diverge, >= would silently keep rows an
    // equality would drop — this pins output rows == aggregate groups.
    import org.apache.spark.sql.functions.col
    val joined = SparkEntry.queries("j1_twokey_join")(spark, sf).count()
    val groups = graft.Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey")).distinct().count()
    assert(joined == groups,
      s"self-join must be 1:1 with the aggregate ($joined rows vs $groups groups)")
  }

  test("x_shard_pack: two-phase prefix sum — no Window, range partitioning present") {
    val p = SparkEntry.queries("x_shard_pack")(spark, sf).queryExecution.executedPlan
    assert(!p.toString.contains("Window"),
      "packShards must not sort a whole stratum through one window task:\n" + p)
    // the range shuffle ran into the checkpoint the walk reads, which
    // records its layout
    assert(p.collectLeaves().exists(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      "the prefix sum rides a range partition on (stratum, id):\n" + p)
  }

  test("x_sample_fixed_k: exact-k sample plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("x_sample_fixed_k")
    assert(p.contains("TakeOrderedAndProject"),
      "orderBy+limit must become the distributed top-k operator:\n" + p)
    assert(!p.contains("Sort ["), "no full sort for a k-row sample:\n" + p)
  }

  test("x_heavy_hitters: CMS prefilter guards the exchange below the exact recount") {
    val df = SparkEntry.queries("x_heavy_hitters")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cms_estimate_bcast"),
      "candidate filter must probe the broadcast sketch:\n" + p)
    // the filter sits scan-side: below (executed before) the aggregate's
    // exchange, so the vocabulary never shuffles
    val exIdx = p.indexOf("Exchange hashpartitioning(tok")
    val cmsIdx = p.indexOf("cms_estimate_bcast")
    assert(exIdx >= 0 && cmsIdx > exIdx,
      "CMS filter must appear under the tok exchange (plans print top-down):\n" + p)
  }

  test("x_mix_temperature: tiny count aggregate broadcasts back; corpus scan stays narrow") {
    val p = plan("x_mix_temperature")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "per-stratum rates must broadcast, not shuffle the corpus:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "joining the corpus to a <#strata>-row table must never sort-merge:\n" + p)
  }

  test("x_split_leakage_free: the corpus joins clusters on 8-byte ids; no text in the split join") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("x_split_leakage_free")(spark, sf)
    // every exchange below the final agg carries ids/longs or band
    // hashes — never the documents' text column
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"shuffle carries raw text (cols=$cols) — near-dup plumbing must exchange hashes only")
    }
    // the split assignment itself adds no shuffle beyond the cluster join
    val aggs = df.queryExecution.optimizedPlan.collect { case a: logical.Aggregate => a }
    assert(aggs.nonEmpty)
  }

  test("x_adaptive_filter: every Window runs on the tiny histogram or the tie band") {
    import org.apache.spark.sql.catalyst.plans.logical
    val df = SparkEntry.queries("x_adaptive_filter")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w
    }
    assert(wins.nonEmpty, "expected the histogram + tie-band windows")
    wins.foreach { w =>
      val overAggregate = w.child.collectFirst {
        case a: logical.Aggregate => a
      }.isDefined
      val overTieBand = w.child.collectFirst {
        case f: logical.Filter if f.condition.toString.contains("_cut") => f
      }.isDefined
      assert(overAggregate || overTieBand,
        "a Window over the raw corpus is the full-rank straggler:\n" + w)
    }
  }

  test("x_text_chunks: chunking is entirely narrow — no shuffle, no join") {
    val p = plan("x_text_chunks")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      "chunking is per-row; any shuffle is a bug:\n" + p)
  }

  test("x_knn_join: query set broadcast; top-k is the two-stage fanout window") {
    val p = plan("x_knn_join")
    assert(p.contains("BroadcastExchange"),
      "the query table must broadcast, never shuffle the corpus:\n" + p)
    assert(p.contains("pmod"),
      "stage-1 rank must partition by (qid, id mod fanout) — a per-qid-only " +
        "window sorts the whole corpus in one task per query:\n" + p)
  }

  test("x_knn_join_ivf: probes broadcast against the list-assigned corpus, no corpus shuffle") {
    val p = plan("x_knn_join_ivf")
    assert(p.contains("BroadcastExchange"),
      "the query set must broadcast; the corpus joins on its list id:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_knn_join_ivf_mp: multi-probe fans out the BROADCAST side only") {
    val p = plan("x_knn_join_ivf_mp")
    assert(p.contains("BroadcastExchange"),
      "the nprobe-exploded query set must still broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    // the explode must sit on the query (broadcast) side, never the corpus:
    // a corpus-side generate would multiply the scan by nprobe
    val generateLines = p.linesIterator.filter(_.contains("Generate explode")).toSeq
    assert(generateLines.nonEmpty && generateLines.forall(!_.contains("embedding")),
      "explode must expand query probe lists, not corpus vectors:\n" + p)
  }

  test("IVF family: centroids ride the native kernel, never as plan literals") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graftext.KmeansNearestLists
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    for (name <- Seq("x_ann_ivf_kmeans", "x_knn_join_ivf", "x_knn_join_ivf_mp",
        "x_dedup_semantic", "x_sample_semantic")) {
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      // the r6 shape inlined the nLists×dim matrix as array literals —
      // megabytes of plan and an interpreted assignment at real nLists
      val doubleArrayLits = qe.optimizedPlan.flatMap(n => n.expressions.flatMap(_.collect {
        case Literal(v: ArrayData, ArrayType(DoubleType, _)) if v.numElements() >= 8 =>
          v.numElements()
      }))
      assert(doubleArrayLits.isEmpty,
        s"$name: plan embeds double-array literal(s) of ${doubleArrayLits.mkString(",")} " +
          "elements — centroids must ride the KmeansNearestLists kernel")
      val kernels = qe.optimizedPlan.flatMap(n => n.expressions.flatMap(_.collect {
        case e: KmeansNearestLists => e
      }))
      assert(kernels.nonEmpty,
        s"$name: the native centroid-assignment kernel must be in the plan:\n" +
          qe.optimizedPlan.toString)
    }
  }

  test("x_hard_negatives: queries broadcast, band filter precedes the rank windows") {
    val p = plan("x_hard_negatives")
    // fixed eval set broadcasts against the corpus scan (knnJoin shape)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the similarity-band predicate must prune BEFORE any window ranks
    // rows — Catalyst in fact absorbs it into the broadcast join's
    // CONDITION (banded rows never exist downstream), which is the
    // strongest form; accept that or a filter below the first window,
    // never a band predicate above it
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, Literal}
    val qe = SparkEntry.queries("x_hard_negatives")(spark, sf).queryExecution
    val joinHasBand = qe.executedPlan.toString.linesIterator
      .exists(l => l.contains("Join condition") && l.contains("0.2"))
    val bandInJoin = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.collect {
          case GreaterThanOrEqual(_, Literal(v: Double, _)) if v == 0.2 => true
        }.nonEmpty) => j
    }
    assert(bandInJoin.nonEmpty || joinHasBand,
      "band predicate must prune at the join, before the rank windows:\n" +
        qe.executedPlan.toString)
  }

  test("x_ngram_novelty: doc-frequency aggregation is map-side combined; no text past the gram hash") {
    val p = plan("x_ngram_novelty")
    // partial_count before the exchange = map-side combine on the gram key
    assert(p.contains("partial_count") || p.contains("Partial"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
    // r10 shape: the full gram table is never joined back — the df=1
    // slice rolls up to a doc-sized novel count (owner = min(doc_id))
    // and the only join is doc-sized. Every exchange carries 8-byte
    // hashes or doc ids, never the text column
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty, p)
    assert(exchangeLines.forall(!_.contains("text#")),
      "gram exchanges must carry hashes, never document text:\n" + exchangeLines.mkString("\n"))
  }

  test("x_dup_span_families: islands window is doc-partitioned; exchanges carry hashes, never text; top-k never globally sorts") {
    val p = plan("x_dup_span_families")
    // the run-splitting window must be PARTITIONED (by doc) — an
    // unpartitioned window would drag every dup window to one partition
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty && winLines.forall(l =>
      !l.contains("windowspecdefinition") || l.contains("doc_id")),
      winLines.mkString("\n"))
    // top-k rides TakeOrderedAndProject, not a global Sort+Limit
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.forall(!_.contains("text#")),
      "exchanges must carry hashes/ids, never text:\n" + exchangeLines.mkString("\n"))
  }

  test("x_mm_phash_dups: exchanges carry 8-byte hashes/ids, never luma grids or payloads; no cartesian") {
    val p = plan("x_mm_phash_dups")
    assert(!p.contains("CartesianProduct"), p)
    // everything past the checkpointed (id, dhash) table moves hashes:
    // a luma#/payload# in any exchange means the decode output leaked
    // into a shuffle
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(l => !l.contains("luma#") && !l.contains("payload#")),
      "exchanges must carry hashes/ids, never luma or payload:\n" +
        exchangeLines.mkString("\n"))
  }

  test("x_lsh_curve: recall leg is sample-bounded — broadcast pair build, no data-sized cartesian") {
    val p = plan("x_lsh_curve")
    // the only nested-loop joins are the sampleN-row broadcast
    // all-pairs verify and the 19-row grid x 1-row stats sidecars —
    // never a data-sized CartesianProduct
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the sample all-pairs build must broadcast the sample side:\n" + p)
  }

  test("x_mm_video_phash: exchanges carry 8-byte hashes/ids, never luma grids or payloads; no cartesian") {
    val p = plan("x_mm_video_phash")
    assert(!p.contains("CartesianProduct"), p)
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(l => !l.contains("luma#") && !l.contains("payload#")),
      "exchanges must carry hashes/ids, never luma or payload:\n" +
        exchangeLines.mkString("\n"))
  }

  test("x_mm_phash_index: probe exchanges carry band keys/hashes/ids; the decode grid sits behind its checkpoint") {
    val p = plan("x_mm_phash_index")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus+probe grids read the ONE checkpointed decode (no
    // parquet rescan), and nothing after it shuffles luma or payload
    assert(!p.contains("Scan parquet"),
      "both sides must ride the decoded grid's checkpoint:\n" + p)
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(l => !l.contains("luma#") && !l.contains("payload#")),
      "exchanges must carry band keys/hashes/ids only:\n" +
        exchangeLines.mkString("\n"))
  }

  test("x_conformal_grouped: no per-group sort window over data; exchanges carry residuals/ids, never text") {
    val p = plan("x_conformal_grouped")
    assert(!p.contains("CartesianProduct"), p)
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(!_.contains("text#")),
      "exchanges must carry (group, resid, id), never text:\n" +
        exchangeLines.mkString("\n"))
    // the per-group quantile is the groupedValueRanks grid (range
    // exchange + bounded windows + broadcast offsets) — a
    // window PARTITIONED BY the group over the residual table would be
    // the group-serialization anti-pattern
    assert(!p.linesIterator.exists(l =>
      l.contains("windowspecdefinition(_g#") && l.contains("_resid#")),
      "no per-group sort window over the residual rows:\n" + p)
  }

  test("x_token_set_er: no cartesian; pair scoring joins on block keys; weight table broadcast-joins the count") {
    val p = plan("x_token_set_er")
    assert(!p.contains("CartesianProduct"), p)
    // the only BroadcastNestedLoopJoin-free cross join allowed is the
    // 1-row form-count sidecar; everything data-sized must hash-join
    assert(p.contains("BroadcastExchange"), "the 1-row _nf sidecar must broadcast:\n" + p)
    // exchanges never carry the packed (token, weight) arrays' source text twice:
    // the pair join moves block keys + reps + packed arrays built ONCE
    val gen = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gen.forall(!_.contains("p_name#")),
      "token explode must run on the collapsed distinct-name table, not raw rows:\n" +
        gen.mkString("\n"))
  }

  test("x_dedup_index_merged: probe joins on (band, s) keys; no cartesian; text never exchanges") {
    val p = plan("x_dedup_index_merged")
    assert(!p.contains("CartesianProduct"), p)
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.forall(!_.contains("text#")),
      "index/probe exchanges must carry band keys and ids, never text:\n" +
        exchangeLines.mkString("\n"))
  }

  test("x_bpe_encode: the corpus encode pass is window-free and explode-free past training") {
    val p = plan("x_bpe_encode")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
    // training explodes the vocabulary-sized dictionary's pairs; the
    // corpus-sized encode projection must NOT explode tokens — every
    // Generate in the plan reads the dict's `sp`/`tok` columns, never
    // the documents scan's text directly alongside doc_id
    val gen = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gen.forall(!_.contains("doc_id")),
      "the per-doc encode must be a narrow projection, not a token explode:\n" + gen.mkString("\n"))
  }

  test("u6_unpivot: pruned scan feeds one codegen'd Expand, zero exchanges") {
    // the r8 paired sweep's worst ratio (3.3x at 10x data) decomposes to
    // Expand's 4x row multiplication on a sub-second query, not a plan
    // defect — pin the plan so that stays true: only the 6 needed columns
    // of lineitem's 16 are read, and nothing shuffles
    val p = plan("u6_unpivot")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Exchange"), "unpivot is a narrow map-side op:\n" + p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    for (c <- Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax"))
      assert(read.contains(c), s"scan must read $c:\n$read")
    assert(!read.contains("l_shipdate") && !read.contains("l_comment"),
      "scan must prune the 10 untouched lineitem columns:\n" + read)
  }

  test("PQ family: ADC LUT rides the native kernel, never as plan literals — at nCents=256 too") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.graftext.PqAdcLookup
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // the catalog rows at their own parameters, plus the literature
    // operating point (m=8, nCents=256) the RECALL.md row measures:
    // the r8 shape was element_at(array(lit…)) — 2048 plan literals there
    val plans = Seq(
      "x_ann_pq (catalog)" ->
        SparkEntry.queries("x_ann_pq")(spark, sf).queryExecution,
      "x_ann_pq_persisted (catalog)" ->
        SparkEntry.queries("x_ann_pq_persisted")(spark, sf).queryExecution,
      "annPq nCents=256" ->
        graft.sim.Similarity.annPq(graft.Tables.embeddings(spark, sf), queryId = 0L,
          dim = 64, k = 20, m = 8, nCents = 256, iters = 1).queryExecution)
    for ((name, qe) <- plans) {
      val doubleArrayLits = qe.optimizedPlan.flatMap(n => n.expressions.flatMap(_.collect {
        case Literal(v: ArrayData, ArrayType(DoubleType, _)) if v.numElements() >= 8 =>
          v.numElements()
      }))
      assert(doubleArrayLits.isEmpty,
        s"$name: plan embeds double-array literal(s) of ${doubleArrayLits.mkString(",")} " +
          "elements — the ADC LUT must ride the PqAdcLookup kernel")
      val kernels = qe.optimizedPlan.flatMap(n => n.expressions.flatMap(_.collect {
        case e: PqAdcLookup => e
      }))
      assert(kernels.nonEmpty,
        s"$name: the native ADC kernel must be in the plan:\n" + qe.optimizedPlan.toString)
    }
  }

  test("x_cluster_reps: representative choice is an aggregation, not a per-cluster window") {
    val p = plan("x_cluster_reps")
    assert(!p.contains("Window"),
      "argmax must be the max-struct aggregation (map-side combinable); a " +
        "window rank puts each cluster through one task:\n" + p)
    // struct-max lowers to SortAggregate — what matters is the partial
    // (map-side) phase before the exchange, so no cluster ever funnels
    // through one task unreduced
    assert(p.contains("partial_max"), p)
  }

  test("x_zorder: pruned scan + codegen'd interleave + distributed top-k") {
    val p = plan("x_zorder")
    assert(p.contains("TakeOrderedAndProject"),
      "ordered limit must be distributed top-k, not a global sort:\n" + p)
    assert(p.contains("zorder_long"), p)
    assert(!p.contains("l_quantity"), "only the 4 needed columns read:\n" + p)
  }

  test("x_dedup_incremental_neardup: no cartesian; text stays out of the exchanges") {
    val name = "x_dedup_incremental_neardup"
    val p = plan(name)
    assert(!p.contains("CartesianProduct"), p)
    // every Exchange carries band/id/shingle-hash columns, never raw text
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text#")),
      "raw text must not be a shuffle key/payload:\n" + exchanges.mkString("\n"))
  }

  test("q7_correlated_min: the scalar subquery is decorrelated to aggregate + join") {
    val p = plan("q7_correlated_min")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("Join") || p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin"), p)
    // a non-decorrelated plan would re-run the subquery per row
    assert(!p.toLowerCase.contains("scalarsubquery"),
      "correlated subquery must be rewritten, not executed per row:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_bm25: query-term IN filter applied before any exchange; stats broadcast; top-k no global sort") {
    val p = plan("x_bm25")
    // the vocabulary must never reach a shuffle: the isin filter sits
    // scan-side, so exchanges only carry query-term rows
    assert(p.contains("tok") && (p.contains(" IN (") || p.contains("isin")),
      "query-term filter missing from the physical plan:\n" + p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "df/avgdl stats must broadcast, not shuffle-join:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "doc top-k must not be a global sort or corpus-wide window:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_dup_spans: exchanges carry the 60-bit window hash, never window text") {
    val p = plan("x_dup_spans")
    assert(!p.contains("CartesianProduct"), p)
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(e => e.contains("text#") || e.contains("_toks#")),
      "window text/token arrays must not be shuffled — only the md5-60 hash:\n" +
        exchanges.mkString("\n"))
  }

  test("x_ann_pq: ADC scan is lookups into plan-literal LUTs — no join, no vector math, top-k no sort") {
    val p = plan("x_ann_pq")
    // the corpus scan scores via element_at on literal arrays + the
    // native nearest-centroid kernels; there must be NO join between
    // the corpus and any centroid/LUT table in the probe
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "PQ top-k must be TakeOrderedAndProject:\n" + p)
  }

  test("x_dsir_weights: per-bucket ratio table broadcasts back to the token stream") {
    val p = plan("x_dsir_weights")
    // the ≤nBuckets-row ratio table must ride a broadcast join — a
    // shuffle join here would re-exchange the full token stream
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_dup_spans_apply: rewrite is joins + array filter — no window, no second explode") {
    val p = plan("x_dup_spans_apply")
    assert(!p.contains("Window"), "token rewrite must not use a window function:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly two Generate nodes: the window-hash posexplode feeding
    // owners and the one feeding removed-start collection — the final
    // rewrite must NOT explode the corpus a third time
    val generates = "(?m)^\\W*[+:-]*\\s*\\*?\\(?\\d*\\)?\\s*Generate ".r
      .findAllIn(p).size
    assert(generates <= 2, s"expected <=2 Generate nodes, got $generates:\n" + p)
  }

  test("x_hybrid_rrf: both rankers end in TakeOrderedAndProject; fusion has no shuffle-sized join") {
    val p = plan("x_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_knn_label: neighbor search broadcasts the query side; vote argmax is a combinable aggregate") {
    val p = plan("x_knn_label")
    assert(p.contains("BroadcastExchange"), p)
    // the label argmax must be a map-side-combinable max-struct
    // aggregate (the only windows allowed are knnJoin's per-query
    // WindowGroupLimit top-k, which is bounded per group)
    assert(p.contains("partial_max(struct(votes"),
      "vote argmax must be a partial-aggregated max-struct:\n" + p)
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must use the group-limit path, not a full rank:\n" + p)
  }

  test("x_priority_sample: weighted top-k is TakeOrderedAndProject, no global sort") {
    val p = plan("x_priority_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x_winnowing: selection is one narrow pass — no shuffle before the explode") {
    val p = plan("x_winnowing")
    assert(!p.contains("Exchange"),
      "winnowing must not shuffle (per-row array ops + explode only):\n" + p)
  }

  test("x_vocab_coverage: top-V is TakeOrderedAndProject; the running sum windows over V rows only") {
    val p = plan("x_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the window must sit ABOVE the limit (V rows), not over the vocabulary
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
      "running-sum window must consume the top-V survivors:\n" + p)
  }

  test("x_cdc_chunks: one per-doc running-sum window, no cartesian, no second explode") {
    val p = plan("x_cdc_chunks")
    assert(!p.contains("CartesianProduct"), p)
    val generates = "Generate".r.findAllIn(p).size
    assert(generates == 1, s"expected exactly 1 Generate, got $generates:\n" + p)
  }

  test("x_sessionize: the event log shuffles ONCE — windows and session rollup reuse user_id partitioning") {
    val p = plan("x_sessionize")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange (user_id), got $n:\n" + p)
  }

  test("x_funnel: one hash exchange total — no self-joins of the log, no per-step shuffles") {
    val p = plan("x_funnel")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange (user_id), got $n:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "funnel must be window-chained, never a join:\n" + p)
  }

  test("x_retention: log shuffles once on user_id; only the tiny distinct'd cohort rows re-shuffle") {
    val p = plan("x_retention")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 hash exchanges (user_id + cohort rollup), got $n:\n" + p)
    assert(!p.contains("Join"), "cohort assignment must be a window, not a users join:\n" + p)
  }

  test("x_triangles: closure is hash joins over the kernel — no sort-merge, no cartesian on data") {
    val p = plan("x_triangles")
    assert(p.contains("sorted_intersect_count"),
      "closure must run the codegen'd merge-scan kernel:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "nothing in the triangle plan needs an order:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "only the single-row stat combine may nest loops:\n" + p)
  }

  test("x_label_prop: argmax is max-struct aggregation, never a per-node sort window") {
    val p = plan("x_label_prop")
    assert(!p.contains("Window"),
      "LPA rounds must use the max-struct argmax, not row_number windows:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_bm25_indexed: probe reads pruned postings — term filter pushed to the scan, no corpus tokenize") {
    val p = plan("x_bm25_indexed")
    assert(p.contains("PushedFilters") && p.contains("In(tok"),
      "query-term isin must reach the postings parquet scan:\n" + p)
    assert(!p.contains("Generate"),
      "the probe must never re-explode the corpus — that cost was paid at index build:\n" + p)
  }

  test("x_profile: per-column branches, each scan pruned to its ONE column, no Expand") {
    val p = plan("x_profile")
    // the fused multi-distinct alternative plans via Expand, which
    // multiplies every row (N+1)x before partial agg — measured 3.7x
    // slower (Profile.profile scaladoc); pin its absence
    assert(!p.contains("Expand"),
      "profile must use per-column branches, not the row-multiplying Expand shape:\n" + p)
    // 6 branches = 6 scans, but columnar-pruned: each ReadSchema must
    // carry exactly one field, so total bytes = one wide scan
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(schemas.size == 6, s"6 profiled columns -> 6 branch scans, saw ${schemas.size}:\n" + p)
    schemas.foreach { s =>
      assert(!s.contains(","), "every branch scan must read exactly one column: " + s)
    }
  }

  test("x_corr_matrix: one moment aggregate, NO Expand (no distinct), one scan for 6 pairs") {
    val p = plan("x_corr_matrix")
    assert(!p.contains("Expand"),
      "corr moments have no distinct aggregation — an Expand means a planning regression:\n" + p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 1, s"all pairwise moments must come from one scan, saw $scans:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x_histogram: bucket pass is a map-side-combined hash aggregate, no sort, no window") {
    val p = plan("x_histogram")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window") && !p.contains("Sort "),
      "bucketing must group on the computed int key, never rank/sort rows:\n" + p)
  }

  test("x_dq_checks: one fused row-level scan per table; key-only uniqueness/FK sidecars") {
    val p = plan("x_dq_checks")
    assert(p.contains("LeftAnti"),
      "referential integrity must be an anti join, never NOT IN materialization:\n" + p)
    // 5 checks -> 5 scans: the fused orders row-level aggregate
    // (completeness + in-set, its 2 audited columns), the fused
    // lineitem aggregate (l_quantity only — the FK total is a count
    // and needs no column), the key-only uniqueness distinct, and the
    // FK anti join's key pair. Uniqueness stays OUT of the fused pass
    // on purpose: fusing would drag the other checks' partial sums
    // through the data-sized distinct exchange (~4x the bytes on a
    // unique key, measured slower at sf1) — the split pass exchanges
    // bare 8-byte keys.
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(schemas.size == 5, s"expected 5 scans (2 fused + 3 key-only), saw ${schemas.size}:\n" + p)
    assert(schemas.count(_.contains(",")) == 1,
      "only the fused orders pass may read >1 column:\n" + schemas.mkString("\n"))
    val ordersFused = schemas.find(_.contains(",")).get
    assert(Seq("o_custkey", "o_orderstatus").forall(ordersFused.contains) &&
      !ordersFused.contains("o_orderkey") && !ordersFused.contains("o_totalprice"),
      "the fused orders scan must read exactly the row-level audited columns: " + ordersFused)
    assert(p.contains("count(distinct o_orderkey") || p.contains("count(o_orderkey"),
      "uniqueness must be the key-only exact distinct:\n" + p)
  }

  test("x_anomaly_zscore: ONE hash exchange — all moments ride a single customer-partitioned window sort") {
    val p = plan("x_anomaly_zscore")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"rolling stats must reuse one o_custkey exchange, saw $exchanges:\n" + p)
    assert(!p.contains("Join"), "no self-join — trailing moments are window sums:\n" + p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over orders, saw $scans scans:\n" + p)
  }

  test("x_benford: one scan; the frequency total is a window over the 9-row digit table, not a second pass") {
    val p = plan("x_benford")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over orders, saw $scans scans:\n" + p)
    assert(p.contains("HashAggregate"), p)
  }

  test("x_skew_report: one single-column data-sized exchange; Gini rides the tiny count-of-counts table, no join") {
    val p = plan("x_skew_report")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over lineitem, saw $scans scans:\n" + p)
    "ReadSchema: struct<[^>]*>".r.findAllIn(p).foreach { s =>
      assert(!s.contains(","), "the key-count pass must read only the key column: " + s)
    }
    assert(!p.contains("Join"), "skew stats are aggregation-only, never a self-join:\n" + p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, // per-key counts, then the count-of-counts collapse
      s"expected the key exchange + the tiny count-of-counts exchange, saw $hashEx:\n" + p)
  }

  test("x_bfs_hops: final plan is checkpoint-bounded — no parquet rescan, no join, no exchange survives") {
    // two legal shapes (the prefixSum-audit precedent): the r15
    // driver-gate path yields a LOCAL relation (the whole BFS ran on
    // the driver), the distributed path reads only the checkpointed
    // round tables; both must be free of rescans/joins/exchanges
    val p = plan("x_bfs_hops")
    assert(p.contains("ExistingRDD") || p.contains("Scan RDD") ||
      p.contains("LocalTableScan"), p)
    assert(!p.contains("Scan parquet"), "all parquet cost is paid inside the rounds:\n" + p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange"), p)
    // gate off: the DISTRIBUTED shape stays pinned
    spark.conf.set(DriverGate.ForceDistributed, "true")
    try {
      val pd = plan("x_bfs_hops")
      assert(pd.contains("ExistingRDD") || pd.contains("Scan RDD"), pd)
      assert(!pd.contains("Scan parquet"), pd)
      assert(!pd.contains("Join"), pd)
      assert(!pd.contains("Exchange"), pd)
    } finally spark.conf.unset(DriverGate.ForceDistributed)
  }

  test("x_decayed_counts: max-date scalar broadcasts onto ONE data pass; weighting rides the tiny (type,step) grid") {
    val p = plan("x_decayed_counts")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"one scalar pass + one data pass over events, saw $scans:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row reference date must broadcast, never shuffle the log:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, // (type, step) grid, then the per-type rollup of that grid
      s"expected the grid exchange + the tiny rollup exchange, saw $hashEx:\n" + p)
  }

  test("x_top_paths: sessionization rides one user_id exchange; top-k is per-task heaps, never a global sort") {
    val p = plan("x_top_paths")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be orderBy+limit, not a ranked global window:\n" + p)
    assert(!p.contains("Join"), "journeys never self-join the log:\n" + p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, // the user_id exchange + the bounded path-count exchange
      s"windows, session rollup and ordered collect must share the user_id exchange, saw $hashEx:\n" + p)
  }

  test("x_join_size_est: the predicted join is never executed — only key-sized count tables meet") {
    val p = plan("x_join_size_est")
    // both sides collapse to checkpointed count tables before any join;
    // the plan must not re-scan parquet (that cost was paid once per
    // side at checkpoint time) nor sort-merge anything
    assert(!p.contains("Scan parquet"), "count tables are checkpointed — no rescan:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the side totals are literals their count tables' checkpoint jobs observed:\n" + p)
  }

  test("x_feature_hash: one tokenize pass; the exchange carries partially-aggregated triples") {
    val p = plan("x_feature_hash")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over documents, saw $scans:\n" + p)
    assert(!p.contains("Join"), p)
    // partial_count before the exchange = map-side combine caps the
    // shuffle at k triples per doc
    assert(p.contains("partial_count") || "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      "the (doc,bucket) count must combine map-side:\n" + p)
  }

  test("x_filter_funnel: all seven gates collapse in one pass — no data-sized exchange at all") {
    val p = plan("x_filter_funnel")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over documents, saw $scans:\n" + p)
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      "the cumulative conjunctions are one global aggregate — nothing to hash-shuffle:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("x_funnel_time: the gap aggregates reuse x_funnel's single user_id exchange") {
    val p = plan("x_funnel_time")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange (user_id), got $n:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "timing must be window-chained, never a join:\n" + p)
  }

  test("x_dau_wau: one pass to the checkpointed day-user table; WAU is an explode, not a range join") {
    val p = plan("x_dau_wau")
    assert(!p.contains("Scan parquet"),
      "the day-user distinct is checkpointed once for both counts:\n" + p)
    assert(p.contains("Generate"), "WAU must sequence-explode the pair table:\n" + p)
    assert(!p.contains("NestedLoop"),
      "no inequality nested-loop — the explode replaces the range join:\n" + p)
  }

  test("x_attribution: one user_id exchange, window-carried credit — never a self-join of the log") {
    val p = plan("x_attribution")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly 1 hash exchange (user_id), got $n:\n" + p)
    assert(!p.contains("Join"), "batch attribution is a window, not a join:\n" + p)
  }

  test("x_agg_merge: both partition scans push their date filter; raw rows never meet the merge") {
    val p = plan("x_agg_merge")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      "the partition split must reach the parquet scans:\n" + p)
    assert(p.contains("Union"), p)
    assert(!p.contains("Join"), "the merge is a re-aggregation, never a join:\n" + p)
  }

  test("x_cross_source: anchors exchange as 60-bit longs; the self-join meets only the checkpointed count table") {
    val p = plan("x_cross_source")
    assert(!p.contains("Scan parquet"),
      "the (anchor, source) count table is checkpointed once for both join sides:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Generate"),
      "the min-shingle anchor reduces in-row — no shingle explode:\n" + p)
  }

  test("x_embed_outliers: centroids broadcast; bottom-k is per-task heaps, never a global sort") {
    val p = plan("x_embed_outliers")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the centroid table must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_ab_ttest: the group filter pushes to the scan; one pass, no window, no join") {
    val p = plan("x_ab_ttest")
    assert(p.contains("PushedFilters") && p.contains("In(event_type"),
      "the two-group isin must reach the parquet scan:\n" + p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("x_changepoint: the log collapses to the daily table in one pass; splits ride the tiny window") {
    val p = plan("x_changepoint")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"one daily pass + one 1-row totals pass, saw $scans:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row totals must broadcast:\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "the argmax split is orderBy+limit on the day-sized table:\n" + p)
  }

  test("x_anomaly_daily: the log collapses before any window — the sort runs on the tiny daily table") {
    val p = plan("x_anomaly_daily")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, // the (type, day) collapse + the type-partitioned window
      s"expected the daily-collapse exchange + the window exchange, saw $hashEx:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("x_lang_confusion: one data pass; the share window runs on the tiny cell table") {
    val p = plan("x_lang_confusion")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over documents, saw $scans:\n" + p)
    assert(!p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, // the cell-count collapse + the per-label share window
      s"expected the cell exchange + the window exchange, saw $hashEx:\n" + p)
  }

  test("x_pack_stats: both rollups read the checkpointed manifest — the packing walk never re-runs") {
    val p = plan("x_pack_stats")
    assert(!p.contains("Scan parquet"),
      "the manifest is checkpointed once for both aggregations:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
      "the 1-row sides meet in a scalar crossJoin:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_seasonality: one pass to the 168-cell grid; the share window never sees raw rows") {
    val p = plan("x_seasonality")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, // the (dow, hr) collapse; the total is a single-partition window on ≤168 rows
      s"expected only the grid exchange, saw $hashEx:\n" + p)
  }

  test("x_acf: log collapses to the checkpointed day grid once; every branch reads the grid") {
    val p = plan("x_acf")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"totals/deviations/denominator must read the checkpointed grid, saw $scans re-scans:\n" + p)
    assert(!p.contains("SortMergeJoin"), "totals are 1-row broadcast scalars:\n" + p)
  }

  test("x_gap_fill: single data pass — bounds, priorities and spine all derive from the checkpointed grid") {
    val p = plan("x_gap_fill")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"all inputs must read the checkpointed grid, saw $scans parquet scans:\n" + p)
    assert(!p.contains("SortMergeJoin"), "grid-sized sides must broadcast:\n" + p)
  }

  test("x_bitmap_distinct: two grid exchanges, no join, ids never shuffled raw twice") {
    val p = plan("x_bitmap_distinct")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2, // (group, word) collapse + word-grid popcount rollup
      s"expected the two grid exchanges, saw $hashEx:\n" + p)
  }

  test("x_rfm: the final cube reads the checkpointed quintile table — no global sort, no data re-scan") {
    val p = plan("x_rfm")
    assert(!p.contains("Scan parquet"), "orders must collapse before the quintiles:\n" + p)
    assert(!p.contains("Exchange SinglePartition") && !p.contains("Sort ["),
      "the 125-cell rollup must not sort or single-partition:\n" + p)
  }

  test("x_window_funnel: the whole time-bounded chain rides one user_id exchange, no joins") {
    val p = plan("x_window_funnel")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"user_id exchange + ≤|steps|-row level rollup, got $n:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "windowFunnel must be window-chained, never a join:\n" + p)
  }

  test("x_ltv_cohort: cohort month is a window min on the custkey exchange — no first-order self-join") {
    val p = plan("x_ltv_cohort")
    assert(!p.contains("Join"), "cohort assignment must be a window, not a join:\n" + p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over orders, saw $scans:\n" + p)
  }

  test("x_item_cf: pair generator blocks on the basket key; every branch reads the checkpointed membership") {
    val p = plan("x_item_cf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pairs must equi-join on the basket key, never all-pairs:\n" + p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"counts and both join sides must read the checkpointed table, saw $scans re-scans:\n" + p)
  }

  test("x_mad_daily: both median passes run on the checkpointed day grid") {
    val p = plan("x_mad_daily")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"the log must collapse once, saw $scans re-scans:\n" + p)
    assert(!p.contains("SortMergeJoin"), "median rejoin is a broadcast of ≤|types| rows:\n" + p)
  }

  test("x_bool_search: intersection probe — term filter pushed to the postings scan, top-k is TakeOrdered") {
    val p = plan("x_bool_search")
    assert(p.contains("PushedFilters") && p.contains("In(tok"),
      "mustTerms isin must reach the postings parquet scan:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), "top-k must never be a global sort:\n" + p)
    assert(!p.contains("Generate"),
      "the probe must never re-explode the corpus — that cost was paid at index build:\n" + p)
  }

  test("x_ses_forecast: one pass to the day grid; the recursion is an array fold, never a window or join") {
    val p = plan("x_ses_forecast")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window "), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"day-grid collapse + type rollup only, saw $hashEx:\n" + p)
  }

  test("x_concurrency: the sweep reads checkpointed stages — no raw re-scan, no single-partition sort of the boundary table") {
    val p = plan("x_concurrency")
    assert(!p.contains("Scan parquet"),
      "the boundary table and running sums must be checkpointed:\n" + p)
    assert(!p.contains("SortMergeJoin"), "the 1-row peak must broadcast:\n" + p)
  }

  test("x_abc_class: the class cut reads the checkpointed prefix sums; the 1-row total broadcasts") {
    val p = plan("x_abc_class")
    assert(!p.contains("Scan parquet"),
      "lineitem must collapse before the cumulative pass:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_interorder_gap: rank stats read the checkpointed running grid — orders scanned once, upstream") {
    val p = plan("x_interorder_gap")
    assert(!p.contains("Scan parquet"),
      "totals and rank stats must both read the checkpointed grid:\n" + p)
    assert(!p.contains("SortMergeJoin"), "the 1-row totals must broadcast:\n" + p)
  }

  test("x_seq_pairs: pair generation reads the checkpointed session envelopes — no event self-join") {
    val p = plan("x_seq_pairs")
    assert(!p.contains("Scan parquet"),
      "the rollup must read the checkpointed envelope table:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x_multi_touch: one user_id exchange; the range frame never self-joins the log") {
    val p = plan("x_multi_touch")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"user_id exchange + depth-grid rollup, saw $hashEx:\n" + p)
  }

  test("x_ks_drift: max and argmin read the checkpointed gap grid; no raw re-scan") {
    val p = plan("x_ks_drift")
    assert(!p.contains("Scan parquet"),
      "documents must collapse to the value grid once:\n" + p)
    assert(!p.contains("SortMergeJoin"), "1-row totals/max must broadcast:\n" + p)
  }

  test("x_survival: everything reads the checkpointed per-customer and grid tables — orders scanned once upstream") {
    val p = plan("x_survival")
    assert(!p.contains("Scan parquet"),
      "horizon/N/lifetimes must derive from the checkpointed tables:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_new_returning: one user exchange (collect_set) + the day rollup — no distinct+window shuffle pair") {
    val p = plan("x_new_returning")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window "), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"user collapse + day rollup only, saw $hashEx:\n" + p)
  }

  test("x_top_movers: grid lag + TakeOrdered — never a global sort of the log") {
    val p = plan("x_top_movers")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
  }

  test("x_holt: one pass to the day grid; both recursions live in the array fold") {
    val p = plan("x_holt")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window "), p)
  }

  test("q4_exists_semi: EXISTS plans as a LEFT SEMI join — orders never multiply by line count") {
    val p = plan("q4_exists_semi")
    assert(p.contains("LeftSemi"), "EXISTS must be a semi join:\n" + p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate"), "quarter filter must reach the orders scan:\n" + p)
    assert(!p.contains("HashAggregate(keys=[o_orderkey"), "no distinct-after-join:\n" + p)
  }

  test("q12_case_split: the one genuinely big-big join — shuffled on orderkey, both scans pruned") {
    val p = plan("q12_case_split")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p) // AQE may still broadcast at sf0.001
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>"),
      "orders must project to exactly two columns before the exchange:\n" + p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      "year filter must reach the lineitem scan:\n" + p)
  }

  test("q14_promo_share: part dimension broadcasts; month filter pushed to the lineitem scan") {
    val p = plan("q14_promo_share")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "the catalog-sized part table must broadcast:\n" + p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
  }

  test("x_bloom_join: the torrent-broadcast bloom probe sits on the big side BEFORE the join") {
    val p = plan("x_bloom_join")
    assert(p.contains("might_contain_bcast"),
      "lineitem must be bloom-pruned pre-exchange:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_join_delta: every delta term joins by broadcast — the bases never re-shuffle") {
    val p = plan("x_join_delta")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_watermark_profile: rank stats read the checkpointed lateness grid; the log's running max is two-phase") {
    val p = plan("x_watermark_profile")
    assert(!p.contains("Scan parquet"),
      "the profile must read the checkpointed grid:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_rolling_p90: one pass to the grid; the frame sort is in-row, never a data sort") {
    val p = plan("x_rolling_p90")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join"), p)
  }

  test("x_wow_growth: grid self-join broadcasts; the log is scanned once into the checkpointed grid") {
    val p = plan("x_wow_growth")
    assert(!p.contains("Scan parquet"),
      "both join sides must read the checkpointed grid:\n" + p)
    assert(!p.contains("SortMergeJoin"), "grid-sized sides must broadcast:\n" + p)
  }

  test("x_source_report: one fingerprint exchange — the dup window rides the same partitioning") {
    val p = plan("x_source_report")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over documents, saw $scans:\n" + p)
    assert(!p.contains("Join"), "dup marking must be a window, not a self-join:\n" + p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"fingerprint window + source rollup only, saw $hashEx:\n" + p)
  }

  test("x_token_waterfill: boundary scan and allocation both read the checkpointed source grid") {
    val p = plan("x_token_waterfill")
    assert(!p.contains("Scan parquet"),
      "the grid is checkpointed once:\n" + p)
    assert(!p.contains("SortMergeJoin"), "the 1-row cap must broadcast:\n" + p)
  }

  test("x_segment_ci: one map-side-combined pass, no join, no window") {
    val p = plan("x_segment_ci")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over orders, saw $scans:\n" + p)
    assert(!p.contains("Join") && !p.contains("Window "), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"the segment collapse only, saw $hashEx:\n" + p)
  }

  test("x_behavior_profiles: one user exchange + the 2^types grid rollup") {
    val p = plan("x_behavior_profiles")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one pass over events, saw $scans:\n" + p)
    assert(!p.contains("Join"), p)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"user collapse + set rollup only, saw $hashEx:\n" + p)
  }

  test("x_price_decile_mix: the decile map broadcasts; lineitem scanned once") {
    val p = plan("x_price_decile_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "the catalog-sized decile map must broadcast:\n" + p)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"lineitem once (the part cut is checkpointed), saw $scans:\n" + p)
  }

  test("x_gini_customers: the moment sums read the checkpointed rank table — no global sort") {
    val p = plan("x_gini_customers")
    assert(!p.contains("Scan parquet"),
      "ranks are two-phase and checkpointed:\n" + p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id") ||
      "Exchange SinglePartition".r.findAllIn(p).size <= 1, // only the 1-row final agg
      p)
  }

  test("whole-stage codegen covers the q1_agg aggregation") {
    // codegen spans only materialize in the FINAL adaptive plan
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators carry the "*(stageId)" prefix in plan strings
    assert(p.contains("*(1)"), p)
    assert(p.contains("*(2) HashAggregate") || p.contains("*(1) HashAggregate"), p)
  }

  test("x_entry_exit: the log shuffles ONCE on user_id; only session-role rows re-shuffle on the type key") {
    val p = plan("x_entry_exit")
    // exchange 1: user_id (windows + session rollup reuse it);
    // exchange 2: the session-sized role union's event_type rollup
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"expected 2 hash exchanges (user_id + type rollup), got $n:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x_theil: the term pass reads the checkpointed customer table; the total is an observed literal") {
    val p = plan("x_theil")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Scan parquet"),
      "the term pass must read the checkpointed base, not re-scan orders:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the (n, s) total is observed by the checkpoint job, not joined:\n" + p)
  }

  test("x_theil_sen: pair build and day count share the grid checkpoint; rank window is type-partitioned") {
    val p = plan("x_theil_sen")
    assert(!p.contains("Scan parquet"),
      "both passes must ride the (type, day) grid's checkpoint:\n" + p)
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("event_type")),
      "windows must be partitioned by event_type, never global:\n" + winLines.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_markov_attribution: the chain algebra runs on checkpointed tiny tables, never the log") {
    val p = plan("x_markov_attribution")
    // the journey build (the only log-sized work) sits behind its
    // checkpoint; the L propagation rounds and the effect math must
    // not re-touch the event log or drag a window along
    assert(!p.contains("Scan parquet"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_pmi_pairs: count joins carry 8-byte hashes; top-k never globally sorts the pair table") {
    val p = plan("x_pmi_pairs")
    assert(!p.contains("Scan parquet"),
      "the scored join must ride the checkpointed count tables:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.forall(!_.contains("text#")),
      "exchanges must carry hashes, never text:\n" + exchangeLines.mkString("\n"))
  }

  test("x_ann_recall: ground truth rides its checkpoint; intersections broadcast; no raw cartesian") {
    val p = plan("x_ann_recall")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the k-row ground truth must broadcast into both intersections:\n" + p)
  }

  test("x_vocab_growth: total and rollup share the globalRank checkpoint; no window over the stream") {
    val p = plan("x_vocab_growth")
    assert(!p.contains("Scan parquet"),
      "both readers must ride the ranked stream's checkpoint:\n" + p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the P-row checkpoint grid must broadcast:\n" + p)
  }

  test("x_psi_drift: share branches read the checkpointed counts; boundaries broadcast to the scan") {
    val p = plan("x_psi_drift")
    // counts is localCheckpointed — the p and q branches must NOT
    // re-scan documents (globalRank's internals sit behind its own
    // checkpoint, so no Window survives either)
    assert(!p.contains("Scan parquet"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "bounds/refShares must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_jaro_blocked: scoring rides the checkpointed surface-form table; kernel inline; no UDF") {
    val p = plan("x_jaro_blocked")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("jaro_winkler"),
      "the native JaroWinkler expression must appear in the plan:\n" + p)
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      "scoring must be the native expression, never a UDF:\n" + p)
    // similarity is computed AFTER the block equi-join, i.e. the join
    // condition itself is hash-joinable block keys — a theta-join on the
    // similarity would make every block pair a nested loop
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "the block join must be an equi-join:\n" + p)
    // collapse-first: both scoring sides read the vocabulary-bounded
    // surface-form CHECKPOINT, never the raw part table — the raw
    // row-level quadratic measured 26x wall at 10x data
    assert(!p.contains("Scan parquet"),
      "scoring must ride the collapsed checkpoint, not re-scan part:\n" + p)
  }

  test("x_hhi: customer dim broadcasts; one map-side-combined customer exchange") {
    val p = plan("x_hhi")
    assert(p.contains("BroadcastHashJoin"),
      "the (custkey, nationkey) dim projection must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    val aggExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(aggExchanges.exists(_.contains("o_custkey")),
      "the customer collapse must be the one data-sized exchange:\n" + p)
  }

  test("x_decile_migration: both cuts ride range exchanges + per-partition windows, never one partition") {
    val p = plan("x_decile_migration")
    // exactNtile's machinery: rangepartitioning exchanges exist and
    // every window is partitioned by _pid (the per-partition rank),
    // never a global single-partition window
    assert(!p.contains("SinglePartition") || !p.contains("Window"),
      "no window may run on SinglePartition:\n" + p)
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.forall(_.contains("_pid")),
      "every NTILE window must be per-partition (_pid):\n" + winLines.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_er_clusters: membership tail is window-free; rep labels ride checkpoints; no cartesian") {
    // the CC loop itself runs eagerly behind localCheckpoints during
    // construction; the audited plan is the membership tail — the only
    // data-sized stages left
    val p = plan("x_er_clusters")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Scan ExistingRDD"),
      "rep labels and surface forms must be read from checkpoints:\n" + p)
  }

  test("x_binseg: result is a driver-bounded local relation; rounds ran behind the grid checkpoint") {
    // the k greedy rounds collect exactly one argmax row each at
    // construction time, against the checkpointed day grid — the final
    // plan must be the k-row local pick table, never a re-scan
    val p = plan("x_binseg")
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("x_woe_iv: one bucket-grid collapse; totals and IV are observed literals; grid rides its checkpoint") {
    val p = plan("x_woe_iv")
    assert(!p.contains("Scan parquet"),
      "the woe pass and IV sum must read the checkpointed bucket grid:\n" + p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the totals and IV are observed by the grid checkpoints' jobs, not joined:\n" + p)
  }

  /** prefixSum plans two legitimate window shapes since r15: the
    * two-phase per-range-partition window keyed by `_pid` (data-sized
    * inputs), and the gate-bounded single-partition window whose
    * constant pmod partition key Spark extracts as `_w0` (inputs ≤
    * DriverGate.PrefixSumRows — value grids). What stays FORBIDDEN is a window
    * with neither: an ungated global sort, or one keyed by a
    * low-cardinality data column. */
  private def prefixWindowShapes(p: String): Seq[String] =
    p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq

  test("x_spearman: rank windows are per-partition (_pid) or gate-bounded (_w0), never an ungated global sort") {
    // at audit scale the r16 driver tiny path serves the row: the
    // final plan is a driver-local result, no exchange, no window
    val tiny = plan("x_spearman")
    assert(tiny.contains("LocalTableScan") && !tiny.contains("Exchange"),
      "under the driver gate the row must be a local result:\n" + tiny)
    // the DISTRIBUTED shape audits run with every driver gate forced
    // off (spearman's and prefixSum's alike) — this is the 100 TB plan
    // and must keep the prefixSum discipline: the original all-_pid
    // shape (at audit scale every grid is under the prefixSum gate —
    // sf0.1's near-unique l_extendedprice grid is what exercises the
    // mixed shape; the bench floors cover that side)
    spark.conf.set(DriverGate.ForceDistributed, "true")
    try {
      val winLines = prefixWindowShapes(plan("x_spearman"))
      assert(winLines.forall(w => w.contains("_pid") || w.contains("_w0")),
        "every rank window must be prefixSum's two-phase or its bounded tiny form:\n" +
          winLines.mkString("\n"))
      // the two-phase windows run behind prefixSum's output checkpoint
      // at construction, so the final plan may carry none at all —
      // what it must NOT carry is a window keyed by anything else
      val big = prefixWindowShapes(plan("x_spearman"))
      assert(big.forall(_.contains("_pid")),
        "with the tiny gate off, any visible rank window must be two-phase:\n" +
          big.mkString("\n"))
      assert(!plan("x_spearman").contains("CartesianProduct"))
    } finally spark.conf.unset(DriverGate.ForceDistributed)
  }

  test("x_seq_triples: one user_id exchange; top-k is TakeOrderedAndProject, never a global sort") {
    val p = plan("x_seq_triples")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")),
      "session marking and leads must be per-user windows:\n" + winLines.mkString("\n"))
  }

  test("x_quantile_norm: rank windows are per-partition (_pid) or gate-bounded (_w0), never a per-type serialized sort") {
    // the old percent_rank().over(partitionBy(event_type)) plan put
    // each type through ONE task — 3.7x at 10x; the replacement's only
    // windows are prefixSum's per-range-partition ones, or (audit
    // scale) its gate-bounded tiny form — NEVER one keyed by the
    // low-cardinality type column
    val p = plan("x_quantile_norm")
    val winLines = prefixWindowShapes(p)
    assert(winLines.forall(w => w.contains("_pid") || w.contains("_w0")),
      "no window may partition by the low-cardinality type column:\n" +
        winLines.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
    // gate off: the two-phase discipline must hold at any size
    spark.conf.set(DriverGate.ForceDistributed, "true")
    try {
      // same vacuous-or-_pid contract as the spearman audit: the big
      // path's windows run behind the output checkpoint
      val big = prefixWindowShapes(plan("x_quantile_norm"))
      assert(big.forall(_.contains("_pid")),
        "with the tiny gate off, any visible rank window must be two-phase:\n" +
          big.mkString("\n"))
    } finally spark.conf.unset(DriverGate.ForceDistributed)
  }

  test("x_embed_drift: one component exchange; the embedding array never crosses an exchange") {
    val p = plan("x_embed_drift")
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(!_.contains("embedding#")),
      "exchanges must carry (label, pos, decimal) components, never the raw array:\n" +
        exchangeLines.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row global centroid must broadcast:\n" + p)
  }

  test("x_bootstrap_ci: the x64 expansion never shuffles; only the narrow base round-robins") {
    val p = plan("x_bootstrap_ci")
    assert(!p.contains("CartesianProduct"), p)
    // ONE deliberate RoundRobin exchange of the NARROW pre-expansion
    // base (key + cents) parallelizes the draw past a small scan's
    // single input split (35.8 s -> 1.9 s at sf0.1); the explode then
    // feeds the partial hash-aggregate in the SAME stage, so every
    // hash exchange carries the 64 rep-grouped partials, never
    // per-order (let alone x64-expanded) rows
    val exchangeLines =
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.forall(!_.contains("o_orderkey#")),
      "rep aggregation must combine map-side; order keys never hash-shuffle:\n" +
        exchangeLines.mkString("\n"))
    val rr = p.linesIterator.count(_.contains("RoundRobinPartitioning"))
    assert(rr <= 1, s"only the one base parallelize may round-robin, found $rr:\n" + p)
    // the round-robin must run BEFORE the expansion: no Generate above it
    val gen = p.linesIterator.filter(_.contains("Generate")).toSeq
    assert(gen.nonEmpty, "the x64 explode must exist:\n" + p)
  }

  test("x_textrank: edge build broadcasts the vocabulary gate; walk exchanges carry hashes only") {
    // the full query's plan starts past PageRankOp's graph checkpoint,
    // so audit the edge BUILD separately (its plan is what runs against
    // the corpus) and the walk readout on the composed query
    val docs = graft.Tables.documents(spark, sf)
    import org.apache.spark.sql.functions._
    val V = org.apache.spark.sql.graftext.VectorExpressions
    val base = docs.select(graft.text.TextAnalysis.tokens(col("text")).as("_toks"))
    val vocab = base.select(explode(V.md5Hashes60(col("_toks"))).as("ha"))
      .groupBy(col("ha")).agg(count(lit(1)).as("c")).filter(col("c") >= 5)
      .select(col("ha"))
    val gated = base.filter(size(col("_toks")) >= 2)
      .select(explode(arrays_zip(
        slice(V.md5Hashes60(col("_toks")), lit(1), size(col("_toks")) - 1),
        slice(V.md5Hashes60(col("_toks")), lit(2), size(col("_toks")) - 1))).as("bg"))
      .select(col("bg").getField("0").as("ha"), col("bg").getField("1").as("hb"))
      .join(broadcast(vocab), "ha")
    val pe = gated.queryExecution.executedPlan.toString
    assert(pe.contains("BroadcastHashJoin"),
      "the vocabulary-bounded node gate must broadcast:\n" + pe)
    val p = plan("x_textrank")
    assert(!p.contains("CartesianProduct"), p)
    val exchangeLines =
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.forall(!_.contains("text#")),
      "walk exchanges must carry 60-bit hashes, never text:\n" +
        exchangeLines.mkString("\n"))
  }

  test("x_conformal: exchanges carry residuals and ids, never text; no cartesian") {
    val p = plan("x_conformal")
    assert(!p.contains("CartesianProduct"), p)
    val exchangeLines =
      p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(!_.contains("text#")),
      "the rank exchange must carry (resid, id), never text:\n" +
        exchangeLines.mkString("\n"))
  }

  test("x_ktruss: trajectory is a driver-bounded local relation; rounds ran behind per-round checkpoints") {
    // each round's enumeration/peel runs at construction time against
    // localCheckpointed edge/support tables (the kcore discipline); the
    // final plan must be the 3-row trajectory table, never a re-scan
    val p = plan("x_ktruss")
    assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
  }

  test("x_holt_winters: one grid exchange, the fold is a projection — no window, no join, no cartesian") {
    val p = plan("x_holt_winters")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
    assert(!p.contains("windowspecdefinition"),
      "the HW recursion is an array fold, never a window:\n" + p)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, // (type, day) grid + per-type array rollup
      s"HW must exchange only grid rows, found $exchanges exchanges:\n" + p)
  }

  test("x_mann_kendall: pair stream is generated from the checkpointed grid, never the events scan") {
    val p = plan("x_mann_kendall")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Scan parquet"),
      "pairs/ties/totals must read the checkpointed day grid, not re-scan events:\n" + p)
  }

  test("x_stl_decompose: windows and rollups ride the checkpointed day grid; seasonal broadcasts back") {
    val p = plan("x_stl_decompose")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Scan parquet"),
      "the seasonal rollup and readout must read the checkpointed grid:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the weekday seasonal table must broadcast back:\n" + p)
  }

  test("x_assoc_rules: pair scoring broadcasts the item dictionary; no pair-table re-exchange") {
    val p = plan("x_assoc_rules")
    // the two count lookups must be broadcast joins — the shuffle_hash
    // form exchanged the ENTIRE pair table twice to look up item counts
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_assoc_rules_pruned: the pair join's inputs are the Apriori-pruned membership (semi-join in plan)") {
    val p = plan("x_assoc_rules_pruned")
    assert(p.contains("LeftSemi"),
      "the membership table must be semi-joined to frequent items BEFORE the pair join:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_cuped: one user_id exchange shape — no sort-merge join, no data window, no cartesian") {
    val p = plan("x_cuped")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(!p.contains("windowspecdefinition"),
      "CUPED is pure aggregation — no window may appear:\n" + p)
    val exchangeLines =
      p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.forall(l => !l.contains("ts#") && !l.contains("value#")),
      "only per-user partials may shuffle, never raw events:\n" +
        exchangeLines.mkString("\n"))
  }
}
