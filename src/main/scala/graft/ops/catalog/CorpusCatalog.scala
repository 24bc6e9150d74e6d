package graft.ops
package catalog

import graft.{Q, Tables}
import graft.ops.ExtensionQueries.{coEmbeddings, coNdClusters, invIndexFor}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Training-corpus rows: filtering, sampling, mixing, splits, packing,
  * tokenization (BPE), term statistics, BM25 and language models. */
object CorpusCatalog {

  /** The composed training-corpus pipeline: quality-score filter →
    * exact dedup (keep lowest doc_id per text) → per-language corpus
    * stats. The canonical pretraining-data preparation flow, end to end
    * under the oracle gate. */
  val corpusPipeline: Q = Q(
    "x_corpus_pipeline",
    (s, d) => {
      import graft.text.TextAnalysis
      import org.apache.spark.sql.expressions.Window
      val t = col("text")
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("lang"), t.as("text"),
        TextAnalysis.textStats(t).as("st"))
        .select(
          col("doc_id"), col("lang"), col("text"),
          TextAnalysis.qualityScoreFrom(col("st"), col("text")).as("quality"),
          col("st.n_tokens").as("n_tokens"))
      val kept = scored.filter(col("quality") >= 60)
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      val deduped = kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      deduped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("total_tokens"))
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang, text,
               100
                 - CASE WHEN len(regexp_split_to_array(text, '\s+')) < 10 THEN 40 ELSE 0 END
                 - CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
                       x -> list_contains(['the','a','an','and','or','of','to','in','is','was','for','on','with','as','at','by','it','this','that'], x))) = 0 THEN 25 ELSE 0 END
                 - CASE WHEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 5 > length(text) THEN 20 ELSE 0 END
                 - CASE WHEN list_max(list_transform(regexp_split_to_array(text, '\s+'), x -> length(x))) > 30 THEN 15 ELSE 0 END
                 AS quality,
               len(regexp_split_to_array(text, '\s+')) AS n_tokens
        FROM documents),
      kept AS (SELECT * FROM scored WHERE quality >= 60),
      deduped AS (
        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM kept) t WHERE rn = 1)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM deduped GROUP BY lang
    """.trim)
  )

  /** Benchmark decontamination: corpus docs sharing 3-gram shingles
    * with the benchmark set (doc_id ≡ 0 mod 97 stands in for the eval
    * set). Broadcast benchmark-shingle join — the corpus never
    * shuffles on text. */
  val contamination: Q = Q(
    "x_contamination",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.corpus.Corpus.contamination(
        corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        benchmark = docs.filter(pmod(col("doc_id"), lit(97)) === 0))
    },
    Some(s"""
      WITH ${OracleSql.shingleCtes},
      bench AS (SELECT DISTINCT unnest(shl) AS g FROM sh0 WHERE doc_id % 97 = 0),
      corpus AS (SELECT doc_id, shl FROM sh0 WHERE doc_id % 97 <> 0),
      cs AS (SELECT doc_id, unnest(shl) AS g FROM corpus),
      shared AS (SELECT doc_id, COUNT(*) AS n_shared FROM cs JOIN bench USING (g) GROUP BY 1)
      SELECT c.doc_id, CAST(s.n_shared AS BIGINT) AS n_shared,
             CAST(len(c.shl) AS INT) AS n_total,
             ROUND(CAST(s.n_shared AS DOUBLE) / len(c.shl), 6) AS contamination
      FROM corpus c JOIN shared s USING (doc_id)
    """.trim)
  )

  /** Deterministic stratified sampling: keep 50% of English docs and
    * 25% of every other language by an md5 integer draw — reproducible
    * on any engine/partitioning (verified per-stratum via counts and
    * an id checksum). */
  val stratifiedSample: Q = Q(
    "x_stratified_sample",
    (s, d) => graft.corpus.Corpus.stratifiedSample(
      Tables.documents(s, d), strataCol = "lang",
      thresholds = Map("en" -> (1L << 59)), defaultThreshold = 1L << 58)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).as("id_sum")),
    Some("""
      SELECT lang, COUNT(*) AS n_sampled,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents
      WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
            CASE WHEN lang = 'en' THEN 576460752303423488 ELSE 288230376151711744 END
      GROUP BY lang
    """.trim)
  )

  /** Proportional mixing toward a target language distribution (en 40%,
    * zh 30%, rest 10% each), checked per-stratum via counts and an id
    * checksum — the md5 draw and the threshold arithmetic replay
    * exactly in DuckDB. */
  val corpusMix: Q = Q(
    "x_corpus_mix",
    (s, d) => graft.corpus.Corpus.mixCorpus(
      Tables.documents(s, d), strataCol = "lang",
      targetShares = Map("en" -> 0.4, "zh" -> 0.3), defaultShare = 0.1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum")),
    Some("""
      WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      t AS (SELECT COUNT(*) AS tot FROM documents),
      r AS (SELECT lang,
                   LEAST(CAST(1.0 AS DOUBLE),
                         CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.3 ELSE 0.1 END
                           * tot / cnt) AS rate
            FROM c, t)
      SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents d JOIN r ON d.lang = r.lang
      WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
            CAST(floor(rate * 1152921504606846976.0) AS BIGINT)
      GROUP BY d.lang
    """.trim)
  )

  /** Deterministic global training-order shuffle (8 shards): each doc's
    * (shard, pos) address in a pseudo-random total order — hash-range
    * shard from the salted draw (reproducible, unlike sampled
    * repartitionByRange boundaries), rank within shard. No global
    * sort; each shard sorts its own bounded slice. */
  val corpusShuffleQ: Q = Q(
    "x_corpus_shuffle",
    (s, d) => graft.corpus.Corpus.shuffleOrder(
      Tables.documents(s, d), nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos")),
    Some(s"""
      WITH drawn AS (SELECT doc_id,
        ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS draw
        FROM documents)
      SELECT doc_id,
             CAST(draw // ${(1L << 60) / 8} AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY draw // ${(1L << 60) / 8}
               ORDER BY draw, doc_id) - 1 AS INT) AS pos
      FROM drawn
    """.trim)
  )

  /** Deterministic exact-k uniform sample (k = 100): the k smallest
    * salted draws, planned as TakeOrderedAndProject — per-task k-row
    * heaps, no global sort, reproducible under retries. */
  val sampleFixedKQ: Q = Q(
    "x_sample_fixed_k",
    (s, d) => graft.corpus.Corpus.sampleFixedK(
      Tables.documents(s, d), k = 100)
      .select(col("doc_id"), col("lang")),
    Some("""
      SELECT doc_id, lang FROM documents
      ORDER BY ('0x' || substr(md5('topk:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id
      LIMIT 100
    """.trim)
  )

  /** Exact heavy-hitter tokens (count >= 100) behind a count-min-sketch
    * prefilter: the broadcast CMS estimate keeps every true heavy
    * hitter (a CMS never underestimates) and the exact recount of the
    * surviving candidates drops the overestimates — so the oracle is
    * the PLAIN `GROUP BY HAVING`, while the engine's exchange carries
    * candidate tokens only, never the full vocabulary. */
  val heavyHittersQ: Q = Q(
    "x_heavy_hitters",
    (s, d) => graft.corpus.Corpus.heavyHitterTokens(
      Tables.documents(s, d), minCount = 100L),
    Some("""
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents)
      GROUP BY tok HAVING COUNT(*) >= 100
    """.trim)
  )

  /** Temperature-scaled mixing at α = 1/2: per-language keep-rate
    * sqrt(c_min/c_i) — the low-resource upweighting used by
    * multilingual pretraining mixes. sqrt is correctly rounded in both
    * engines (IEEE 754 mandate), so the kept set hash-matches exactly;
    * a general-α pow would not carry that guarantee. */
  val corpusMixTemperature: Q = Q(
    "x_mix_temperature",
    (s, d) => graft.corpus.Corpus.mixCorpusTemperatureHalf(
      Tables.documents(s, d), strataCol = "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum")),
    Some("""
      WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      m AS (SELECT MIN(cnt) AS mn FROM c),
      r AS (SELECT lang, sqrt(CAST(mn AS DOUBLE) / cnt) AS rate FROM c, m)
      SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents d JOIN r ON d.lang = r.lang
      WHERE ('0x' || substr(md5('mixt:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
            CAST(floor(rate * 1152921504606846976.0) AS BIGINT)
      GROUP BY d.lang
    """.trim)
  )

  /** Leakage-free 80/10/10 split: every near-dup cluster (the
    * x_dedup_clusters labeling) lands wholly in ONE split — its
    * members draw on the cluster's canonical id, singletons on their
    * own id. The oracle recomputes the clusters INDEPENDENTLY (the
    * same recursive-CTE transitive closure as the x_dedup_clusters
    * oracle) and replays the rep-keyed draw, so both the clustering
    * and the split arithmetic are checked end to end. */
  val splitLeakageFree: Q = {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val thr = graft.corpus.Corpus.splitThresholds(splits)
    val caseSql = thr.init.map { case (name, cut) =>
      s"WHEN ('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)), 1, 15))::BIGINT < $cut THEN '$name'"
    }.mkString("CASE ", " ", s" ELSE '${thr.last._1}' END")
    Q(
      "x_split_leakage_free",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.corpus.Corpus.assignSplitByCluster(docs, coNdClusters(s, d), splits)
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      },
      Some(s"""
      WITH RECURSIVE ${OracleSql.nearDupPairCtes},
      ${OracleSql.pairClosureCtes},
      comp AS (SELECT LEAST(a, MIN(b)) AS cluster_id, a AS doc_id FROM reach GROUP BY a),
      rep AS (SELECT d.doc_id, d.lang, COALESCE(c.cluster_id, d.doc_id) AS rep
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      SELECT $caseSql AS split, lang,
             COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM rep GROUP BY 1, 2
      """.trim)
    )
  }

  /** Token-budget shard packing (1000-token shards per language):
    * exact integer running sums, so the assignment is identical in any
    * engine. */
  val shardPack: Q = Q(
    "x_shard_pack",
    (s, d) => graft.corpus.Corpus.packShards(
      Tables.documents(s, d), budgetTokens = 1000L, strataCol = "lang"),
    Some("""
      WITH t AS (SELECT doc_id, lang,
                        len(regexp_split_to_array(text, '\s+')) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, lang, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM t)
      SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
             CAST(cum_before // 1000 AS BIGINT) AS shard_id
      FROM c
    """.trim)
  )

  /** Deterministic 80/10/10 train/val/test assignment over documents,
    * verified per (split, lang) via counts and id checksums — the
    * thresholds are driver-computed integers inlined into both
    * engines. */
  val splitAssign: Q = {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val thr = graft.corpus.Corpus.splitThresholds(splits)
    val caseSql = thr.init.map { case (name, cut) =>
      s"WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT < $cut THEN '$name'"
    }.mkString("CASE ", " ", s" ELSE '${thr.last._1}' END")
    Q(
      "x_split_assign",
      (s, d) => graft.corpus.Corpus.assignSplit(Tables.documents(s, d), splits)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum")),
      Some(s"""
        SELECT $caseSql AS split, lang,
               COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY 1, 2
      """.trim)
    )
  }

  /** Adaptive quality filtering: keep the top half of each language by
    * quality score (per-stratum rank cutoff, not an absolute
    * threshold), verified via per-language counts, the kept-quality
    * floor, and an id checksum. */
  val adaptiveFilter: Q = Q(
    "x_adaptive_filter",
    (s, d) => {
      import graft.text.TextAnalysis
      val t = col("text")
      val scored = Tables.documents(s, d).select(
        col("doc_id"), col("lang"), t,
        TextAnalysis.textStats(t).as("st"))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityScoreFrom(col("st"), t).as("quality"))
      graft.corpus.Corpus.topFractionByScore(scored, "lang", "quality",
        num = 1, den = 2)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("quality")).as("min_quality"),
          sum(col("doc_id")).as("id_sum"))
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               100
                 - CASE WHEN len(regexp_split_to_array(text, '\s+')) < 10 THEN 40 ELSE 0 END
                 - CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
                       x -> list_contains(['the','a','an','and','or','of','to','in','is','was','for','on','with','as','at','by','it','this','that'], x))) = 0 THEN 25 ELSE 0 END
                 - CASE WHEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 5 > length(text) THEN 20 ELSE 0 END
                 - CASE WHEN list_max(list_transform(regexp_split_to_array(text, '\s+'), x -> length(x))) > 30 THEN 15 ELSE 0 END
                 AS quality
        FROM documents),
      ranked AS (
        SELECT doc_id, lang, quality,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM scored)
      SELECT lang, COUNT(*) AS n_kept,
             MIN(quality) AS min_quality,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM ranked WHERE rn * 2 <= n GROUP BY lang
    """.trim)
  )

  /** Zipf-law slope of the token frequency-rank curve (Corpus.zipfSlope
    * scaladoc: md5-60 keys, globalRank total order, ROUND-then-DECIMAL
    * lns, width-bounded decimal moments both engines can multiply). */
  val zipfSlopeQ: Q = Q(
    "x_zipf_slope",
    (s, d) => graft.corpus.Corpus.zipfSlope(Tables.documents(s, d)),
    Some("""
      WITH tk AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
                        FROM documents)),
      c AS (SELECT h, COUNT(*) AS n FROM tk GROUP BY 1 HAVING COUNT(*) >= 5),
      rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, h) AS r FROM c),
      t AS (SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
                   CAST(ROUND(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
            FROM rk),
      m AS (SELECT CAST(COUNT(*) AS DECIMAL(9,0)) AS nn,
                   CAST(SUM(x) AS DECIMAL(18,6)) AS sx,
                   CAST(SUM(y) AS DECIMAL(18,6)) AS sy,
                   CAST(SUM(x * y) AS DECIMAL(24,12)) AS sxy,
                   CAST(SUM(x * x) AS DECIMAL(24,12)) AS sxx
            FROM t)
      SELECT CAST(nn AS BIGINT) AS n_tokens,
             ROUND(CAST(nn * sxy - sx * sy AS DOUBLE)
                   / CAST(nn * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
             ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
                   / CAST(nn * sxx - sx * sx AS DOUBLE), 6) AS intercept
      FROM m
    """.trim)
  )

  /** BPE merge learning under the oracle: 3 merge iterations of
    * byte-pair encoding over the documents corpus (Corpus.learnBpeMerges
    * — weighted word dictionary, double-space-separated symbol strings, greedy
    * non-overlapping replace as the merge primitive). The oracle replays
    * the ENTIRE training loop — pair counting, the count-then-
    * lexicographic argmax, and both replace passes — as unrolled CTEs,
    * so the learned merge table is pinned end to end, the same way the
    * SemDeDup oracle replays a full Lloyd's run. */
  val bpeMergesQ: Q = Q(
    "x_bpe_merges",
    (s, d) => graft.corpus.Corpus.learnBpeMerges(
      Tables.documents(s, d), nMerges = 3),
    Some(s"""
      WITH ${OracleSql.bpeMergeCtes(3)}
      SELECT CAST(1 AS INT) AS step, a AS sym_a, b AS sym_b,
             a || b AS merged, cnt AS pair_n FROM b1
      UNION ALL
      SELECT 2, a, b, a || b, cnt FROM b2
      UNION ALL
      SELECT 3, a, b, a || b, cnt FROM b3
    """.trim)
  )

  /** BPE vocabulary application under the oracle: the symbol histogram
    * after the 3 learned merges (Corpus.bpeSymbolHistogram — the
    * tokenize-with-the-learned-vocab half of the BPE story, sharing the
    * training loop's dictionary). The oracle extends the x_bpe_merges
    * replay by the third replace pass and the final unnest+count. */
  val bpeVocabQ: Q = Q(
    "x_bpe_vocab",
    (s, d) => graft.corpus.Corpus.bpeSymbolHistogram(
      Tables.documents(s, d), nMerges = 3),
    Some(s"""
      WITH ${OracleSql.bpeMergeCtes(3, applyLast = true)}
      SELECT sym, CAST(SUM(n) AS BIGINT) AS n_occ
      FROM (SELECT n, unnest(string_split(trim(sp), '  ')) AS sym FROM t3) u
      GROUP BY sym
    """.trim)
  )

  /** Per-source cap at 15 (20 synthetic sources × 25 docs → every
    * source loses 10): the web-curation domain cap, keeping a
    * deterministic uniform md5-draw sample per source. The oracle
    * replays the identical 60-bit draw and rank test. */
  val sourceCap: Q = Q(
    "x_source_cap",
    (s, d) => graft.corpus.Corpus.capPerSource(Tables.documents(s, d), maxPerSource = 15)
      .select(col("doc_id"), col("source"), col("lang")),
    Some("""
      WITH ranked AS (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, doc_id) AS rn
        FROM documents)
      SELECT doc_id, source, lang FROM ranked WHERE rn <= 15
    """.trim)
  )

  /** Line-level boilerplate removal. The synthetic documents are
    * single-line, so the entry first folds every 5th word break into a
    * newline (a deterministic, engine-portable regex) and then drops
    * every line that occurs in more than one document — the CCNet /
    * RefinedWeb cleanup that strips nav bars / cookie banners /
    * footers. Duplicate documents lose all their lines and vanish. */
  val lineDedup: Q = Q(
    "x_line_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){4}\\S+) ", "$1\n").as("text"))
      graft.corpus.Corpus.dropBoilerplateLines(docs, maxDocFreq = 1)
    },
    Some("""
      WITH d AS (SELECT doc_id,
                        regexp_replace(text, '((\S+ ){4}\S+) ', '\1' || chr(10), 'g') AS text
                 FROM documents),
      lines AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS line
                FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM d)),
      freq AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line)
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
             CAST(count(*) AS INT) AS n_lines
      FROM lines JOIN freq USING (line)
      WHERE line_df <= 1
      GROUP BY doc_id
    """.trim)
  )

  /** TF-IDF top-3 terms per document (rational log-free idf — exact
    * IEEE division keeps scores and ranking bit-identical across
    * engines; see Corpus.tfidfTopTerms). */
  val tfidf: Q = Q(
    "x_tfidf",
    (s, d) => graft.corpus.Corpus.tfidfTopTerms(Tables.documents(s, d), k = 3),
    Some("""
      WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                    FROM documents),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM documents),
      scored AS (SELECT doc_id, tok, CAST(tf AS DOUBLE) / df * n AS score
                 FROM tf JOIN df USING (tok), n)
      SELECT doc_id, tok, ROUND(score, 6) AS score, rn
      FROM (SELECT doc_id, tok, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
            FROM scored) t
      WHERE rn <= 3
    """.trim)
  )

  /** Bigram-LM fluency scoring (Corpus.bigramLmScore scaladoc has the
    * semantics + scale story: 8-byte hashed bigrams in every exchange,
    * dictionary-sized count tables, one per-doc rollup). The oracle
    * replays the md5-60 bigram hashing, Laplace arithmetic with
    * DOUBLE-cast literals, and the decimal-exact mean. */
  val bigramLm: Q = Q(
    "x_lm_bigram",
    (s, d) => graft.corpus.Corpus.bigramLmScore(Tables.documents(s, d)),
    Some(s"""
      WITH ${OracleSql.bigramLaplaceCtes}
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS lm_score
      FROM p GROUP BY 1
    """.trim)
  )

  /** BM25 sparse retrieval — top-10 documents for a fixed query-term
    * set over the corpus (Corpus.bm25TopDocs scaladoc has the scale
    * story: one token explode filtered to the query terms at the scan,
    * tiny broadcast df/avgdl stats, TakeOrderedAndProject top-k). The
    * oracle replays the exact log-free rational-idf arithmetic; every
    * fractional literal is cast to DOUBLE because DuckDB otherwise
    * parses them as DECIMAL and the promotion order would change the
    * last-ulp story. */
  val bm25: Q = Q(
    "x_bm25",
    (s, d) => graft.corpus.Corpus.bm25TopDocs(
      Tables.documents(s, d), Seq("spark", "merge", "vector"), k = 10),
    Some(s"""
      WITH ${OracleSql.bm25ScoreCtes}
      SELECT doc_id, score, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
      FROM agg ORDER BY score DESC, doc_id LIMIT 10
    """.trim)
  )

  /** Token-window chunking into overlapping training windows (64-token
    * chunks, stride 48); every doc yields ≥ 1 chunk and the last chunk
    * reaches the final token. Entirely narrow (see Corpus.chunkTokens);
    * the oracle replays the integer chunk-count arithmetic and 1-based
    * slices exactly. */
  val textChunks: Q = Q(
    "x_text_chunks",
    (s, d) => graft.corpus.Corpus.chunkTokens(Tables.documents(s, d),
      chunkSize = 64, stride = 48),
    Some("""
      WITH w0 AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents),
      c AS (SELECT doc_id, w,
                   CASE WHEN len(w) <= 64 THEN 1
                        ELSE CAST(floor((len(w) - 64 + 47) / 48.0) AS BIGINT) + 1 END AS nc
            FROM w0),
      ch AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS j FROM c)
      SELECT doc_id, CAST(j AS INT) AS chunk_idx,
             array_to_string(w[j*48+1 : j*48+64], ' ') AS chunk_text,
             CAST(len(w[j*48+1 : j*48+64]) AS INT) AS n_tokens
      FROM ch
    """.trim)
  )

  /** Sequence packing: the corpus concatenated in doc-id order and cut
    * into fixed 256-token training windows — one row per (doc, window)
    * overlap with the doc-relative token span. The Spark side computes
    * the global prefix sum with the two-phase range-partition pattern
    * (no single-task window); the oracle IS a single-task window (fine
    * for DuckDB), so matching hashes prove the distributed prefix
    * arithmetic is exact. */
  val seqPack: Q = Q(
    "x_seq_pack",
    (s, d) => graft.corpus.Corpus.packSequences(Tables.documents(s, d), seqLen = 256),
    Some("""
      WITH t AS (SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS n FROM documents),
      c AS (SELECT doc_id, n,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gstart
            FROM t),
      s AS (SELECT doc_id, n, gstart,
                   unnest(generate_series(gstart // 256, (gstart + n - 1) // 256)) AS seq_id
            FROM c WHERE n > 0)
      SELECT doc_id, seq_id,
             CAST(GREATEST(seq_id * 256 - gstart, 0) AS INT) AS tok_start,
             CAST(LEAST((seq_id + 1) * 256 - gstart, n)
                  - GREATEST(seq_id * 256 - gstart, 0) AS INT) AS tok_len
      FROM s
    """.trim)
  )

  /** Packing fragmentation report over the x_seq_pack manifest: how
    * many documents the concat-packer SPLIT across sequence boundaries
    * (the rows whose attention a boundary contaminates), pieces per
    * sequence, and the split fraction — the readout that decides
    * between stream packing and pad-to-length for a training run. The
    * manifest is checkpointed once; both rollups are manifest-sized
    * aggregations (never re-running the packing walk), shares are one
    * divide of exact counts. */
  val packStatsQ: Q = Q(
    "x_pack_stats",
    (s, d) => {
      val m = GraftPins.cut(graft.corpus.Corpus
        .packSequences(Tables.documents(s, d), seqLen = 256))
      val perDoc = m.groupBy(col("doc_id")).agg(count(lit(1)).as("pieces"))
      val a = perDoc.agg(count(lit(1)).as("n_docs"),
        sum(col("pieces")).cast("bigint").as("n_pieces"),
        sum(when(col("pieces") > 1, 1L).otherwise(0L)).cast("bigint").as("docs_split"))
      val b = m.select(col("seq_id")).distinct().agg(count(lit(1)).as("n_seqs"))
      a.crossJoin(b).select(
        col("n_docs"), col("n_seqs"), col("n_pieces"), col("docs_split"),
        round(col("docs_split").cast("double") / col("n_docs"), 6).as("split_frac"),
        round(col("n_pieces").cast("double") / col("n_seqs"), 6).as("docs_per_seq"))
    },
    Some("""
      WITH t AS (SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS n FROM documents),
      c AS (SELECT doc_id, n,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gstart
            FROM t),
      s AS (SELECT doc_id, n, gstart,
                   unnest(generate_series(gstart // 256, (gstart + n - 1) // 256)) AS seq_id
            FROM c WHERE n > 0),
      pd AS (SELECT doc_id, COUNT(*) AS pieces FROM s GROUP BY 1),
      a AS (SELECT COUNT(*) AS n_docs, CAST(SUM(pieces) AS BIGINT) AS n_pieces,
                   CAST(SUM(CASE WHEN pieces > 1 THEN 1 ELSE 0 END) AS BIGINT) AS docs_split
            FROM pd),
      b AS (SELECT COUNT(DISTINCT seq_id) AS n_seqs FROM s)
      SELECT n_docs, n_seqs, n_pieces, docs_split,
             ROUND(CAST(docs_split AS DOUBLE) / n_docs, 6) AS split_frac,
             ROUND(CAST(n_pieces AS DOUBLE) / n_seqs, 6) AS docs_per_seq
      FROM a, b
    """.trim)
  )

  /** The materialized pack: actual 256-token training sequences, each
    * window's doc pieces sliced and concatenated in doc order. Oracle
    * replays span arithmetic + list slicing + ordered string_agg. */
  val seqMaterialize: Q = Q(
    "x_seq_materialize",
    (s, d) => graft.corpus.Corpus.materializeSequences(Tables.documents(s, d), seqLen = 256),
    Some("""
      WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS w,
                        len(regexp_split_to_array(text, '\s+')) AS n FROM documents),
      c AS (SELECT doc_id, w, n,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS gstart
            FROM t),
      s AS (SELECT doc_id, w, n, gstart,
                   unnest(generate_series(gstart // 256, (gstart + n - 1) // 256)) AS seq_id
            FROM c WHERE n > 0),
      pieces AS (SELECT seq_id, doc_id,
                        CAST(GREATEST(seq_id * 256 - gstart, 0) AS BIGINT) AS tok_start,
                        CAST(LEAST((seq_id + 1) * 256 - gstart, n)
                             - GREATEST(seq_id * 256 - gstart, 0) AS BIGINT) AS tok_len,
                        w FROM s)
      SELECT seq_id, COUNT(*) AS n_docs,
             CAST(SUM(tok_len) AS BIGINT) AS n_tokens,
             string_agg(array_to_string(w[tok_start+1 : tok_start+tok_len], ' '), ' '
                        ORDER BY doc_id) AS seq_text
      FROM pieces GROUP BY seq_id
    """.trim)
  )

  /** DSIR-style importance weighting (Corpus.dsirScore scaladoc has the
    * method + scale story). Target corpus = the src0 documents (a stand
    * -in for a curated seed set); raw = the whole table. The oracle
    * replays hashed buckets, Laplace smoothing, and the mean
    * likelihood ratio with identical arithmetic order. */
  val dsirWeights: Q = Q(
    "x_dsir_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.corpus.Corpus.dsirScore(docs, docs.filter(col("source") === "src0"))
    },
    Some("""
      WITH rb AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS b
                  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                        FROM documents)),
      tb AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS b
             FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
                   FROM documents WHERE source = 'src0')),
      cr AS (SELECT b, COUNT(*) AS cr FROM rb GROUP BY 1),
      ct AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY 1),
      nr AS (SELECT COUNT(*) AS nr FROM rb),
      nt AS (SELECT COUNT(*) AS nt FROM tb),
      r AS (SELECT cr.b,
                   CAST(ROUND(((COALESCE(ct.ct, 0) + CAST(1.0 AS DOUBLE)) / (nt + 512)) *
                              ((nr + 512) / (cr.cr + CAST(1.0 AS DOUBLE))), 6)
                        AS DECIMAL(18,6)) AS s
            FROM cr LEFT JOIN ct USING (b), nr, nt)
      SELECT doc_id, COUNT(*) AS n_toks,
             ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS dsir_score
      FROM rb JOIN r USING (b) GROUP BY 1
    """.trim)
  )

  /** Hybrid sparse+dense retrieval fused by reciprocal rank
    * (Corpus.hybridRrf scaladoc): BM25 top-20 for the fixed term set ∪
    * exact-cosine top-20 around vec 0, fused 1/(60+rank) scores, top
    * 10. The oracle replays both rankers and the fusion. */
  val hybridRrfQ: Q = Q(
    "x_hybrid_rrf",
    (s, d) => graft.corpus.Corpus.hybridRrf(
      Tables.documents(s, d), coEmbeddings(s, d),
      Seq("spark", "merge", "vector"), queryVecId = 0L, k = 10, kCand = 20),
    Some(s"""
      WITH ${OracleSql.bm25ScoreCtes},
      bm AS (SELECT doc_id, brn
             FROM (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS brn
                   FROM agg) t
             WHERE brn <= 20),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      sc2 AS (SELECT vec_id,
                     list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS c
              FROM e, q WHERE vec_id <> 0),
      vn AS (SELECT vec_id AS doc_id, vrn
             FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS vrn
                   FROM sc2) t
             WHERE vrn <= 20),
      f AS (SELECT doc_id,
                   CAST(COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) / (60 + brn), 6) AS DECIMAL(18,6)), 0) +
                        COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) / (60 + vrn), 6) AS DECIMAL(18,6)), 0)
                        AS DOUBLE) AS rrf_score
            FROM bm FULL JOIN vn USING (doc_id))
      SELECT doc_id, rrf_score,
             ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rn
      FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10
    """.trim)
  )

  /** Deterministic weighted priority sample (Corpus.prioritySample
    * scaladoc): q = weight / salted-uniform-draw, top 50. The oracle
    * replays the draw scaling and both divisions in order. */
  val prioritySampleQ: Q = Q(
    "x_priority_sample",
    (s, d) => graft.corpus.Corpus.prioritySample(Tables.documents(s, d), k = 50),
    Some("""
      WITH p AS (SELECT doc_id, n_chars,
                        CAST(n_chars AS DOUBLE) /
                          ((('0x' || substr(md5('prio:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)::DOUBLE
                           / 1152921504606846976.0) AS q
                 FROM documents)
      SELECT doc_id, n_chars, ROUND(q, 6) AS priority,
             ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS rn
      FROM p ORDER BY q DESC, doc_id LIMIT 50
    """.trim)
  )

  /** Tokenizer-vocabulary coverage table (Corpus.vocabCoverage
    * scaladoc): top-V tokens by count with cumulative corpus coverage.
    * The oracle replays the rank, tie order, and running sum. */
  val vocabCoverageQ: Q = Q(
    "x_vocab_coverage",
    (s, d) => graft.corpus.Corpus.vocabCoverage(Tables.documents(s, d), vocabSize = 2000),
    Some("""
      WITH t AS (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents),
      c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1),
      tot AS (SELECT SUM(cnt) AS total FROM c),
      top AS (SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
              FROM c ORDER BY cnt DESC, tok LIMIT 2000)
      SELECT rank, tok, cnt,
             ROUND(CAST(SUM(cnt) OVER (ORDER BY rank) AS DOUBLE) / total, 6) AS coverage
      FROM top, tot
    """.trim)
  )

  /** Content-defined chunk fingerprints (Corpus.cdcChunks scaladoc):
    * hash-boundary chunking, shift-robust by construction. The oracle
    * replays boundary flags, the running-sum chunk ids, and every
    * chunk digest. */
  val cdcChunksQ: Q = Q(
    "x_cdc_chunks",
    (s, d) => graft.corpus.Corpus.cdcChunks(Tables.documents(s, d), avgChunk = 16),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      tok AS (SELECT doc_id, i, toks[i + 1] AS t
              FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM base)),
      f AS (SELECT doc_id, i, t,
                   CASE WHEN ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = 0 THEN 1 ELSE 0 END AS b
            FROM tok),
      c AS (SELECT doc_id, i, t,
                   CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY i) - b AS BIGINT) AS chunk_idx
            FROM f)
      SELECT doc_id, chunk_idx, COUNT(*) AS n_toks,
             md5(string_agg(t, ' ' ORDER BY i)) AS chunk_fp
      FROM c GROUP BY doc_id, chunk_idx
    """.trim)
  )

  /** Chunk-level dedup savings per source (Corpus.cdcDedupStats
    * scaladoc). The oracle recomputes the canonical choice with a
    * window rank instead of the Spark side's min-struct aggregate —
    * two independent argmin mechanisms must agree on every ratio. */
  val cdcDedupStatsQ: Q = Q(
    "x_cdc_dedup_ratio",
    (s, d) => graft.corpus.Corpus.cdcDedupStats(Tables.documents(s, d), avgChunk = 16),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      tok AS (SELECT doc_id, i, toks[i + 1] AS t
              FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM base)),
      f AS (SELECT doc_id, i, t,
                   CASE WHEN ('0x' || substr(md5(t), 1, 15))::BIGINT % 16 = 0 THEN 1 ELSE 0 END AS b
            FROM tok),
      c AS (SELECT doc_id, i, t,
                   CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY i) - b AS BIGINT) AS chunk_idx
            FROM f),
      ch AS (SELECT doc_id, chunk_idx, COUNT(*) AS n_toks,
                    md5(string_agg(t, ' ' ORDER BY i)) AS fp
             FROM c GROUP BY 1, 2),
      mk AS (SELECT doc_id, chunk_idx, n_toks,
                    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn
             FROM ch)
      SELECT source, COUNT(*) AS n_chunks,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN rn > 1 THEN n_toks ELSE 0 END) AS BIGINT) AS dup_tokens,
             ROUND(CAST(SUM(CASE WHEN rn > 1 THEN n_toks ELSE 0 END) AS DOUBLE)
                   / SUM(n_toks), 6) AS dedup_ratio
      FROM mk JOIN documents USING (doc_id) GROUP BY 1
    """.trim)
  )

  /** CCNet head/middle/tail perplexity buckets (Corpus.pplBuckets
    * scaladoc: exact distributed NTILE — range shuffle + per-partition
    * rank + broadcast offsets, never a global window). The oracle IS
    * DuckDB's NTILE over the same score/tie order. */
  val pplBucketsQ: Q = Q(
    "x_ppl_buckets",
    (s, d) => graft.corpus.Corpus.pplBuckets(Tables.documents(s, d), nBuckets = 3),
    Some(s"""
      WITH ${OracleSql.bigramLaplaceCtes},
      sc AS (SELECT doc_id,
                    ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS lm_score
             FROM p GROUP BY 1)
      SELECT doc_id, lm_score,
             CAST(NTILE(3) OVER (ORDER BY lm_score, doc_id) AS BIGINT) AS ppl_bucket
      FROM sc
    """.trim)
  )

  /** Data-constrained epoch allocation (Corpus.mixEpochs scaladoc):
    * sqrt-temperature budget shares converted to capped repeat
    * factors. Budget 1M tokens, cap 4 epochs. */
  val mixEpochsQ: Q = Q(
    "x_mix_epochs",
    (s, d) => graft.corpus.Corpus.mixEpochs(Tables.documents(s, d),
      budgetTokens = 1000000L, maxEpochs = 4.0),
    Some("""
      WITH c AS (SELECT source,
                        CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY 1),
      s AS (SELECT source, n_tokens,
                   CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS sq
            FROM c),
      z AS (SELECT SUM(sq) AS z FROM s)
      SELECT source, n_tokens,
             ROUND(CAST(sq AS DOUBLE) / CAST(z AS DOUBLE), 6) AS share,
             ROUND(LEAST(4.0,
               ROUND(CAST(sq AS DOUBLE) / CAST(z AS DOUBLE), 6) * 1000000.0 / n_tokens),
               6) AS epochs
      FROM s, z
    """.trim)
  )

  /** Per-doc BPE encode under the oracle (Corpus.bpeEncodeStats): the
    * corpus encoded with the 3 learned merges — token count vs
    * post-merge symbol count per doc. The oracle replays the full
    * training loop (as x_bpe_merges), then the doc-level encode: the
    * concatenated per-token double-space strings leave three spaces at
    * token boundaries, so the two-space merge pattern can't cross them
    * — in both engines, by the same string. */
  val bpeEncodeQ: Q = Q(
    "x_bpe_encode",
    (s, d) => graft.corpus.Corpus.bpeEncodeStats(Tables.documents(s, d), nMerges = 3),
    Some(s"""
      WITH ${OracleSql.bpeMergeCtes(3)},
      enc AS (SELECT doc_id,
               len(regexp_split_to_array(text, '\\s+')) AS n_tokens,
               array_to_string(list_transform(
                 regexp_split_to_array(text, '\\s+'),
                 t -> ' ' || regexp_replace(t, '(.)', '\\1  ', 'g')), '') AS sp
              FROM documents),
      e1 AS (SELECT doc_id, n_tokens, ${OracleSql.bpeApplySql(1)} AS sp FROM enc),
      e2 AS (SELECT doc_id, n_tokens, ${OracleSql.bpeApplySql(2)} AS sp FROM e1),
      e3 AS (SELECT doc_id, n_tokens, ${OracleSql.bpeApplySql(3)} AS sp FROM e2)
      SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             CAST(len(regexp_split_to_array(trim(sp), '\\s+')) AS INT) AS n_symbols
      FROM e3
    """.trim)
  )

  /** N-gram novelty under the oracle (Corpus.ngramNovelty scaladoc):
    * per doc, the fraction of its distinct 4-token window hashes with
    * corpus doc-frequency 1. The oracle replays the winnowing-family
    * 60-bit md5 window hashes, the doc-distinct gram sets, the
    * doc-frequency counts, and the one exact-integer division. */
  val ngramNoveltyQ: Q = Q(
    "x_ngram_novelty",
    (s, d) => graft.corpus.Corpus.ngramNovelty(Tables.documents(s, d), w = 4),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      g AS (SELECT doc_id, list_distinct(list_transform(
              generate_series(1, greatest(len(toks) - 3, 1)), i ->
                ('0x' || substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 15))::BIGINT)) AS grams
            FROM base),
      x AS (SELECT doc_id, unnest(grams) AS gr FROM g),
      df AS (SELECT gr, CAST(COUNT(*) AS BIGINT) AS dfc FROM x GROUP BY gr)
      SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN df.dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             CAST(SUM(CASE WHEN df.dfc = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novelty
      FROM x JOIN df ON x.gr = df.gr
      GROUP BY x.doc_id
    """.trim)
  )

  /** Interpolated Kneser-Ney bigram LM scoring (Corpus.knBigramScore
    * scaladoc has the smoothing math + scale story). The oracle replays
    * the md5-60 hash construction, both N1+ continuation dictionaries
    * off the same distinct-triple type table, and the exact
    * discount arithmetic with DOUBLE-cast literals. */
  val knLmQ: Q = Q(
    "x_lm_kn",
    (s, d) => graft.corpus.Corpus.knBigramScore(Tables.documents(s, d)),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
                    FROM documents
                    WHERE len(regexp_split_to_array(text, '\s+')) >= 2),
      big AS (SELECT doc_id,
                   ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT AS h1,
                   ('0x' || substr(md5(toks[i] || ' ' || toks[i+1]), 1, 15))::BIGINT AS h2,
                   ('0x' || substr(md5(toks[i+1]), 1, 15))::BIGINT AS hc
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM base)),
      c2 AS (SELECT h2, COUNT(*) AS c2 FROM big GROUP BY 1),
      c1 AS (SELECT h1, COUNT(*) AS c1 FROM big GROUP BY 1),
      ty AS (SELECT DISTINCT h1, h2, hc FROM big),
      np AS (SELECT h1, COUNT(*) AS np FROM ty GROUP BY 1),
      nc AS (SELECT hc, COUNT(*) AS nc FROM ty GROUP BY 1),
      tt AS (SELECT COUNT(*) AS t FROM ty),
      p AS (SELECT doc_id,
              CAST(ROUND(
                (greatest(c2 - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                 + (CAST(0.75 AS DOUBLE) * np) * (CAST(nc AS DOUBLE) / t)) / c1,
              6) AS DECIMAL(18,6)) AS s
            FROM big JOIN c2 USING (h2) JOIN c1 USING (h1)
                     JOIN np USING (h1) JOIN nc USING (hc), tt)
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS kn_score
      FROM p GROUP BY 1
    """.trim)
  )

  /** Probe-only BM25 over the PERSISTED inverted index — identical
    * query/parameters/result as x_bm25 (shared scoring tail), so the
    * oracle is the same replay; what changes is WHERE the corpus cost
    * is paid: the tokenize/explode/count build runs once
    * (Corpus.saveInvertedIndex), each probe reads only the query
    * terms' pushdown-pruned postings. */
  val bm25IndexedQ: Q = Q(
    "x_bm25_indexed",
    (s, d) => graft.corpus.Corpus.bm25TopDocsIndexed(
      s, invIndexFor(s, d), Seq("spark", "merge", "vector"), k = 10),
    bm25.oracle
  )

  /** Hashing-trick featurization of documents into k=64 sparse count
    * triples (Corpus.featureHash scaladoc: map-side combine caps the
    * exchange at k triples per doc; md5Hash60 replayed by the oracle
    * bit-for-bit). */
  val featureHashQ: Q = Q(
    "x_feature_hash",
    (s, d) => graft.corpus.Corpus.featureHash(Tables.documents(s, d), k = 64),
    Some("""
      WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                 FROM documents),
      f AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS bucket
            FROM t WHERE length(tok) > 0)
      SELECT doc_id, bucket, COUNT(*) AS n FROM f GROUP BY 1, 2
    """.trim)
  )

  /** Conjunctive boolean retrieval over the persisted inverted index
    * (Corpus.booleanSearchIndexed scaladoc: pushdown-pruned postings
    * probe, count==nTerms IS the set intersection, TakeOrdered top-k).
    * Same index directory as x_bm25_indexed — one build serves both
    * probe shapes. The oracle replays the intersection from the raw
    * documents with the identical whitespace tokenizer. */
  val boolSearchQ: Q = Q(
    "x_bool_search",
    (s, d) => graft.corpus.Corpus.booleanSearchIndexed(
      s, invIndexFor(s, d), Seq("spark", "merge", "vector"), k = 20),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
                           len(regexp_split_to_array(text, '\s+')) AS dl
                    FROM documents),
      tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
             FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
             WHERE tok IN ('spark', 'merge', 'vector') GROUP BY 1, 2, 3),
      hits AS (SELECT doc_id, dl, SUM(tf) AS total_tf
               FROM tf GROUP BY 1, 2 HAVING COUNT(*) = 3)
      SELECT doc_id, dl, CAST(total_tf AS BIGINT) AS total_tf
      FROM hits ORDER BY total_tf DESC, doc_id LIMIT 20
    """.trim)
  )

  /** Per-source governance report (Corpus.sourceReport scaladoc: one
    * fingerprint exchange with an on-partition duplicate-count window,
    * one source rollup; cross-source copies count in every carrying
    * source). */
  val sourceReportQ: Q = Q(
    "x_source_report",
    (s, d) => graft.corpus.Corpus.sourceReport(Tables.documents(s, d)),
    Some("""
      WITH b AS (SELECT source, md5(text) AS fp,
                        len(regexp_split_to_array(text, '\s+')) AS nt FROM documents),
      m AS (SELECT *, COUNT(*) OVER (PARTITION BY fp) AS fpc FROM b)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
             CAST(SUM(CASE WHEN fpc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             ROUND(CAST(SUM(CASE WHEN fpc > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_share
      FROM m GROUP BY 1
    """.trim)
  )

  /** Token-budget waterfilling (Corpus.tokenWaterfill scaladoc:
    * max-min-fair source caps from exact integer arithmetic on the
    * sorted source grid; the oracle replays the boundary scan with
    * the identical sandwich condition). Budget 20000 < the sf0.01
    * corpus (~27k tokens) so the cap binds. */
  val waterfillQ: Q = Q(
    "x_token_waterfill",
    (s, d) => graft.corpus.Corpus.tokenWaterfill(Tables.documents(s, d), budget = 20000L),
    Some("""
      WITH t AS (SELECT source,
                        CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS tok
                 FROM documents GROUP BY 1),
      g AS (SELECT *, ROW_NUMBER() OVER (ORDER BY tok, source) AS rn,
                   SUM(tok) OVER (ORDER BY tok, source) AS pre,
                   COALESCE(LAG(tok) OVER (ORDER BY tok, source), 0) AS ptok,
                   COUNT(*) OVER () AS n, SUM(tok) OVER () AS total FROM t),
      c AS (SELECT MIN((20000 - (pre - tok)) // (n - rn + 1)) AS cap
            FROM g WHERE total > 20000
              AND (20000 - (pre - tok)) // (n - rn + 1) >= ptok
              AND (20000 - (pre - tok)) // (n - rn + 1) < tok)
      SELECT source, tok AS tokens,
             CAST(CASE WHEN total <= 20000 THEN tok ELSE LEAST(tok, cap) END AS BIGINT) AS alloc,
             (total > 20000 AND tok > cap) AS capped
      FROM g, c
    """.trim)
  )

  /** PMI collocations (Corpus.pmiCollocations scaladoc: exact counts
    * on md5-60 keys, driver-scalar totals, one fixed-parenthesization
    * double PMI rounded before ranking, (ha, hb) tiebreaks). The
    * oracle replays the pair/unigram counts and the identical
    * arithmetic. */
  val pmiPairsQ: Q = Q(
    "x_pmi_pairs",
    (s, d) => graft.corpus.Corpus.pmiCollocations(Tables.documents(s, d),
      minCount = 5L, k = 20),
    Some("""
      WITH base AS (SELECT regexp_split_to_array(text, '\s+') AS toks FROM documents),
      uni AS (SELECT ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS h
              FROM (SELECT toks, unnest(range(0, len(toks))) AS i FROM base)),
      cu AS (SELECT h, COUNT(*) AS c FROM uni GROUP BY 1),
      tu AS (SELECT COUNT(*) AS t FROM uni),
      bg AS (SELECT ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS ha,
                    ('0x' || substr(md5(toks[i + 2]), 1, 15))::BIGINT AS hb
             FROM (SELECT toks, unnest(range(0, len(toks) - 1)) AS i FROM base
                   WHERE len(toks) >= 2)),
      cp AS (SELECT ha, hb, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2),
      tp AS (SELECT COUNT(*) AS t FROM bg),
      sc AS (SELECT ha, hb,
                    CAST(n_pair AS BIGINT) AS n_pair,
                    CAST(a.c AS BIGINT) AS n_a, CAST(b.c AS BIGINT) AS n_b,
                    ROUND(LN((CAST(n_pair AS DOUBLE) * tu.t * tu.t) /
                             (CAST(tp.t AS DOUBLE) * a.c * b.c)), 6) AS pmi
             FROM cp JOIN cu a ON cp.ha = a.h JOIN cu b ON cp.hb = b.h, tu, tp
             WHERE n_pair >= 5)
      SELECT ha, hb, n_pair, n_a, n_b, pmi, rn
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, ha, hb) AS rn FROM sc) t
      WHERE rn <= 20
    """.trim)
  )

  /** Heaps'-law vocabulary-growth curve (Corpus.vocabGrowth scaladoc:
    * 60-bit md5 types, globalRank stream positions, integer checkpoint
    * arithmetic, P-row broadcast fan-out). The oracle replays the
    * (doc_id, pos) total order, the ceil-div checkpoints and the
    * first-occurrence counts. */
  val vocabGrowthQ: Q = Q(
    "x_vocab_growth",
    (s, d) => graft.corpus.Corpus.vocabGrowth(Tables.documents(s, d), nPoints = 8),
    Some("""
      WITH base AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
                    FROM documents),
      tk AS (SELECT doc_id, i AS pos,
                    ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS h
             FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM base)),
      rk AS (SELECT h, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS gpos FROM tk),
      fo AS (SELECT h, MIN(gpos) AS f FROM rk GROUP BY 1),
      tt AS (SELECT COUNT(*) AS t FROM rk),
      pt AS (SELECT p, (p * t + 7) // 8 AS n_prefix
             FROM (SELECT unnest(generate_series(1, 8)) AS p), tt)
      SELECT CAST(p AS BIGINT) AS point, CAST(n_prefix AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             ROUND(CAST(COUNT(*) AS DOUBLE) / n_prefix, 6) AS ttr
      FROM fo, pt WHERE f <= n_prefix GROUP BY p, n_prefix
    """.trim)
  )

  /** TextRank keywords (Corpus.textRankKeywords scaladoc: md5-60
    * token nodes gated at count ≥ 5, DISTINCT bidirectional adjacency
    * edges, PageRankOp's 1e-12 fixed-point walk). The oracle rebuilds
    * the token graph with the x_pmi_pairs tokenization and replays the
    * x_pagerank unrolled 3-iteration integer recursion over it, so
    * every keyword rank is pinned exactly. */
  val textRankQ: Q = Q(
    "x_textrank",
    (s, d) => graft.corpus.Corpus.textRankKeywords(Tables.documents(s, d),
      minCount = 5L, k = 20, iters = 3),
    Some(s"""
      WITH base AS (SELECT regexp_split_to_array(text, '\\s+') AS toks FROM documents),
      uni AS (SELECT ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS h
              FROM (SELECT toks, unnest(range(0, len(toks))) AS i FROM base)),
      vocab AS (SELECT h FROM (SELECT h, COUNT(*) AS c FROM uni GROUP BY 1) t
                WHERE c >= 5),
      bg AS (SELECT ('0x' || substr(md5(toks[i + 1]), 1, 15))::BIGINT AS ha,
                    ('0x' || substr(md5(toks[i + 2]), 1, 15))::BIGINT AS hb
             FROM (SELECT toks, unnest(range(0, len(toks) - 1)) AS i FROM base
                   WHERE len(toks) >= 2)),
      ed AS (SELECT DISTINCT ha, hb FROM bg
             WHERE ha <> hb AND ha IN (SELECT h FROM vocab)
               AND hb IN (SELECT h FROM vocab)),
      e AS (SELECT ha AS src, hb AS dst FROM ed
            UNION SELECT hb AS src, ha AS dst FROM ed),
      ${OracleSql.pageRankCtes(3)}
      SELECT node, rank_u, rn
      FROM (SELECT node, rank_u,
                   ROW_NUMBER() OVER (ORDER BY rank_u DESC, node) AS rn
            FROM r3) t
      WHERE rn <= 20
    """.trim)
  )

  def all: Seq[Q] = Seq(seqPack, seqMaterialize, packStatsQ, textChunks, corpusPipeline,
    contamination, stratifiedSample, sampleFixedKQ, corpusShuffleQ, corpusMix, corpusMixTemperature,
    shardPack, adaptiveFilter, splitAssign, splitLeakageFree, tfidf, bm25, bigramLm, lineDedup,
    sourceCap, heavyHittersQ, bpeMergesQ, bpeVocabQ, dsirWeights, hybridRrfQ, prioritySampleQ,
    vocabCoverageQ, cdcChunksQ, cdcDedupStatsQ, pplBucketsQ, mixEpochsQ, ngramNoveltyQ, bpeEncodeQ,
    knLmQ, bm25IndexedQ, featureHashQ, boolSearchQ, sourceReportQ, waterfillQ, vocabGrowthQ,
    pmiPairsQ, zipfSlopeQ, textRankQ)
}
