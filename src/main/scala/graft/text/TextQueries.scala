package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Catalog entries for the text-analysis tier, over `documents`.
  * Oracles mirror the exact integer/regex arithmetic in DuckDB —
  * everything is integer-valued, so no float-order hazards.
  */
object TextQueries {

  /** Token counting + quality stats (all integer). The four token
    * counters come from one native text_stats pass, projected once and
    * field-referenced (CollapseProject keeps the struct shared). */
  val stats: Q = Q(
    "x_text_stats",
    (s, d) => {
      val t = col("text")
      Tables.documents(s, d).select(
        col("doc_id"), t.as("text"),
        TextAnalysis.textStats(t).as("st"))
        .select(
          col("doc_id"),
          col("st.n_tokens").as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords"),
          length(col("text")).as("len_chars"),
          col("st.max_token_len").as("max_token_len"),
          col("st.n_punct").as("n_punct"),
          col("st.n_stopwords").as("n_stopwords"),
          TextAnalysis.qualityScoreFrom(col("st"), col("text")).as("quality"))
    },
    Some("""
      SELECT doc_id,
             len(regexp_split_to_array(text, '\s+')) AS n_tokens,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_subwords,
             length(text) AS len_chars,
             list_max(list_transform(regexp_split_to_array(text, '\s+'), x -> length(x))) AS max_token_len,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                 x -> list_contains(['the','a','an','and','or','of','to','in','is','was','for','on','with','as','at','by','it','this','that'], x))) AS n_stopwords,
             100
               - CASE WHEN len(regexp_split_to_array(text, '\s+')) < 10 THEN 40 ELSE 0 END
               - CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
                     x -> list_contains(['the','a','an','and','or','of','to','in','is','was','for','on','with','as','at','by','it','this','that'], x))) = 0 THEN 25 ELSE 0 END
               - CASE WHEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g'))) * 5 > length(text) THEN 20 ELSE 0 END
               - CASE WHEN list_max(list_transform(regexp_split_to_array(text, '\s+'), x -> length(x))) > 30 THEN 15 ELSE 0 END
               AS quality
      FROM documents
    """.trim)
  )

  /** Marker-word language ID with fixed tie order. */
  val langid: Q = Q(
    "x_langid",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      TextAnalysis.detectLang(col("text")).as("detected_lang")),
    Some("""
      WITH scores AS (
        SELECT doc_id, lang AS labeled_lang,
               len(regexp_extract_all(text, '\b(the|and|of|is)\b')) AS c_en,
               len(regexp_extract_all(text, '\b(der|und|die|das)\b')) AS c_de,
               len(regexp_extract_all(text, '\b(el|la|los|de)\b')) AS c_es,
               len(regexp_extract_all(text, '\b(le|la|les|des)\b')) AS c_fr,
               len(regexp_extract_all(text, '[一-鿿]')) AS c_zh
        FROM documents)
      SELECT doc_id, labeled_lang,
             CASE
               WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
               WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
               WHEN c_es > 0 AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
               WHEN c_fr > 0 AND c_fr >= c_zh THEN 'fr'
               WHEN c_zh > 0 THEN 'zh'
               ELSE 'unknown'
             END AS detected_lang
      FROM scores
    """.trim)
  )

  /** Document fingerprinting, oracle-checked on the md5 basis:
    * whole-doc fingerprint of the normalized text, the minimum shingle
    * fingerprint (the winnowing-style content anchor), and the rolling
    * window count (computed via the native RollingHashes expression;
    * its count is hash-independent). The xxhash64 fingerprint remains
    * the in-engine fast path, spec-pinned. */
  val fingerprints: Q = Q(
    "x_fingerprint",
    (s, d) => Tables.documents(s, d).select(
      col("doc_id"),
      md5(org.apache.spark.sql.graftext.VectorExpressions.normalizeWs(col("text"))
        .cast("binary")).as("fp_md5"),
      org.apache.spark.sql.graftext.VectorExpressions.md5Min(
        graft.dedup.Dedup.shingles(col("text"))).as("min_shingle_md5"),
      size(TextAnalysis.rollingFingerprints(col("text"))).as("n_windows")),
    Some("""
      WITH w AS (SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS toks FROM documents),
      sh AS (SELECT doc_id, text, toks, list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(toks[i:i+2], ' '))) AS shl FROM w)
      SELECT doc_id,
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp_md5,
             list_min(list_transform(shl, g -> md5(g))) AS min_shingle_md5,
             CAST(greatest(len(toks) - 7, 1) AS INT) AS n_windows
      FROM sh
    """.trim)
  )

  /** PII redaction over text with planted synthetic PII (the corpus
    * text carries none, so an email/phone/IP derived from doc fields is
    * appended): audit counts per kind plus the redacted tail. Patterns
    * stay in the Java∩RE2 regex subset so DuckDB replays the exact
    * spans. */
  val piiScrub: Q = {
    val emailP = TextAnalysis.piiPatterns(0)._2
    val ipP = TextAnalysis.piiPatterns(1)._2
    val phoneP = TextAnalysis.piiPatterns(2)._2
    Q(
      "x_pii_scrub",
      (s, d) => {
        val raw = concat(
          col("text"), lit(" contact "), col("lang"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".1"))
        Tables.documents(s, d)
          .select(col("doc_id"), raw.as("s"))
          .select(
            col("doc_id"),
            TextAnalysis.piiCount(col("s"), emailP).as("n_emails"),
            TextAnalysis.piiCount(col("s"), ipP).as("n_ips"),
            TextAnalysis.piiCount(col("s"), phoneP).as("n_phones"),
            TextAnalysis.redactPii(expr("right(s, 60)")).as("redacted_tail"))
      },
      Some(s"""
        WITH raw AS (SELECT doc_id,
                            text || ' contact ' || lang || CAST(doc_id AS VARCHAR) ||
                            '@example.com or 555-' ||
                            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                            ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS s
                     FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(s, '$emailP')) AS n_emails,
               len(regexp_extract_all(s, '$ipP')) AS n_ips,
               len(regexp_extract_all(s, '$phoneP')) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(right(s, 60),
                   '$emailP', '<EMAIL>', 'g'),
                   '$ipP', '<IP>', 'g'),
                   '$phoneP', '<PHONE>', 'g') AS redacted_tail
        FROM raw
      """.trim)
    )
  }

  /** Intra-document repetition ratio (Gopher-style quality rule):
    * 1 − distinct/total 3-token windows. */
  val selfRepetition: Q = Q(
    "x_self_repetition",
    (s, d) => {
      val t = col("text")
      Tables.documents(s, d).select(
        col("doc_id"),
        greatest(size(TextAnalysis.tokens(t)) - 2, lit(1)).as("n_windows"),
        size(graft.dedup.Dedup.shingles(t)).as("n_distinct"),
        TextAnalysis.selfRepetition(t).as("rep_ratio"))
    },
    Some("""
      WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents)
      SELECT doc_id,
             CAST(greatest(len(toks) - 2, 1) AS INT) AS n_windows,
             CAST(len(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(toks[i:i+2], ' ')))) AS INT) AS n_distinct,
             ROUND(1.0 - CAST(len(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(toks[i:i+2], ' ')))) AS DOUBLE)
               / greatest(len(toks) - 2, 1), 6) AS rep_ratio
      FROM w
    """.trim)
  )

  /** Gopher-style quality rules (word-count range, mean word length,
    * symbol ratio, alphabetic-word fraction, stopword floor) — each
    * rule an integer cross-multiplication test on the one-pass
    * text_stats struct, so the booleans replay exactly in any engine.
    * minWords=40 splits the synthetic corpus ~2:1 so both outcomes are
    * exercised. */
  val gopherRules: Q = Q(
    "x_gopher_rules",
    (s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.textStats(t).as("st"))
        .withColumn("r", TextAnalysis.gopherRules(col("st"), minWords = 40))
        .select(
          col("doc_id"),
          col("st.n_tokens").as("n_tokens"),
          col("r.r_word_count").as("r_word_count"),
          col("r.r_mean_word_len").as("r_mean_word_len"),
          col("r.r_symbol_ratio").as("r_symbol_ratio"),
          col("r.r_alpha_words").as("r_alpha_words"),
          col("r.r_stopwords").as("r_stopwords"),
          col("r.keep").as("keep"))
    },
    Some("""
      WITH st AS (
        SELECT doc_id,
               len(regexp_split_to_array(text, '\s+')) AS n_tokens,
               length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                   x -> list_contains(['the','a','an','and','or','of','to','in','is','was','for','on','with','as','at','by','it','this','that'], x))) AS n_stopwords,
               length(regexp_replace(text, '\s+', '', 'g')) AS n_word_chars,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                   x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha_tokens
        FROM documents)
      SELECT doc_id, n_tokens,
             (n_tokens >= 40 AND n_tokens <= 100000) AS r_word_count,
             (n_word_chars >= n_tokens * 3 AND n_word_chars <= n_tokens * 10) AS r_mean_word_len,
             (n_punct * 100 <= n_tokens * 10) AS r_symbol_ratio,
             (n_alpha_tokens * 100 >= n_tokens * 80) AS r_alpha_words,
             (n_stopwords >= 2) AS r_stopwords,
             (n_tokens >= 40 AND n_tokens <= 100000
              AND n_word_chars >= n_tokens * 3 AND n_word_chars <= n_tokens * 10
              AND n_punct * 100 <= n_tokens * 10
              AND n_alpha_tokens * 100 >= n_tokens * 80
              AND n_stopwords >= 2) AS keep
      FROM st
    """.trim)
  )

  /** Model-based quality gate (QualityClassifier.score) under the
    * deterministic synthetic weight table — the oracle regenerates the
    * same model from md5 and replays grams → buckets → decimal-exact
    * weight mean → sigmoid. dim = 4096 keeps the weight broadcast and
    * the generate_series replay small while leaving buckets sparse
    * enough that collisions actually occur (the hashing trick's
    * defining behavior). */
  val qualityClassifier: Q = {
    val dim = 4096
    Q(
      "x_quality_classifier",
      (s, d) => QualityClassifier.score(Tables.documents(s, d),
        QualityClassifier.syntheticWeights(s, dim), dim = dim),
      Some(s"""
      WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS tk FROM documents),
      g0 AS (SELECT doc_id, list_concat(tk, list_transform(
               generate_series(1, greatest(len(tk) - 1, 1)),
               i -> array_to_string(tk[i:i+1], ' '))) AS grams FROM t),
      gx AS (SELECT doc_id,
                    ('0x' || substr(md5(g), 1, 15))::BIGINT % $dim AS bucket
             FROM (SELECT doc_id, unnest(grams) AS g FROM g0)),
      wt AS (SELECT i AS bucket,
                    CAST(CAST((('0x' || substr(md5('qw:' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2001 - 1000) AS DOUBLE) / 1000.0 AS DECIMAL(28,10)) AS wv
             FROM (SELECT unnest(generate_series(0, ${dim - 1})) AS i)),
      sc AS (SELECT doc_id, COUNT(*) AS n_grams, SUM(wv) AS sw
             FROM gx JOIN wt USING (bucket) GROUP BY doc_id)
      SELECT doc_id, n_grams,
             ROUND(1.0 / (1.0 + exp(-(CAST(sw AS DOUBLE) / n_grams))), 6) AS quality_prob
      FROM sc
    """.trim)
    )
  }

  /** Curation filter-funnel survival report: how many documents
    * survive each gate of the standard pretraining chain
    * (language-ID → the five Gopher rules), cumulatively, with the
    * survival percentage — the single readout a corpus owner reads
    * before asking "which gate ate my data?". ONE pass: every gate
    * boolean is computed in the same projection ([[TextAnalysis]]
    * integer/regex arithmetic, no floats), the seven cumulative
    * conjunctions collapse in one map-side-combined aggregate, and
    * the 7-row report explodes out of the 1-row result — zero
    * data-sized shuffles at any corpus size. */
  val filterFunnel: Q = Q(
    "x_filter_funnel",
    (s, d) => {
      val t = col("text")
      val gated = Tables.documents(s, d)
        .select(TextAnalysis.textStats(t).as("st"),
          (TextAnalysis.detectLang(t) === "en").as("g1"))
        .withColumn("r", TextAnalysis.gopherRules(col("st"), minWords = 40))
      def cum(parts: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
        sum(when(parts.reduce(_ && _), 1L).otherwise(0L))
      val agg = gated.agg(
        count(lit(1)).as("s0"),
        cum(col("g1")).as("s1"),
        cum(col("g1"), col("r.r_word_count")).as("s2"),
        cum(col("g1"), col("r.r_word_count"), col("r.r_mean_word_len")).as("s3"),
        cum(col("g1"), col("r.r_word_count"), col("r.r_mean_word_len"),
          col("r.r_symbol_ratio")).as("s4"),
        cum(col("g1"), col("r.r_word_count"), col("r.r_mean_word_len"),
          col("r.r_symbol_ratio"), col("r.r_alpha_words")).as("s5"),
        cum(col("g1"), col("r.r_word_count"), col("r.r_mean_word_len"),
          col("r.r_symbol_ratio"), col("r.r_alpha_words"), col("r.r_stopwords")).as("s6"))
      val stages = Seq("all", "lang_en", "word_count", "mean_word_len",
        "symbol_ratio", "alpha_words", "stopwords")
      agg.select(explode(array(stages.zipWithIndex.map { case (nm, i) =>
          struct(lit(i + 1).as("stage_idx"), lit(nm).as("stage"),
            col(s"s$i").as("n_surviving"),
            round(col(s"s$i").cast("double") / col("s0") * 100, 6).as("survival_pct"))
        }: _*)).as("x"))
        .select(col("x.stage_idx").as("stage_idx"), col("x.stage").as("stage"),
          col("x.n_surviving").as("n_surviving"),
          col("x.survival_pct").as("survival_pct"))
    },
    Some("""
      WITH st AS (
        SELECT len(regexp_split_to_array(text, '\s+')) AS n_tokens,
               length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                   x -> list_contains(['the','a','an','and','or','of','to','in','is','was','for','on','with','as','at','by','it','this','that'], x))) AS n_stopwords,
               length(regexp_replace(text, '\s+', '', 'g')) AS n_word_chars,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                   x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha_tokens,
               len(regexp_extract_all(text, '\b(the|and|of|is)\b')) AS c_en,
               len(regexp_extract_all(text, '\b(der|und|die|das)\b')) AS c_de,
               len(regexp_extract_all(text, '\b(el|la|los|de)\b')) AS c_es,
               len(regexp_extract_all(text, '\b(le|la|les|des)\b')) AS c_fr,
               len(regexp_extract_all(text, '[一-鿿]')) AS c_zh
        FROM documents),
      g AS (SELECT
              (c_en > 0 AND c_en >= c_de AND c_en >= c_es
                 AND c_en >= c_fr AND c_en >= c_zh) AS g1,
              (n_tokens >= 40 AND n_tokens <= 100000) AS rw,
              (n_word_chars >= n_tokens * 3 AND n_word_chars <= n_tokens * 10) AS rm,
              (n_punct * 100 <= n_tokens * 10) AS rs,
              (n_alpha_tokens * 100 >= n_tokens * 80) AS ra,
              (n_stopwords >= 2) AS rst
            FROM st),
      a AS (SELECT COUNT(*) AS s0,
              CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
              CAST(SUM(CASE WHEN g1 AND rw THEN 1 ELSE 0 END) AS BIGINT) AS s2,
              CAST(SUM(CASE WHEN g1 AND rw AND rm THEN 1 ELSE 0 END) AS BIGINT) AS s3,
              CAST(SUM(CASE WHEN g1 AND rw AND rm AND rs THEN 1 ELSE 0 END) AS BIGINT) AS s4,
              CAST(SUM(CASE WHEN g1 AND rw AND rm AND rs AND ra THEN 1 ELSE 0 END) AS BIGINT) AS s5,
              CAST(SUM(CASE WHEN g1 AND rw AND rm AND rs AND ra AND rst THEN 1 ELSE 0 END) AS BIGINT) AS s6
            FROM g)
      SELECT 1 AS stage_idx, 'all' AS stage, s0 AS n_surviving,
             ROUND(CAST(s0 AS DOUBLE) / s0 * 100, 6) AS survival_pct FROM a
      UNION ALL SELECT 2, 'lang_en', s1, ROUND(CAST(s1 AS DOUBLE) / s0 * 100, 6) FROM a
      UNION ALL SELECT 3, 'word_count', s2, ROUND(CAST(s2 AS DOUBLE) / s0 * 100, 6) FROM a
      UNION ALL SELECT 4, 'mean_word_len', s3, ROUND(CAST(s3 AS DOUBLE) / s0 * 100, 6) FROM a
      UNION ALL SELECT 5, 'symbol_ratio', s4, ROUND(CAST(s4 AS DOUBLE) / s0 * 100, 6) FROM a
      UNION ALL SELECT 6, 'alpha_words', s5, ROUND(CAST(s5 AS DOUBLE) / s0 * 100, 6) FROM a
      UNION ALL SELECT 7, 'stopwords', s6, ROUND(CAST(s6 AS DOUBLE) / s0 * 100, 6) FROM a
    """.trim)
  )

  /** Language-ID confusion matrix — the in-engine eval readout for the
    * x_langid heuristic against the table's labeled language: count
    * and labeled-row share per (labeled, detected) cell. The share is
    * one IEEE divide of exact counts over a per-label window on the
    * tiny (labels × detections) cell table; the data-sized work is one
    * map-side-combined pass. The same shape evaluates ANY in-engine
    * classifier column against any label column. */
  val langConfusion: Q = Q(
    "x_lang_confusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(col("lang").as("labeled"),
          TextAnalysis.detectLang(col("text")).as("detected"))
        .groupBy(col("labeled"), col("detected"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_share", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("labeled"))), 6))
    },
    Some("""
      WITH scores AS (
        SELECT lang AS labeled,
               len(regexp_extract_all(text, '\b(the|and|of|is)\b')) AS c_en,
               len(regexp_extract_all(text, '\b(der|und|die|das)\b')) AS c_de,
               len(regexp_extract_all(text, '\b(el|la|los|de)\b')) AS c_es,
               len(regexp_extract_all(text, '\b(le|la|les|des)\b')) AS c_fr,
               len(regexp_extract_all(text, '[一-鿿]')) AS c_zh
        FROM documents),
      det AS (SELECT labeled,
               CASE
                 WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                 WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
                 WHEN c_es > 0 AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
                 WHEN c_fr > 0 AND c_fr >= c_zh THEN 'fr'
                 WHEN c_zh > 0 THEN 'zh'
                 ELSE 'unknown'
               END AS detected
              FROM scores),
      c AS (SELECT labeled, detected, COUNT(*) AS n FROM det GROUP BY 1, 2)
      SELECT labeled, detected, n,
             ROUND(CAST(n AS DOUBLE) /
                   SUM(n) OVER (PARTITION BY labeled), 6) AS row_share
      FROM c
    """.trim)
  )

  /** Cohen's kappa between the labeled language and the x_langid
    * detector — chance-corrected agreement (Cohen 1960, public), the
    * label-QA companion of [[langConfusion]]: raw accuracy on a
    * skewed label mix is inflated by chance hits; kappa subtracts
    * them ((po − pe)/(1 − pe)). Everything up to the final division
    * is EXACT integer arithmetic on the tiny confusion-cell table —
    * kappa = (n·agree − Σ rowMarg·colMarg) / (n² − Σ rowMarg·colMarg)
    * in DECIMAL(38,0) (the graphStats overflow discipline), ONE
    * exactly-rounded IEEE divide at the end, so both engines agree
    * bit-for-bit. po/pe are reported rounded for the reader; kappa is
    * computed from the integers, never from the rounded shares.
    * Degenerate pe = 1 (single class on both sides) reports 0.0.
    * Scale: one map-side-combined corpus pass into a cells table
    * bounded by labels × detections; everything after is cell-sized. */
  val cohensKappa: Q = Q(
    "x_cohens_kappa",
    (s, d) => {
      // tiny; read by the marginals, its job observes the totals
      val (cells, tot) = GraftPins.ck(Tables.documents(s, d)
        .select(col("lang").as("a"), TextAnalysis.detectLang(col("text")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n")))(
        sum(col("n")).cast("long").as("n_rows"),
        coalesce(sum(when(col("a") === col("b"), col("n"))), lit(0L))
          .cast("long").as("n_agree"))
      val pes = cells.groupBy(col("a")).agg(sum(col("n")).as("_rm"))
        .join(cells.groupBy(col("b")).agg(sum(col("n")).as("_cm")),
          col("a") === col("b"))
        .agg(coalesce(sum(col("_rm").cast("decimal(19,0)")
          * col("_cm").cast("decimal(19,0)")), lit(0).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("_pes"))
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      GraftPins.withScalars(pes, tot).select(
        col("n_rows"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_rows"), 6).as("po"),
        round(col("_pes").cast("double")
          / (col("n_rows").cast("double") * col("n_rows").cast("double")), 6).as("pe"),
        when(d38(col("n_rows")) * d38(col("n_rows")) === col("_pes"), lit(0.0))
          .otherwise(round(
            (d38(col("n_agree")) * d38(col("n_rows")) - col("_pes")).cast("double") /
              (d38(col("n_rows")) * d38(col("n_rows")) - col("_pes")).cast("double"),
            6)).as("kappa"))
    },
    Some("""
      WITH scores AS (
        SELECT lang AS a,
               len(regexp_extract_all(text, '\b(the|and|of|is)\b')) AS c_en,
               len(regexp_extract_all(text, '\b(der|und|die|das)\b')) AS c_de,
               len(regexp_extract_all(text, '\b(el|la|los|de)\b')) AS c_es,
               len(regexp_extract_all(text, '\b(le|la|les|des)\b')) AS c_fr,
               len(regexp_extract_all(text, '[一-鿿]')) AS c_zh
        FROM documents),
      det AS (SELECT a,
               CASE
                 WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                 WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
                 WHEN c_es > 0 AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
                 WHEN c_fr > 0 AND c_fr >= c_zh THEN 'fr'
                 WHEN c_zh > 0 THEN 'zh'
                 ELSE 'unknown'
               END AS b
              FROM scores),
      cells AS (SELECT a, b, COUNT(*) AS n FROM det GROUP BY 1, 2),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                     CAST(COALESCE(SUM(CASE WHEN a = b THEN n END), 0) AS BIGINT) AS n_agree
              FROM cells),
      pes AS (SELECT CAST(COALESCE(SUM(rm.m * cm.m), 0) AS HUGEINT) AS pes
              FROM (SELECT a, CAST(SUM(n) AS HUGEINT) AS m FROM cells GROUP BY 1) rm
              JOIN (SELECT b, CAST(SUM(n) AS HUGEINT) AS m FROM cells GROUP BY 1) cm
                ON rm.a = cm.b)
      SELECT n_rows, n_agree,
             ROUND(CAST(n_agree AS DOUBLE) / n_rows, 6) AS po,
             ROUND(CAST(pes AS DOUBLE) / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6) AS pe,
             CASE WHEN CAST(n_rows AS HUGEINT) * CAST(n_rows AS HUGEINT) = pes THEN 0.0
                  ELSE ROUND(CAST(CAST(n_agree AS HUGEINT) * CAST(n_rows AS HUGEINT) - pes AS DOUBLE) /
                             CAST(CAST(n_rows AS HUGEINT) * CAST(n_rows AS HUGEINT) - pes AS DOUBLE), 6)
             END AS kappa
      FROM tot, pes
    """.trim)
  )

  def all: Seq[Q] = Seq(stats, langid, fingerprints, piiScrub, selfRepetition,
    gopherRules, qualityClassifier, filterFunnel, langConfusion, cohensKappa)
}
