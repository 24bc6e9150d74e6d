package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftPins

/** Approximate-string (edit-distance) join via SymSpell-style deletion
  * neighborhoods — the entity-resolution / typo-normalization primitive a
  * training-data pipeline needs when joining dirty surface forms against a
  * canonical vocabulary (OCR noise, tokenizer variants, catalog names).
  *
  * The naive formulation is a quadratic theta join
  * (`levenshtein(a,b) <= k` admits no equi-key), which is a cartesian at
  * any scale. The delete-neighborhood decomposition restores an equi-join:
  * if `levenshtein(a,b) <= k` then deleting at most `k` characters from
  * each of `a` and `b` reaches a common string (SymSpell invariant — the
  * shorter of an optimal alignment's two sides is reachable from both by
  * deletions alone), so expanding both sides into their delete-≤k variant
  * sets and equi-joining on the variant finds EVERY true pair. The
  * candidate set can over-generate (a shared variant does not bound the
  * distance from above — e.g. "abcab"/"cabxy" share "cab" at distance 4),
  * so an exact `levenshtein` verify filters candidates; the x_fuzzy_join
  * oracle IS the quadratic theta join, so matching hashes prove the
  * decomposition loses nothing and the verify admits nothing extra.
  *
  * Scale shape (100 TB): both sides are token tables — typically the
  * output of a map-side-combined `groupBy(token).count()`, i.e.
  * vocabulary-sized regardless of corpus bytes. The only exchange carries
  * `(variant, token, …)` rows — short strings, never document text — and
  * per-variant candidate volume is `|A_v| × |B_v|`, bounded in practice by
  * the vocabulary's neighborhood density; for adversarially hot variant
  * blocks, pre-filter the exploded sides with a variant-frequency cap
  * exactly as `Dedup.ngramJaccard` caps document frequency. All variant
  * generation is nested higher-order functions over `sequence` +
  * `substr` — codegen-friendly, no UDFs.
  */
object FuzzyJoin {

  /** All strings reachable from `tok` by deleting exactly one character;
    * empty array for the empty string (guards `sequence(0, -1)`, which
    * would otherwise step backwards). */
  private def deletes1(tok: Column): Column =
    when(length(tok) >= 1,
      transform(sequence(lit(0), length(tok) - 1),
        i => concat(tok.substr(lit(1), i), tok.substr(i + lit(2), length(tok)))))
      .otherwise(array().cast("array<string>"))

  /** The delete-neighborhood of `tok` for edit distance `maxDist`
    * (supported: 1 or 2): the token itself plus every string reachable by
    * at most `maxDist` character deletions, distinct. Sizes are tiny —
    * `O(L)` for depth 1, `O(L²)` for depth 2 on an `L`-char token. */
  def deleteNeighborhood(tok: Column, maxDist: Int): Column = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    val d1 = deletes1(tok)
    val depth = if (maxDist == 1) concat(array(tok), d1)
    else concat(array(tok), d1,
      flatten(transform(filter(d1, v => length(v) >= 1), v => deletes1(v))))
    array_distinct(depth)
  }

  /** Edit-distance join: all `(left row, right row, dist)` with
    * `levenshtein(left(leftKey), right(rightKey)) <= maxDist`. Non-key
    * columns pass through; key columns must not collide across sides.
    * Duplicate key values are honored: the variant-pair dedup happens on
    * a projected (leftKey, rightKey) pair table BEFORE payloads are
    * re-attached, so every payload row of a duplicated key pairs up
    * (theta-join semantics), none is silently dropped. Join
    * pre-aggregated token tables anyway — that is what keeps the sides
    * vocabulary-sized at corpus scale. */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftKey: String, rightKey: String, maxDist: Int): DataFrame = {
    require(leftKey != rightKey,
      s"left and right key columns must have distinct names, both are '$leftKey'")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"column names must not collide across sides: ${overlap.mkString(", ")}")
    // Candidate key pairs only: explode the PROJECTED keys, equi-join on
    // the shared variant, collapse the many-variants-in-common multiplicity,
    // then verify with the exact distance.
    val va = left.select(col(leftKey)).distinct()
      .withColumn("_fz_v", explode(deleteNeighborhood(col(leftKey), maxDist)))
    val vb = right.select(col(rightKey)).distinct()
      .withColumn("_fz_v", explode(deleteNeighborhood(col(rightKey), maxDist)))
    val pairs = va.join(vb, "_fz_v")
      .drop("_fz_v")
      .dropDuplicates(leftKey, rightKey)
      .withColumn("dist", levenshtein(col(leftKey), col(rightKey)))
      .filter(col("dist") <= maxDist)
    // Re-attach payloads; a key-only side needs no second join.
    val withL = if (left.columns.length == 1) pairs
                else pairs.join(left, Seq(leftKey))
    val withR = if (right.columns.length == 1) withL
                else withL.join(right, Seq(rightKey))
    withR.select((left.columns ++ right.columns).map(col) :+ col("dist"): _*)
  }

  /** Blocked Jaro–Winkler self-match: all id pairs (id1 < id2) whose
    * `nameCol` similarity is ≥ `threshold`, candidates restricted to
    * rows agreeing on every `blockCols` expression — the standard
    * entity-resolution decomposition (blocking key → in-block scoring).
    * Unlike [[fuzzyJoin]]'s delete-neighborhood equi-key (which is
    * exact for edit distance), Jaro–Winkler admits no lossless equi-key,
    * so blocking IS the recall contract: pairs split across blocks are
    * by-design unscored, and the catalog row's oracle replays the same
    * blocks so the contract is pinned, not hidden.
    *
    * Scale shape (100 TB): one exchange of (block, id, name) rows
    * hash-partitioned on the block key, then a per-block quadratic scored
    * entirely inside the join's codegen stage by the native
    * [[org.apache.spark.sql.graftext.JaroWinkler]] kernel — no UDF, no
    * candidate materialization. Per-block work is c·(c−1)/2 scorings, so
    * block-size choice is the scale lever (prefix + attribute blocking
    * keeps c bounded as rows grow: more blocks, not bigger ones); a hot
    * block is a blocking-design bug, not a salting case, because every
    * in-block pair genuinely must be scored. `sim` is rounded to 6 dp for
    * output; the THRESHOLD test runs on the raw double (bit-exact vs the
    * DuckDB pin, so the cut admits identical pair sets). */
  def jaroBlockedJoin(df: DataFrame, idCol: String, nameCol: String,
                      blockCols: Seq[Column], threshold: Double): DataFrame = {
    val blockNames = blockCols.indices.map(i => s"_jw_b$i")
    val proj = df.select(
      blockCols.zip(blockNames).map { case (c, n) => c.as(n) } ++
        Seq(col(idCol), col(nameCol)): _*)
    val a = proj.select(blockNames.map(col) ++
      Seq(col(idCol).as("id1"), col(nameCol).as("_jw_n1")): _*)
    val b = proj.select(blockNames.map(col) ++
      Seq(col(idCol).as("id2"), col(nameCol).as("_jw_n2")): _*)
    val sim = graft.functions.VectorFunctions.jaroWinkler(col("_jw_n1"), col("_jw_n2"))
    a.join(b, blockNames, "inner")
      .filter(col("id1") < col("id2"))
      .withColumn("_jw_sim", sim)
      .filter(col("_jw_sim") >= threshold)
      .select(col("id1"), col("id2"), round(col("_jw_sim"), 6).as("sim"))
  }

  /** The collapsed (block, name) surface-form table: one row per distinct
    * name within its block, carrying the group's min id as representative
    * and the member count. Checkpointed — it is vocabulary-bounded (the
    * whole point) and every caller reads it at least twice. */
  private def surfaceForms(df: DataFrame, idCol: String, nameCol: String,
                           blockCols: Seq[Column]): (DataFrame, Seq[String], DataFrame) = {
    val bn = blockCols.indices.map(i => s"_jw_b$i")
    val proj = df.select(blockCols.zip(bn).map { case (c, n) => c.as(n) } ++
      Seq(col(idCol).as("_jw_id"), col(nameCol).as("_jw_name")): _*)
    val reps = GraftPins.cut(proj.groupBy(bn.map(col) :+ col("_jw_name"): _*)
      .agg(min(col("_jw_id")).as("_jw_rep"), count(lit(1)).as("_jw_n")))
    (proj, bn, reps)
  }

  /** Collapse-first Jaro–Winkler matching — the form of [[jaroBlockedJoin]]
    * that survives scale-up. The raw blocked join is quadratic in BLOCK
    * SIZE, and block sizes grow linearly with the table when the name
    * vocabulary is finite (10× the catalog = 10× the rows per (brand,
    * first-word) block = 100× the scorings — measured: 26× wall at 10×
    * data). But the DISTINCT surface forms per block saturate at the
    * vocabulary, so collapsing exact duplicates first — name → (min id
    * representative, member count), one map-side-combined exchange —
    * makes the scoring stage data-size-INDEPENDENT: the only work that
    * grows with rows is the linear collapse. This is the same
    * "vocabulary-sized sides" discipline as [[fuzzyJoin]]'s token tables.
    *
    * Output: one row per matched representative pair — `id1`, `id2`
    * (group min ids, id1 < id2), `n1`, `n2` (exact-duplicate member
    * counts), `sim` (6 dp; threshold tested on the raw DuckDB-bit-exact
    * double). Identical-name groups are NOT emitted as self-pairs — they
    * are the collapse itself; [[jaroErClusters]] re-attaches them. */
  def jaroRepMatch(df: DataFrame, idCol: String, nameCol: String,
                   blockCols: Seq[Column], threshold: Double): DataFrame = {
    val (_, bn, reps) = surfaceForms(df, idCol, nameCol, blockCols)
    val a = reps.select(bn.map(col) ++ Seq(col("_jw_name").as("_jw_n1"),
      col("_jw_rep").as("id1"), col("_jw_n").as("n1")): _*)
    val b = reps.select(bn.map(col) ++ Seq(col("_jw_name").as("_jw_n2"),
      col("_jw_rep").as("id2"), col("_jw_n").as("n2")): _*)
    val sim = graft.functions.VectorFunctions.jaroWinkler(col("_jw_n1"), col("_jw_n2"))
    a.join(b, bn, "inner")
      .filter(col("id1") < col("id2"))
      .withColumn("_jw_sim", sim)
      .filter(col("_jw_sim") >= threshold)
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        round(col("_jw_sim"), 6).as("sim"))
  }

  /** Token-set entity match, collapse-first — the reorder-invariant
    * second scorer next to [[jaroRepMatch]]: whole-string Jaro–Winkler
    * by design misses word-reorder variants ("ACME SUPPLY CO" vs
    * "SUPPLY CO ACME"), which share their TOKEN SET exactly. Scores
    * rarity-weighted Jaccard over the distinct name tokens:
    * sim(A, B) = Σ_{t∈A∩B} w(t) / Σ_{t∈A∪B} w(t), with
    * w(t) = ⌊scale · N / df(t)⌋ — integer-scaled inverse document
    * frequency over the N distinct surface forms (the log-free idf
    * variant: pure BIGINT arithmetic, so weights, intersection sums
    * and the one final divide replay bit-for-bit in any engine — the
    * md5Hash60 discipline applied to weighting; a log idf would hang
    * the threshold cut on libm ulps). Permutations of a name score
    * exactly 1.0 (spec-pinned); blocking stays the recall contract, so
    * pass a reorder-invariant block key (e.g. the MIN token, as
    * x_token_set_er does) or reordered pairs land in different blocks.
    *
    * Scale shape: same collapse-first discipline as [[jaroRepMatch]] —
    * the quadratic runs over distinct in-block surface forms; the
    * weight table is token-vocabulary-sized (built from the FORMS, so
    * df is form-frequency, not row-frequency — invariant to how often
    * each form repeats in the data); each form carries its sorted
    * (token, weight) array through ONE join, and the pair scoring is
    * array arithmetic inside the join stage, no per-token explode at
    * pair granularity. Output: `id1`, `id2` (group min ids, id1 < id2),
    * `n1`, `n2` (member counts), `sim` (6 dp; threshold tested on the
    * raw double). */
  def tokenSetRepMatch(df: DataFrame, idCol: String, nameCol: String,
                       blockCols: Seq[Column], threshold: Double,
                       weightScale: Long = 1000000L): DataFrame = {
    val (_, bn, reps) = surfaceForms(df, idCol, nameCol, blockCols)
    val names = reps.select(col("_jw_name")).distinct()
    val nf = names.agg(count(lit(1)).as("_nf"))
    val toks = names.select(col("_jw_name"),
      explode(array_distinct(split(col("_jw_name"), " "))).as("_t"))
    val weights = toks.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(nf))
      .select(col("_t"), expr(s"CAST($weightScale * _nf AS BIGINT) DIV _df").as("_w"))
    // vocabulary-sized; both pair sides read it
    val packed = GraftPins.cut(toks.join(weights, "_t")
      .groupBy(col("_jw_name"))
      .agg(sort_array(collect_list(struct(col("_t").as("t"), col("_w").as("w")))).as("_tw"),
        sum(col("_w")).cast("long").as("_ws")))
    val a = reps.join(packed, "_jw_name").select(bn.map(col) ++ Seq(
      col("_jw_rep").as("id1"), col("_jw_n").as("n1"),
      col("_tw").as("_tw1"), col("_ws").as("_ws1")): _*)
    val b = reps.join(packed, "_jw_name").select(bn.map(col) ++ Seq(
      col("_jw_rep").as("id2"), col("_jw_n").as("n2"),
      col("_tw").as("_tw2"), col("_ws").as("_ws2")): _*)
    a.join(b, bn, "inner")
      .filter(col("id1") < col("id2"))
      .withColumn("_inter",
        aggregate(array_intersect(col("_tw1"), col("_tw2")), lit(0L),
          (acc, x) => acc + x.getField("w")))
      .withColumn("_sim", col("_inter").cast("double") /
        (col("_ws1") + col("_ws2") - col("_inter")).cast("double"))
      .filter(col("_sim") >= threshold)
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        round(col("_sim"), 6).as("sim"))
  }

  /** End-to-end entity resolution, collapse-first: every id whose name
    * has at least one in-block partner at `threshold` (an exact duplicate
    * or a fuzzy match) gets its connected component's minimum id as
    * `cluster_id`, plus the component's member count. Exactly equal to
    * running connected components over the FULL per-id threshold pair
    * graph — identical names form cliques there, and a clique's closure
    * is its min id, which is precisely the representative the collapse
    * picks — but the quadratic runs over surface forms, not rows (see
    * [[jaroRepMatch]]). The x_er_clusters oracle pins that equality: it
    * IS the full-graph transitive closure.
    *
    * Scale shape: one linear collapse exchange; a vocabulary-bounded
    * scoring join; [[graft.dedup.Dedup.dedupClusters]]' pointer-jumping
    * CC over rep-level 8-byte edges; one membership join back (linear,
    * key-partitioned). */
  def jaroErClusters(df: DataFrame, idCol: String, nameCol: String,
                     blockCols: Seq[Column], threshold: Double): DataFrame = {
    val (proj, bn, reps) = surfaceForms(df, idCol, nameCol, blockCols)
    val edges = {
      val a = reps.select(bn.map(col) ++
        Seq(col("_jw_name").as("_jw_n1"), col("_jw_rep").as("id1")): _*)
      val b = reps.select(bn.map(col) ++
        Seq(col("_jw_name").as("_jw_n2"), col("_jw_rep").as("id2")): _*)
      // read by the CC loop AND the fuzzy-rep node set
      GraftPins.cut(a.join(b, bn, "inner")
        .filter(col("id1") < col("id2"))
        .filter(graft.functions.VectorFunctions
          .jaroWinkler(col("_jw_n1"), col("_jw_n2")) >= threshold)
        .select(col("id1"), col("id2")))
    }
    val fuzzyCl = graft.dedup.Dedup.dedupClusters(edges)
      .select(col("doc_id").as("_jw_rep"), col("cluster_id"))
    // an exact-duplicate group with no fuzzy partner is a cluster of its
    // own (its ids pair with each other in the full graph at sim 1.0)
    val soloExact = reps.filter(col("_jw_n") >= 2)
      .join(fuzzyCl.select(col("_jw_rep")), Seq("_jw_rep"), "left_anti")
      .select(col("_jw_rep"), col("_jw_rep").as("cluster_id"))
    val repCluster = fuzzyCl.union(soloExact)
    val membership = proj
      .join(reps.select((bn.map(col) :+ col("_jw_name")) :+ col("_jw_rep"): _*),
        (bn :+ "_jw_name").toSeq)
      .join(repCluster, "_jw_rep")
      .select(col("_jw_id").as("id"), col("cluster_id"))
    val sizes = membership.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"))
    membership.join(sizes, "cluster_id")
      .select(col("id"), col("cluster_id"), col("n_members"))
  }
}
