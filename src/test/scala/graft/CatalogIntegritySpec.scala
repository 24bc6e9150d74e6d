package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog integrity: `SparkEntry.queries` is a Map built from
  * `catalog`, so a DUPLICATE query name silently shadows the earlier
  * row — the later `Q` wins, the earlier one vanishes from Verify,
  * Bench, and the oracle gate with no error anywhere (r14: a second
  * `x_hybrid_rrf` compiled and went green while masking the r8 row;
  * caught only because the rolling bench ref still carried the old
  * floor). Pin uniqueness and the name convention here so the failure
  * class is a test failure, not an archaeology exercise. */
class CatalogIntegritySpec extends AnyFunSuite {

  test("catalog query names are unique — no silent Map shadowing") {
    val names = SparkEntry.catalog.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate catalog names (later silently wins): $dups")
    assert(SparkEntry.queries.size == names.size)
  }

  test("every oracle key is a catalog query; names are non-empty and shaped") {
    val names = SparkEntry.catalog.map(_.name).toSet
    val orphans = SparkEntry.oracleSql.keySet -- names
    assert(orphans.isEmpty, s"oracle SQL for non-existent queries: $orphans")
    names.foreach { n =>
      assert(n.nonEmpty && n.matches("[a-z][a-z0-9_]*"), s"malformed query name: '$n'")
    }
  }

  /** Every row carries a non-blank oracle: a row that loses its
    * `Some(sql)` in a move between catalog objects, or whose borrowed
    * `otherRow.oracle` is read before that row is initialized, would
    * otherwise drop out of the oracle gate without an error. */
  test("every catalog row carries a non-blank oracle SQL") {
    val blank = SparkEntry.catalog.collect {
      case q if q.oracle.forall(sql => sql == null || sql.trim.isEmpty) => q.name
    }
    assert(blank.isEmpty, s"rows without oracle SQL: $blank")
    assert(SparkEntry.oracleSql.size == SparkEntry.catalog.size)
  }

  /** Queries that once had rolling-ref floors and were deliberately
    * removed or renamed. A name goes here ONLY with a commit message
    * explaining the retirement; an unexplained ref-orphan is exactly
    * the r14 shadowing tell (the stale x_hybrid_rrf floor was the only
    * witness that the r8 row had vanished), so it must fail this spec,
    * not wait for floor archaeology. */
  val retiredRefKeys: Set[String] = Set.empty

  test("every rolling-ref floor names a live catalog row (or is retired)") {
    val names = SparkEntry.catalog.map(_.name).toSet
    val refFiles = Seq("BENCH_SOLO_REF.json", "BENCH_SOLO_REF_SF1.json")
      .map(new java.io.File(_)).filter(_.isFile)
    assume(refFiles.nonEmpty, "no rolling refs in cwd (non-repo-root test run)")
    refFiles.foreach { f =>
      val txt = java.nio.file.Files.readString(f.toPath)
      val keys = Bench.parseSoloRef(txt, sfDir = parseSf(txt)).keySet
      assert(keys.nonEmpty, s"${f.getName}: parsed no keys — ref format drifted?")
      // face:<slot> rows are shared-face build metrics (Bench pre-warm
      // accounting), not catalog queries — validated by shape only
      val (faceKeys, queryKeys) = keys.partition(_.startsWith("face:"))
      faceKeys.foreach { k =>
        assert(k.matches("face:[a-z][a-z0-9_]*"), s"${f.getName}: malformed face key '$k'")
      }
      val orphans = queryKeys -- names -- retiredRefKeys
      assert(orphans.isEmpty,
        s"${f.getName}: floors for queries not in the catalog (silent " +
          s"shadowing or un-retired rename?): ${orphans.toSeq.sorted}")
      val zombie = retiredRefKeys.intersect(names)
      assert(zombie.isEmpty, s"retired keys that are live again: $zombie")
    }
  }

  /** The ref's own "sf" field, so parseSoloRef's SF gate matches. */
  private def parseSf(txt: String): String =
    """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
}
