package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog integrity: `SparkEntry.queries` is a Map built from
  * `catalog`, so a DUPLICATE query name silently shadows the earlier
  * row — the later `Q` wins, the earlier one vanishes from Verify,
  * Bench, and the oracle gate with no error anywhere (r14: a second
  * `x_hybrid_rrf` compiled and went green while masking the r8 row;
  * caught only because the rolling bench ref still carried the old
  * floor). Pin uniqueness, the name convention and the committed row
  * set here so the failure class is a test failure, not an
  * archaeology exercise. */
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

  /** The committed row manifest (`src/test/resources/catalog_rows.txt`,
    * one name a line, sorted). A row that vanishes — a dropped list
    * entry, a bad move between catalog objects, a duplicate name that
    * shadows another — leaves every other check green and silently
    * shrinks Verify, Bench and the oracle gate; the manifest makes that
    * a test failure. Adding, removing or renaming a row edits the
    * manifest in the same commit. */
  test("catalog row names equal the committed manifest") {
    val src = scala.io.Source.fromResource("catalog_rows.txt")
    val manifest = try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    val names = SparkEntry.catalog.map(_.name).sorted.toVector
    if (names != manifest)
      fail(s"in the manifest, not the catalog: ${manifest.diff(names)}; " +
        s"in the catalog, not the manifest: ${names.diff(manifest)}")
  }
}
