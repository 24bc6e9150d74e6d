package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The single-pass C1-C13 chain against [[UnionOracle]], the reference's
  * union formulations: every compared stage must yield the same row
  * multiset on adversarial inputs. */
class SinglePassParitySpec extends SparkSpec {
  import Fixtures.{catRow, logRow}

  private val ts = "2019-06-01T01:43:09.000Z"

  /** Site 777 is configured in two families (type1 and type2). */
  private val types = Fixtures.types.copy(
    type1 = Seq("-48", "777"), type2 = Seq("155138", "777"))
  /** No default-family ids: its branches must contribute nothing. */
  private val typesNoDefault = types.copy(default = Seq.empty)

  private val logRows: Seq[Row] = Seq(
    // the same view row matches a type1 and a type2 branch
    logRow("m1", "777", "u1", "c", ts, "view",
      """{"tas:productCode": "t1", "og:url": "http://s/p/77", "og:title": "T"}"""),
    logRow("m2", "777", null, "c", ts, "purchase",
      """{"goodsCode": ["g7"], "goodsName": ["n7"], "productCode": ["p7"], "productName": ["q7"]}"""),
    // null info and null info.siteseq
    Row("c", """{"goodsCode": ["g1"]}""", null, "purchase", "m3", ts, "u3"),
    logRow("m4", null, "u4", "c", ts, "purchase", """{"goodsCode": ["g1"]}"""),
    // null, empty and non-object custom
    logRow("m5", "-48", "u5", "c", ts, "purchase", null),
    logRow("m6", "-48", "u6", "c", ts, "cart", "{}"),
    logRow("m7", "4550", "u7", "c", ts, "purchase", "[1, 2]"),
    logRow("m8", "154992", "u8", "c", ts, "view", "not json"),
    logRow("m9", "4550", "u9", "c", ts, "view", "\"str\""),
    // foreign dialect: default-family keys on a type1 site
    logRow("m10", "-48", "u10", "c", ts, "purchase",
      """{"productCode": ["p1"], "productName": ["n1"]}"""),
    // type2 view whose og:url has no '/'
    logRow("m11", "155138", "u11", "c", ts, "view", """{"og:url": "plain", "og:title": "P"}"""),
    // default-family view and a type3 view
    logRow("m12", "154992", null, "c", ts, "view", """{"rb:itemId": "rb1", "rb:itemName": "R"}"""),
    logRow("m13", "4550", "u13", "c", ts, "view", """{"tas:productCode": "t3", "Title": "T3"}"""),
    // login rows with 0, 1 and 2 category matches
    logRow("m14", "-48", "u14", "c", ts, "login", """{"goodsCode": ["none"], "goodsName": ["x"]}"""),
    logRow("m15", "-48", "u15", "c", ts, "login", """{"goodsCode": ["g1"], "goodsName": ["x"]}"""),
    logRow("m16", "-48", null, "c", ts, "login", """{"goodsCode": ["g2"], "goodsName": ["x"]}"""),
    // login and purchase rows with a null product code at a site that
    // has a null-ITEM_CODE category row
    logRow("m17", "-48", "u17", "c", ts, "login", """{"other": 1}"""),
    logRow("m18", "-48", "u18", "c", ts, "purchase", """{"goodsName": ["only-name"]}"""),
    // matched purchase with two products, one duplicated row, a logtype
    // no branch selects, and a login at a site in two families
    logRow("m19", "-48", "u19", "c", ts, "purchase",
      """{"goodsCode": ["g1", "g2"], "goodsName": ["a", "b"]}"""),
    logRow("m19", "-48", "u19", "c", ts, "purchase",
      """{"goodsCode": ["g1", "g2"], "goodsName": ["a", "b"]}"""),
    logRow("m20", "-48", "u20", "c", ts, "refund", """{"goodsCode": ["g1"]}"""),
    logRow("m21", "777", "u21", "c", ts, "login",
      """{"goodsCode": ["g7"], "goodsName": ["n7"], "productCode": ["p7"], "productName": ["q7"]}"""))

  private val catRows: Seq[Row] = Seq(
    catRow("-48", "g1", "one"),
    catRow("-48", "g2", "two-a"), catRow("-48", "g2", "two-b"), // duplicate key
    catRow("-48", null, "nullcode"),
    catRow("777", "g7", "seven"), catRow("777", "p7", "seven-p"),
    catRow("777", "77", "url"))

  private def assertSameMultiset(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    val (g, w) = (got.cache(), want.cache())
    try {
      def show = s"\ngot:\n${g.collect().mkString("\n")}\nwant:\n${w.collect().mkString("\n")}"
      assert(g.count() == w.count(), show)
      assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty, show)
    } finally { g.unpersist(); w.unpersist() }
  }

  private lazy val logs = Fixtures.logs(logRows)
  private lazy val cats = Fixtures.categories(catRows)

  for ((label, t) <- Seq("all families" -> types, "empty default family" -> typesNoDefault)) {
    test(s"preJoin (C1..C10) == branch union ($label)") {
      assertSameMultiset(Pipeline.preJoin(logs, t), UnionOracle.preJoin(logs, t))
    }

    test(s"selectValidId (C11) == two-branch union ($label)") {
      val shaped = UnionOracle.preJoin(logs, t)
      assertSameMultiset(Transforms.selectValidId(shaped), UnionOracle.selectValidId(shaped))
    }

    test(s"joinWithCategories (C12) == inner join ∪ login re-read ($label)") {
      val valid = UnionOracle.selectValidId(UnionOracle.preJoin(logs, t))
      assertSameMultiset(Enrichment.joinWithCategories(valid, cats),
        UnionOracle.joinWithCategories(valid, cats))
    }

    test(s"transformData (C1..C13) == union chain ($label)") {
      assertSameMultiset(Pipeline.transformData(logs, cats, t),
        UnionOracle.transformData(logs, cats, t))
    }
  }

  test("the adversarial rows reach the cases they target") {
    val pre = Pipeline.preJoin(logs, types)
    // one row per matching branch: the 777 view row via type1 and type2
    assert(rowSet(pre.filter(col("maid") === "m1").select("productCode")) == Set("t1", "77"))
    // a type2 og:url without '/' is its own last segment
    assert(rowSet(pre.filter(col("maid") === "m11").select("productCode")) == Set("plain"))
    // non-object and null payloads yield null products, not dropped rows
    assert(pre.filter(col("maid").isin("m5", "m7", "m8", "m9") && col("productCode").isNull)
      .count() == 4)
    assert(pre.filter(col("maid").isin("m3", "m4", "m20")).isEmpty)

    val out = Pipeline.transformData(logs, cats, types)
    def rowsOf(user: String) = out.filter(col("USER_ID") === user)
    // login rows: 0, 1 and 2 category matches, each plus one padded row
    assert(rowsOf("u14").count() == 1)
    assert(rowsOf("u15").count() == 2)
    assert(rowsOf("m16").count() == 3)
    assert(rowsOf("m16").filter(col("ITEM_CODE").isNull).count() == 1)
    // a null product code never matches the null-ITEM_CODE category row
    assert(rowsOf("u17").filter(col("ITEM_CODE").isNotNull).isEmpty)
    assert(rowsOf("u18").isEmpty)
    // both families' branches of a site listed twice reach the join
    assert(rowSet(rowsOf("u1").select("ITEM_CODE")) == Set("77"))
    assert(rowSet(rowsOf("m2").select("ITEM_CODE")) == Set("g7", "p7"))
    assert(rowsOf("u21").count() == 3)
  }
}
