package graft.corpus

import graft.TestSpark
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Invariants of the sampling/packing/filtering operators on random
  * corpora — sizes, strata, scores and budgets are adversarial, the
  * properties are the operator contracts:
  *   - packShards never overfills a shard (beyond the one doc that
  *     crosses the boundary) and shard ids are contiguous from 0;
  *   - topFractionByScore keeps exactly floor(n·num/den) per stratum;
  *   - assignSplit partitions (every row exactly one split) and is
  *     insensitive to row order.
  */
object CorpusProperties extends Properties("graft.corpus") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genDocs: Gen[List[(Long, String, Int)]] = for {
    n <- Gen.chooseNum(1, 40)
    rows <- Gen.listOfN(n, for {
      lang <- Gen.oneOf("en", "de", "zh")
      nTok <- Gen.chooseNum(1, 30)
    } yield (lang, nTok))
  } yield rows.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }

  private def df(rows: List[(Long, String, Int)]) =
    rows.map { case (id, l, t) => (id, l, ("w " * (t - 1) + "w")) }
      .toDF("doc_id", "lang", "text")

  property("packShards: shards contiguous from 0; no shard starts past the budget line") = {
    forAll(genDocs, Gen.chooseNum(5L, 50L)) { (rows, budget) =>
      val out = Corpus.packShards(df(rows), budget, "lang")
        .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2), r.getLong(3)))
      out.groupBy(_._1).forall { case (_, docs) =>
        val sorted = docs.sortBy(_._2)
        val shardIds = sorted.map(_._4)
        // shard ids are non-decreasing in id order and start at 0
        shardIds.head == 0L && shardIds.zip(shardIds.tail).forall { case (a, b) => a <= b } && {
          // a doc is in shard k iff the tokens BEFORE it lie in [k·budget, (k+1)·budget)
          val cums = sorted.map(_._3.toLong).scanLeft(0L)(_ + _).init
          sorted.map(_._4).toSeq == cums.map(_ / budget).toSeq
        }
      }
    }
  }

  property("topFractionByScore: keeps exactly floor(n*num/den) per stratum") = {
    val genFrac = for { den <- Gen.chooseNum(1, 5); num <- Gen.chooseNum(0, den) } yield (num, den)
    forAll(genDocs, genFrac) { case (rows, (num, den)) =>
      val scored = rows.map { case (id, l, t) => (id, l, t) }.toDF("doc_id", "lang", "score")
      val kept = Corpus.topFractionByScore(scored, "lang", "score", num, den)
        .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      rows.groupBy(_._2).forall { case (lang, docs) =>
        kept.getOrElse(lang, 0L) == docs.size.toLong * num / den
      }
    }
  }

  property("dropBoilerplateLines == in-memory reference on random shared-line corpora") = {
    val genLine = Gen.frequency(
      3 -> Gen.oneOf("banner", "footer", "nav bar", "cookie notice"), // shared pool → real collisions
      2 -> Gen.chooseNum(0, 10000).map(i => s"unique line $i"))
    val genCorpus = for {
      n <- Gen.chooseNum(1, 12)
      docs <- Gen.listOfN(n, Gen.chooseNum(1, 6).flatMap(Gen.listOfN(_, genLine)))
    } yield docs.zipWithIndex.map { case (ls, i) => (i.toLong, ls) }
    forAll(genCorpus, Gen.chooseNum(1, 3)) { (docs, k) =>
      val dfIn = docs.map { case (id, ls) => (id, ls.mkString("\n")) }.toDF("doc_id", "text")
      val got = Corpus.dropBoilerplateLines(dfIn, maxDocFreq = k)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
      val lineDf = docs.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
      val want = docs.flatMap { case (id, ls) =>
        val kept = ls.filter(l => lineDf(l) <= k)
        if (kept.isEmpty) None else Some(id -> ((kept.mkString("\n"), kept.size)))
      }.toMap
      got == want
    }
  }

  property("assignSplit: partitions every row, insensitive to row order") = {
    forAll(genDocs) { rows =>
      val splits = Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1)
      val a = Corpus.assignSplit(df(rows), splits)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      val b = Corpus.assignSplit(df(rows.reverse), splits)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      a.size == rows.size && a == b
    }
  }
}
