package graft.text

import graft.SparkSpec

/** QualityClassifier pinned three ways: an independent plain-JVM replay
  * of the whole chain (tokenize → grams → md5-60 buckets → synthetic
  * weights → mean → sigmoid) on hand-made docs, the sparse-model
  * contract (absent buckets contribute 0 ⇒ empty model scores
  * sigmoid(bias) for every doc), and the plan (the weight table must
  * join as a broadcast — a shuffled model join would be a scale bug). */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4096

  private def md5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  private def replayProb(text: String, bias: Double): Double = {
    val toks = text.split("\\s+")
    val bigrams =
      if (toks.length < 2) Seq(toks.take(2).mkString(" "))
      else toks.sliding(2).map(_.mkString(" ")).toSeq
    val grams = toks.toSeq ++ bigrams
    val mean = grams.map { g =>
      val b = md5Hash60(g) % dim
      ((md5Hash60(s"qw:$b") % 2001) - 1000) / 1000.0
    }.sum / grams.length
    1.0 / (1.0 + math.exp(-(bias + mean)))
  }

  test("independent JVM replay of grams -> buckets -> weights -> sigmoid") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "single"),
      (3L, "repeat repeat repeat repeat")).toDF("doc_id", "text")
    val got = QualityClassifier.score(docs,
        QualityClassifier.syntheticWeights(spark, dim), dim = dim)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for ((id, text) <- Seq(1L -> "the quick brown fox jumps over the lazy dog",
        2L -> "single", 3L -> "repeat repeat repeat repeat")) {
      val want = replayProb(text, bias = 0.0)
      assert(math.abs(got(id) - want) <= 1.5e-6, s"doc $id: got ${got(id)} want $want")
    }
  }

  test("sparse model: empty weight table scores sigmoid(bias) everywhere") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "x")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, Double)].toDF("bucket", "weight")
    val probs = QualityClassifier.score(docs, empty, dim = dim, bias = 2.0)
      .collect().map(_.getDouble(2)).toSet
    val want = BigDecimal(1.0 / (1.0 + math.exp(-2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(probs == Set(want), s"got $probs want $want")
  }

  test("weight table joins as a broadcast, not a shuffle") {
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val plan = QualityClassifier.score(docs,
        QualityClassifier.syntheticWeights(spark, dim), dim = dim)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }
}
