package graft.ops

import graft.{SparkEntry, SparkSpec}
import java.nio.file.{Files, Paths}

/** Faces are keyed on the WHOLE dataset: rewriting one input table in
  * place must rebuild every face that reads it — x_pagerank's purchase
  * graph reads orders AND lineitem — while an untouched dataset keeps
  * the faces it built. */
class FaceSignatureSpec extends SparkSpec {

  test("x_pagerank after an in-place lineitem rewrite == a fresh session on the new data") {
    val dir = Files.createTempDirectory("graft-face-sig")
    Paths.get("perfbench", "data", "sf0.01").toFile.listFiles()
      .foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
    val d = dir.toString
    val pagerank = SparkEntry.queries("x_pagerank")
    val stage = Files.createTempDirectory("graft-face-sig-li")
    val s = spark.newSession()
    try {
      val before = rowSet(pagerank(s, d))
      val builds = ExtensionQueries.FaceCache.builds.get()
      assert(rowSet(pagerank(s, d)) == before)
      assert(ExtensionQueries.FaceCache.builds.get() == builds,
        "an untouched dataset must not rebuild a face")

      // replace ONLY lineitem.parquet, with the even orders' line items
      val staged = stage.resolve("lineitem.parquet")
      s.read.parquet(s"$d/lineitem.parquet").filter("l_orderkey % 2 = 0")
        .write.parquet(staged.toString)
      Files.delete(dir.resolve("lineitem.parquet"))
      Files.move(staged, dir.resolve("lineitem.parquet"))

      val after = rowSet(pagerank(s, d))
      val fresh = rowSet(pagerank(spark.newSession(), d))
      assert(fresh != before, "fixture: the lineitem subset must change the ranks")
      assert(after == fresh, "a face kept serving the replaced lineitem table")
    } finally Seq(dir, stage).foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
  }
}
