package graft.etl

import graft.SparkSpec
import java.nio.file.Files

/** End-to-end streaming run of the pipeline: golden rows arrive as a
  * file stream, flow through all 13 stages (stream-static broadcast
  * join, watermarked dedup), land in a memory sink. */
class StreamingEtlSpec extends SparkSpec {

  test("streaming pipeline produces the batch pipeline's rows") {
    val dir = Files.createTempDirectory("stream-etl").toString
    val rows = Fixtures.goldenRows :+
      Fixtures.logRow("m-login", "-48", null, "c9", "2019-06-01T02:00:00Z", "login", "{}") :+
      Fixtures.goldenRows(2) // duplicate of the -48 purchase row
    Fixtures.logs(rows).write.parquet(s"$dir/batch1")

    val cats = Fixtures.categories(Seq(Fixtures.catRow("-48", "-48-pc1", "a")))
    val stream = spark.readStream.schema(Schemas.logEvent).parquet(s"$dir/*")
    val out = StreamingEtl.transform(stream, cats, Fixtures.types)
    assert(out.isStreaming)

    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("etl_stream_out").start()
    try {
      q.processAllAvailable()
      val got = rowSet(spark.sql("SELECT * FROM etl_stream_out"))
      // enriched purchase row once (duplicate collapsed within the
      // watermark) + the null-padded login row with maid fallback
      assert(got.size == 2)
      assert(got.exists(_.contains("-48-pc1")))
      assert(got.exists(r => r.contains("m-login") && r.contains("login")))
    } finally q.stop()
  }

  test("C12 quirk (streaming): a matching login row appears twice, as in batch") {
    val dir = Files.createTempDirectory("stream-etl-login").toString
    val rows = Seq(Fixtures.logRow("m1", "-48", "u1", "c1",
      "2019-06-01T01:43:09.000Z", "login",
      """{"goodsCode": ["g1"], "goodsName": ["n1"]}"""))
    Fixtures.logs(rows).write.parquet(s"$dir/batch1")

    val cats = Fixtures.categories(Seq(Fixtures.catRow("-48", "g1", "x")))
    val stream = spark.readStream.schema(Schemas.logEvent).parquet(s"$dir/*")
    val q = StreamingEtl.transform(stream, cats, Fixtures.types).writeStream
      .outputMode("append").format("memory").queryName("etl_stream_login").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM etl_stream_login")
      // once enriched via the join, once null-padded, like the batch chain
      assert(rowSet(got) == rowSet(Pipeline.transformData(Fixtures.logs(rows), cats, Fixtures.types)))
      assert(got.count() == 2)
      assert(got.filter("ITEM_CODE IS NULL").count() == 1)
      assert(got.filter("ITEM_CODE = 'g1'").count() == 1)
    } finally q.stop()
  }
}
