package graft.tools

import org.apache.spark.sql.SparkSession

/** Generic conf-toggle A/B over one catalog query (scratch): runs the
  * named SparkEntry query to the noop sink under two settings of one
  * Spark conf, interleaved reps, and prints per-rep times. The probe
  * face for the size-gated driver twins (graft.ops.DriverGate): their
  * limits are constants, and the one switch
  * `spark.graft.gates.forceDistributed` (AB_VALUES "false,true")
  * reaches every distributed arm.
  * Env: AB_QUERY, AB_CONF, AB_VALUES ("a,b"), AB_REPS (default 3),
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. */
object ConfAbProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val q = sys.env("AB_QUERY")
    val conf = sys.env("AB_CONF")
    val values = sys.env("AB_VALUES").split(",").toSeq
    val reps = sys.env.getOrElse("AB_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(q)
    def runOnce(v: String): Double = {
      spark.conf.set(conf, v)
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => org.apache.spark.sql.graftext.GraftPins.isPinned(r.id))
        .foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })
      System.gc()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    values.foreach(runOnce) // warm both paths (JIT)
    val times = values.map(_ -> Vector.newBuilder[Double]).toMap
    for (r <- 1 to reps; v <- values) {
      spark.sparkContext.setJobDescription(s"$q $conf=$v rep $r")
      times(v) += runOnce(v)
    }
    spark.conf.unset(conf)
    val js = values.map { v =>
      "\"" + v + "\":[" + times(v).result().map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{\"metric\":\"conf_ab\",\"query\":\"" + q + "\",\"conf\":\"" +
      conf + "\",\"sf\":\"" + sfDir + "\",", ",", "}")
    println(js)
    spark.stop()
  }
}
