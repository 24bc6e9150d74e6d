package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.types._
import java.sql.Timestamp

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Atomically drop one batch into a file-stream source dir as a SINGLE
    * parquet file: stage to a temp dir, then Files.move the lone part
    * file in. A plain `.write.parquet(dir/batchN)` emits part files +
    * _SUCCESS non-atomically, and the file source can list mid-write —
    * the round-7 flake. One file per drop also makes
    * `maxFilesPerTrigger=1` put each drop in its own micro-batch. */
  private def dropBatch(dir: String,
                        rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("stage-batch").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, s"b${System.nanoTime()}.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  test("windowedCounts over a file stream reaches the memory sink") {
    val dir = java.nio.file.Files.createTempDirectory("stream-in").toString
    dropBatch(dir, Seq(
      (1L, ts(5), 1L, "view", 1.0), (2L, ts(10), 1L, "view", 2.0),
      (3L, ts(20), 2L, "purchase", 5.0)))

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStream.windowedCounts(stream, "1 hour", "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM win_out ORDER BY event_type").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq == Seq(
        ("2024-01-01 10:00:00", "purchase", 1L, 5.0),
        ("2024-01-01 10:00:00", "view", 2L, 3.0)))
    } finally q.stop()
  }

  test("streamingDedup drops repeated event_ids within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("stream-dedup").toString
    dropBatch(dir, Seq(
      (1L, ts(5), 1L, "view", 1.0), (1L, ts(6), 1L, "view", 1.0), // dup id 1
      (2L, ts(10), 2L, "purchase", 5.0)))
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStream.streamingDedup(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("sessionWindows emits gap-closed and timeout-closed sessions (flatMapGroupsWithState)") {
    val dir = java.nio.file.Files.createTempDirectory("stream-sess").toString
    // user 1: two events 5 min apart (one session), then an event 50 min
    // later (past the 30-min gap -> a second session; both seal once the
    // watermark passes their last_event + gap)
    dropBatch(dir, Seq(
      (1L, ts(0), 1L, "view", 1.0), (2L, ts(5), 1L, "view", 2.0),
      (3L, ts(55), 1L, "purchase", 5.0)))
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[EventStream.Event](org.apache.spark.sql.Encoders.product[EventStream.Event])
    val q = EventStream.sessionWindows(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past session 2's timeout
      dropBatch(dir, Seq((99L, Timestamp.valueOf("2024-01-01 14:00:00"), 2L, "view", 0.0)))
      q.processAllAvailable()
      q.processAllAvailable() // one more microbatch so the timeout fires
      val rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM sess_out WHERE user_id = 1 ORDER BY n_events DESC")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains((1L, 2L, 3.0)), s"gap-closed session missing: ${rows.toSeq}")
      assert(rows.contains((1L, 1L, 5.0)), s"timeout-closed session missing: ${rows.toSeq}")
    } finally q.stop()
  }

  test("sessionWindows handles cross-batch out-of-order events (backward extend + pre-gap old session)") {
    val dir = java.nio.file.Files.createTempDirectory("stream-sess-ooo").toString
    // batch 1 opens a session for user 1: [10:40, 10:45]
    dropBatch(dir, Seq(
      (1L, ts(40), 1L, "view", 1.0), (2L, ts(45), 1L, "view", 2.0)))
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[EventStream.Event](org.apache.spark.sql.Encoders.product[EventStream.Event])
    val q = EventStream.sessionWindows(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_ooo_out").start()
    try {
      q.processAllAvailable()
      // batch 2 arrives out of order (>= the 9:45 watermark, so admitted):
      //  - 9:50 and 9:55 are > gap before every other event and within
      //    the gap of each other -> they merge into ONE old session
      //  - 10:30 is within the gap before the 10:40 start -> extends the
      //    open session backwards (and is 35 min after 9:55, so it does
      //    NOT bridge the old session into it)
      dropBatch(dir, Seq(
        (3L, Timestamp.valueOf("2024-01-01 09:50:00"), 1L, "view", 7.0),
        (4L, Timestamp.valueOf("2024-01-01 09:55:00"), 1L, "view", 2.0),
        (5L, ts(30), 1L, "view", 3.0)))
      q.processAllAvailable()
      // advance the watermark so both sessions timeout-close
      dropBatch(dir, Seq((99L, Timestamp.valueOf("2024-01-01 14:00:00"), 2L, "view", 0.0)))
      q.processAllAvailable()
      q.processAllAvailable() // one more microbatch so the timeout fires
      val rows = spark.sql(
        "SELECT session_start, session_end, n_events, total_value FROM sess_ooo_out WHERE user_id = 1")
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains((Timestamp.valueOf("2024-01-01 09:50:00"),
        Timestamp.valueOf("2024-01-01 09:55:00"), 2L, 9.0)),
        s"consecutive pre-gap out-of-order events should merge into one closed session: $rows")
      assert(rows.contains((ts(30), ts(45), 3L, 6.0)),
        s"in-gap out-of-order event should extend the session backwards: $rows")
    } finally q.stop()
  }

  test("sessionWindows merges pre-gap events split across micro-batches (maxFilesPerTrigger=1)") {
    val dir = java.nio.file.Files.createTempDirectory("stream-sess-split").toString
    // Each drop is ONE file and maxFilesPerTrigger=1 forces one file per
    // micro-batch — the round-7 flake scenario, now deterministic: the
    // two pre-gap events land in DIFFERENT triggers and must still merge
    // into one old session (state, not batch-end, holds them).
    dropBatch(dir, Seq(
      (1L, ts(40), 1L, "view", 1.0), (2L, ts(45), 1L, "view", 2.0)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[EventStream.Event](org.apache.spark.sql.Encoders.product[EventStream.Event])
    val q = EventStream.sessionWindows(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_split_out").start()
    try {
      q.processAllAvailable()
      dropBatch(dir, Seq((3L, ts(0), 1L, "view", 7.0)))
      q.processAllAvailable()
      dropBatch(dir, Seq((4L, ts(5), 1L, "view", 2.0)))
      q.processAllAvailable()
      dropBatch(dir, Seq((99L, Timestamp.valueOf("2024-01-01 14:00:00"), 2L, "view", 0.0)))
      q.processAllAvailable()
      q.processAllAvailable() // one more microbatch so the timeout fires
      val rows = spark.sql(
        "SELECT session_start, session_end, n_events, total_value FROM sess_split_out WHERE user_id = 1")
        .collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains((ts(0), ts(5), 2L, 9.0)),
        s"pre-gap events split across triggers must merge into one session: $rows")
      assert(rows.contains((ts(40), ts(45), 2L, 3.0)),
        s"the open session seals unchanged: $rows")
    } finally q.stop()
  }

  test("sessionize aggregates per-user state (batch execution of the stateful op)") {
    val events = Seq(
      EventStream.Event(1L, ts(0), 1L, "view", 1.0),
      EventStream.Event(2L, ts(1), 1L, "view", 2.0),
      EventStream.Event(3L, ts(2), 2L, "purchase", 10.0)).toDS()
    val out = EventStream.sessionize(events).collect()
      .map(s => s.user_id -> ((s.n_events, s.total_value))).toMap
    assert(out(1L) == ((2L, 3.0)))
    assert(out(2L) == ((1L, 10.0)))
  }

  test("attributionJoin: stream-stream interval join attributes purchases within the horizon") {
    val vdir = java.nio.file.Files.createTempDirectory("stream-views").toString
    val pdir = java.nio.file.Files.createTempDirectory("stream-purch").toString
    // user 1: view at :05, purchases at :10 (inside horizon) — view at
    // :05 is the only candidate. user 2: purchase at :30 with NO view
    // inside [:30-10min, :30] (its view is at :02) — dropped.
    dropBatch(vdir, Seq((1L, ts(5), 1L, "view", 0.0), (4L, ts(2), 2L, "view", 0.0)))
    dropBatch(pdir, Seq((2L, ts(10), 1L, "purchase", 9.0), (3L, ts(30), 2L, "purchase", 5.0)))
    val views = spark.readStream.schema(schema).parquet(vdir)
    val purchases = spark.readStream.schema(schema).parquet(pdir)
    val q = EventStream.attributionJoin(views, purchases, horizon = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, purchase_id, view_id, value FROM attr_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq == Seq((1L, 2L, 1L, 9.0)),
        s"only the in-horizon purchase attributes: ${rows.toSeq}")
    } finally q.stop()
  }

  test("attributionJoin emits one row per in-horizon view; lastTouchAttribution keeps only the latest") {
    val vdir = java.nio.file.Files.createTempDirectory("stream-views-mt").toString
    val pdir = java.nio.file.Files.createTempDirectory("stream-purch-mt").toString
    // user 1 has THREE views before the :10 purchase: :01, :07 inside
    // the 10-min horizon, :59 of the previous hour outside it.
    dropBatch(vdir, Seq((1L, Timestamp.valueOf("2024-01-01 09:59:00"), 1L, "view", 0.0),
      (2L, ts(1), 1L, "view", 0.0), (3L, ts(7), 1L, "view", 0.0)))
    dropBatch(pdir, Seq((9L, ts(10), 1L, "purchase", 4.0)))

    def views = spark.readStream.schema(schema).parquet(vdir)
    def purchases = spark.readStream.schema(schema).parquet(pdir)

    val qm = EventStream.attributionJoin(views, purchases, horizon = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("attr_mt").start()
    try {
      qm.processAllAvailable()
      val multi = spark.sql("SELECT view_id FROM attr_mt ORDER BY view_id")
        .collect().map(_.getLong(0))
      assert(multi.toSeq == Seq(2L, 3L),
        s"multi-touch: one row per in-horizon view: ${multi.toSeq}")
    } finally qm.stop()

    val ql = EventStream.lastTouchAttribution(views, purchases, horizon = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("attr_lt").start()
    try {
      ql.processAllAvailable()
      // the windowed agg needs the watermark to pass the window end
      dropBatch(pdir, Seq((99L, Timestamp.valueOf("2024-01-01 13:00:00"), 2L, "purchase", 0.0)))
      dropBatch(vdir, Seq((98L, Timestamp.valueOf("2024-01-01 13:00:00"), 2L, "view", 0.0)))
      ql.processAllAvailable()
      ql.processAllAvailable()
      val last = spark.sql("SELECT purchase_id, view_id, value FROM attr_lt WHERE purchase_id = 9")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(last.toSeq == Seq((9L, 3L, 4.0)),
        s"last-touch: exactly one row, the :07 view: ${last.toSeq}")
    } finally ql.stop()
  }
}
