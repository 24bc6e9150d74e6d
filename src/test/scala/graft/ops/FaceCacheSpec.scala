package graft.ops

import graft.SparkSpec

/** FaceCache lifecycle (r14): LRU bound on dead-session entries,
  * deferred (grace-period) release of replaced cells, and
  * GraftPins.withAqeOff reentrancy. Driven with synthetic slot values —
  * the cache is value-agnostic; the DataFrame cases ride the exact same
  * paths via their release functions. */
class FaceCacheSpec extends SparkSpec {

  private def freshSession() = {
    val s = spark.newSession()
    s.conf.set("spark.graft.faceCache.maxSessions", "64") // don't evict by default
    s
  }

  test("same signature memoizes; signature change swaps the cell") {
    val s = freshSession()
    var builds = 0
    def get(sig: String): String =
      ExtensionQueries.FaceCache.get(s, "spec-slot-memo", sig) { builds += 1; s"v$builds" }(_ => ())
    assert(get("a") == "v1" && get("a") == "v1" && builds == 1)
    assert(get("b") == "v2" && builds == 2)
    assert(get("b") == "v2" && builds == 2)
  }

  test("replaced cell is RETIRED under the grace period, released after it") {
    val s = freshSession()
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(sig: String): String =
      ExtensionQueries.FaceCache.get(s, "spec-slot-grace", sig)(sig)(v => { released += v; () })
    s.conf.set("spark.graft.faceCache.replaceGraceMs", "3600000")
    assert(get("a") == "a")
    assert(get("b") == "b") // replaces a's cell
    assert(!released.contains("a"),
      "a replaced face must not be released while a concurrent reader may hold it")
    assert(ExtensionQueries.FaceCache.retiredCount >= 1)
    // grace 0 = sweep everything on the next get
    s.conf.set("spark.graft.faceCache.replaceGraceMs", "0")
    assert(get("b") == "b")
    assert(released.contains("a"), "the grace period elapsed — the old face must be freed")
    s.conf.set("spark.graft.faceCache.replaceGraceMs", "3600000")
  }

  test("dead-session bound: the least-recently-used session's faces are released at the cap") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    def put(s: org.apache.spark.sql.SparkSession, v: String): String =
      ExtensionQueries.FaceCache.get(s, "spec-slot-lru", "sig")(v)(x => { released += x; () })
    val s1 = freshSession(); val s2 = freshSession(); val s3 = freshSession()
    put(s1, "one"); put(s2, "two")
    assert(ExtensionQueries.FaceCache.hasSession(s1) && ExtensionQueries.FaceCache.hasSession(s2))
    // cap low on the NEXT caller: inserting s3 must evict the LRU
    // sessions beyond the cap — s1 is oldest (s2 touched after it)
    s3.conf.set("spark.graft.faceCache.maxSessions", "2")
    put(s3, "three")
    assert(!ExtensionQueries.FaceCache.hasSession(s1), "LRU session must be evicted at the cap")
    assert(released.contains("one"), "the evicted session's faces must be released")
    assert(ExtensionQueries.FaceCache.hasSession(s3) && !released.contains("three"))
    // a re-get on the evicted session simply rebuilds
    assert(put(s1, "one-again") == "one-again")
  }

  test("dead-session bound: an evicted session's persisted-index directory is deleted") {
    val data = java.nio.file.Paths.get("perfbench", "data", "sf0.01").toString
    val s1 = freshSession(); val s2 = freshSession(); val s3 = freshSession()
    val dir = java.nio.file.Paths.get(ExtensionQueries.invIndexFor(s1, data))
    assert(java.nio.file.Files.isDirectory(dir))
    ExtensionQueries.FaceCache.get(s2, "spec-slot-index-lru", "sig")("two")(_ => ())
    s3.conf.set("spark.graft.faceCache.maxSessions", "2")
    ExtensionQueries.FaceCache.get(s3, "spec-slot-index-lru", "sig")("three")(_ => ())
    assert(!ExtensionQueries.FaceCache.hasSession(s1), "LRU session must be evicted at the cap")
    assert(!java.nio.file.Files.exists(dir), "the evicted session's index directory must be deleted")
  }

  test("withAqeOff: nested and overlapping entries restore the conf exactly once") {
    import org.apache.spark.sql.graftext.GraftPins
    val s = freshSession()
    val k = "spark.sql.adaptive.enabled"
    s.conf.set(k, "true")
    // nested (same thread): inner exit must NOT restore
    GraftPins.withAqeOff(s) {
      assert(s.conf.get(k) == "false")
      GraftPins.withAqeOff(s) { assert(s.conf.get(k) == "false") }
      assert(s.conf.get(k) == "false",
        "inner exit restored early — the sticky-restore race in reverse")
    }
    assert(s.conf.get(k) == "true")
    // overlapping (two threads): the first exit leaves AQE off for the
    // still-running second body; the last exit restores the ORIGINAL
    // value, not the 'false' the second entry observed
    val inBody = new java.util.concurrent.CountDownLatch(2)
    val release = new java.util.concurrent.CountDownLatch(1)
    val t1Done = new java.util.concurrent.CountDownLatch(1)
    val t2 = new Thread(() => GraftPins.withAqeOff(s) {
      inBody.countDown()
      release.await()
      t1Done.await() // outlive t1's exit
    })
    val t1 = new Thread(() => GraftPins.withAqeOff(s) {
      inBody.countDown()
      release.await()
    })
    t1.start(); t2.start()
    release.countDown() // both entered (entry precedes the latch), let bodies finish
    inBody.await()
    t1.join()
    assert(s.conf.get(k) == "false",
      "t1's exit must not restore while t2's body still runs")
    t1Done.countDown()
    t2.join()
    assert(s.conf.get(k) == "true", "the outermost exit restores the original value")
  }
}
