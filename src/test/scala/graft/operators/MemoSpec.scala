package graft.operators

import graft.SparkTestBase

/** [[Memo]]/[[Memos]] hygiene: bounded size with eldest eviction,
  * session identity that never migrates across sessions (the
  * identityHashCode-reuse hazard the r5 ADVICE flagged), and
  * recompute-on-evict rather than stale service. */
class MemoSpec extends SparkTestBase {

  test("memo evicts eldest past the cap and recomputes it on return") {
    val m = new Memo[String](cap = 3)
    var builds = 0
    def get(k: String): String =
      m.getOrElseUpdate(spark, k, { builds += 1; s"v$k" })
    (1 to 3).foreach(i => get(s"c$i"))
    assert(builds == 3)
    get("c1"); assert(builds == 3, "hit must not rebuild")
    get("c4"); assert(builds == 4) // evicts eldest (c1: LinkedHashMap insertion order)
    get("c1"); assert(builds == 5, "evicted entry must rebuild, not serve stale")
    get("c3"); get("c4")
    assert(builds == 5, "recent entries still cached")
  }

  test("session ids are stable within a session and distinct across sessions") {
    val a = Memos.sessionId(spark)
    assert(a == Memos.sessionId(spark), "unstable within a session")
    val other = spark.newSession()
    assert(Memos.sessionId(other) != a, "distinct sessions share an identity")
    assert(a.startsWith(spark.sparkContext.applicationId),
      "application scope missing from the key")
  }

  test("different corpus keys never cross-serve") {
    val m = new Memo[Int]()
    assert(m.getOrElseUpdate(spark, "fpA", 1) == 1)
    assert(m.getOrElseUpdate(spark, "fpB", 2) == 2)
    assert(m.getOrElseUpdate(spark, "fpA", 99) == 1)
  }

  test("two corpora build in PARALLEL; same corpus builds exactly once") {
    // r6 verdict #5: the old impl held the memo-wide lock across the
    // build thunk, so corpus B's build queued behind corpus A's. Here A's
    // build blocks on a latch that only B's build releases — deadlock
    // under the old lock-the-map design, finishes under per-key latches.
    val m = new Memo[String]()
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    import scala.concurrent._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fa = Future(m.getOrElseUpdate(spark, "corpusA", {
        aStarted.countDown()
        // A cannot finish until B's build has STARTED — proves B was not
        // queued behind A's in-flight build
        assert(bStarted.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "corpus B's build never started while A was building")
        builds.incrementAndGet(); "A"
      }))
      val fb = Future(m.getOrElseUpdate(spark, "corpusB", {
        bStarted.countDown(); builds.incrementAndGet(); "B"
      }))
      // same-key concurrency still serializes to ONE build: the second
      // caller arrives while A's build is in flight (started after it,
      // so the pool cannot run it first and make "A-dup" the build)
      assert(aStarted.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val fa2 = Future(m.getOrElseUpdate(spark, "corpusA", {
        builds.incrementAndGet(); "A-dup"
      }))
      import scala.concurrent.duration._
      assert(Await.result(fa, 60.seconds) == "A")
      assert(Await.result(fb, 60.seconds) == "B")
      assert(Await.result(fa2, 60.seconds) == "A", "same key must share one build")
      assert(builds.get == 2, s"expected 2 builds (A once, B once), got ${builds.get}")
    } finally pool.shutdownNow()
  }

  test("a build that throws is retried, not cached as a failure") {
    val m = new Memo[Int]()
    var attempts = 0
    def get(fail: Boolean): Int = m.getOrElseUpdate(spark, "fpX", {
      attempts += 1
      if (fail) sys.error("injected build failure") else 42
    })
    intercept[RuntimeException](get(fail = true))
    assert(get(fail = false) == 42, "failed build must not poison the key")
    assert(attempts == 2)
    assert(get(fail = true) == 42, "success is cached; thunk not re-run")
    assert(attempts == 2)
  }
}
