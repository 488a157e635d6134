package graft.operators

import graft.SparkTestBase

/** Contract of the persisted build-index store (r10 verdict #1: the
  * five `build_*` session memos — suffix LCPs, contamination spans,
  * NSW edges, jaccard CC chain, BPE merges — persist to the index
  * root keyed by (corpus fingerprint, dial) so a rerun in a NEW JVM
  * pays a parquet read, not the multi-job cold construction; r11
  * verdict #1: retention must never delete a root this JVM has
  * served frames from, and concurrent same-key builders commit via
  * unique attempt dirs + a last-written pointer, no renames). */
class IndexStoreSpec extends SparkTestBase {

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-idxstore").toString
    graft.mr.Fs.overrideIndexRoot = Some(d)
    d
  }

  /** Simulate roots built by OTHER JVMs: this JVM's live-root pin is
    * what the eviction-race fix is about, so retention tests must
    * drop the pin to make roots deletable at all. Selective by index
    * name — clearing pins other suites hold (the suffix gate roots)
    * would reintroduce the very race this file regression-tests. */
  private def unpin(name: String): Unit =
    IndexStore.liveRoots.removeIf(_.contains(name))

  test("second load serves from disk without re-running the build") {
    freshRoot()
    try {
      var builds = 0
      def load(ss: org.apache.spark.sql.SparkSession = spark) =
        IndexStore.frames(ss, "spec_a", "corpusX:dial1", Seq("one", "two")) {
          builds += 1
          Seq(spark.range(5).toDF("a"), spark.range(3).toDF("b"))
        }
      val first = load()
      assert(builds == 1)
      val again = load(spark.newSession())
      assert(builds == 1, "second call must read the persisted parquet")
      assert(again.head.collect().map(_.getLong(0)).sorted
        .sameElements(first.head.collect().map(_.getLong(0)).sorted))
      assert(again(1).count() == 3)
      load()
      assert(builds == 1, "the original session must not rebuild")
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("a changed key (corpus or dial) rebuilds; COLD roots retained up to cap") {
    val rootDir = freshRoot()
    try {
      var builds = 0
      def load(key: String, ss: org.apache.spark.sql.SparkSession = spark) =
        IndexStore.frames(ss, "spec_b", key,
          Seq("d")) { builds += 1; Seq(spark.range(4).toDF("x")) }
      (1 to IndexStore.Retain + 2).foreach { i =>
        load(s"fp$i") // regenerated corpus / re-dialed geometry
        unpin("spec_b") // cold: as if built by an earlier, finished JVM
        Thread.sleep(20) // distinct mtimes for the retention order
      }
      assert(builds == IndexStore.Retain + 2, "every new key must rebuild")
      // retention: the store self-cleans past Retain COLD roots per
      // index name, so /tmp (or the production index bucket) is
      // bounded by index count x Retain, not by round count
      def roots() = new java.io.File(rootDir).listFiles()
        .filter(f => f.getName.startsWith("graft-bidx-") &&
          f.getName.contains("spec_b"))
      assert(roots().length == IndexStore.Retain,
        s"retain cap, got ${roots().map(_.getName).toSeq}")
      // the newest key is among the survivors: a reload costs no build
      load(s"fp${IndexStore.Retain + 2}", spark.newSession())
      assert(builds == IndexStore.Retain + 2)
      load(s"fp${IndexStore.Retain + 2}")
      assert(builds == IndexStore.Retain + 2, "the original session must not rebuild")
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("a root without a committed pointer (killed mid-write) is rebuilt") {
    val rootDir = freshRoot()
    try {
      var builds = 0
      def load(ss: org.apache.spark.sql.SparkSession = spark) =
        IndexStore.frames(ss, "spec_c", "k",
          Seq("d")) { builds += 1; Seq(spark.range(2).toDF("x")) }
      load()
      assert(builds == 1)
      // simulate a watchdog kill between the attempt write and the
      // pointer put: no _PTR -> the attempt never committed
      new java.io.File(rootDir).listFiles()
        .filter(_.getName.contains("spec_c"))
        .foreach(r => new java.io.File(r, "_PTR").delete())
      val rows = load(spark.newSession()).head.count()
      assert(builds == 2, "missing pointer must force a rebuild")
      assert(rows == 2)
      // and a pointer naming an attempt whose _READY is gone (partial
      // delete, bit-rot) is treated as absent, not served
      new java.io.File(rootDir).listFiles()
        .filter(_.getName.contains("spec_c"))
        .flatMap(_.listFiles()).filter(_.isDirectory)
        .foreach(a => new java.io.File(a, "_READY").delete())
      assert(load(spark.newSession()).head.count() == 2)
      assert(builds == 3, "pointer to an unready attempt must rebuild")
      load()
      assert(builds == 3, "the original session must not rebuild")
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("retention never deletes a root this JVM serves frames from " +
      "(r11 eviction race): >Retain corpora churn, held frame still reads") {
    val rootDir = freshRoot()
    try {
      def load(key: String) = IndexStore.frame(spark, "spec_live", key)(
        spark.range(7).toDF("v"))
      // a long-lived session loads the gate corpus's index and holds
      // the LAZY parquet-backed frame (exactly IndexStore.open's handle)
      val held = load("gate-corpus")
      assert(held.count() == 7)
      // ... then the suite cycles many fixture corpora through the
      // SAME index name; each new root is immediately cold (unpin
      // simulates other-JVM builders), but "gate-corpus" stays pinned
      // because THIS JVM served frames from it
      val heldRoots = new java.io.File(rootDir).listFiles()
        .filter(_.getName.contains("spec_live")).map(_.getName).toSet
      (1 to IndexStore.Retain + 4).foreach { i =>
        load(s"fixture$i")
        // unpin the fixture root just loaded (other-JVM builder); the
        // held root's pin — the fix under test — stays
        IndexStore.liveRoots.removeIf(n =>
          n.contains("spec_live") && !heldRoots.contains(n))
        Thread.sleep(5)
      }
      // the held root survived the churn and its frame still reads —
      // the exact FILE_NOT_EXIST failure mode of the r11 full suite
      assert(held.count() == 7,
        "retention deleted a root with live readers in this JVM")
      // and retention still bounds the COLD roots
      val n = new java.io.File(rootDir).listFiles()
        .count(_.getName.contains("spec_live"))
      assert(n <= IndexStore.Retain + 1,
        s"cold-root retention stopped working under the live exemption: $n")
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  private def rootName(attempt: String): String =
    new org.apache.hadoop.fs.Path(attempt).getParent.getName

  test("a second builder of the IVF and incremental-dedup keys commits a new " +
      "attempt: frames held over the first still read") {
    freshRoot()
    try {
      val isNewId = (c: org.apache.spark.sql.Column) => c % 5 === 4
      val ivf = AnnOps.IvfIndex.open(spark, sfDir).dir
      val inc = DedupOps.IncrementalIndex.open(spark, sfDir, 0.5, isNewId)
      // lazy parquet frames a session keeps (the file listing is fixed
      // when the frame is made)
      val vecs = spark.read.parquet(s"$ivf/vecs")
      val sh = spark.read.parquet(s"$inc/sh")
      val nVecs = vecs.collect().length
      val nSh = sh.collect().length
      // another JVM that missed the pointer builds the same key again
      Seq(ivf, inc).foreach { a =>
        val (fs, p) = graft.mr.Fs.resolve(
          new org.apache.hadoop.fs.Path(a).getParent + "/_PTR")
        assert(fs.delete(p, false))
      }
      val other = spark.newSession()
      val ivf2 = AnnOps.IvfIndex.open(other, sfDir).dir
      val inc2 = DedupOps.IncrementalIndex.open(other, sfDir, 0.5, isNewId)
      assert(ivf2 != ivf && inc2 != inc, "a missing pointer must rebuild")
      assert(AnnOps.IvfIndex.open(spark, sfDir).dir == ivf &&
        DedupOps.IncrementalIndex.open(spark, sfDir, 0.5, isNewId) == inc,
        "the original session must not rebuild")
      assert(rootName(ivf2) == rootName(ivf) && rootName(inc2) == rootName(inc))
      assert(vecs.collect().length == nVecs, "held IVF vecs frame stopped reading")
      assert(sh.collect().length == nSh, "held dedup sh frame stopped reading")
      // and the new attempt holds the same index
      assert(spark.read.parquet(s"$ivf2/vecs").count() == nVecs)
      assert(spark.read.parquet(s"$inc2/sh").count() == nSh)
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("the ivf index name keeps Retain roots; the IVF build is among them") {
    val rootDir = freshRoot()
    try {
      // cold ivf roots of earlier corpora, built by finished JVMs
      (1 to IndexStore.Retain + 2).foreach { i =>
        val a = IndexStore.commit(AnnOps.IvfIndex.Name, s"old-corpus-$i")(d =>
          spark.range(1).write.parquet(s"$d/cent"))
        IndexStore.liveRoots.remove(rootName(a))
        Thread.sleep(20) // distinct mtimes for the retention order
      }
      val idx = AnnOps.IvfIndex.open(spark, sfDir).dir
      val roots = new java.io.File(rootDir).listFiles()
        .map(_.getName).filter(_.startsWith("graft-bidx-v2-ivf-"))
      assert(roots.length == IndexStore.Retain, s"retain cap, got ${roots.toSeq}")
      assert(roots.contains(rootName(idx)))
      assert(spark.read.parquet(s"$idx/vecs").count() > 0)
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("a commit sweeps the retired index layouts and nothing else") {
    val rootDir = freshRoot()
    try {
      val retired = Seq("graft-bidx-v1-suffix_lcp-1f", "graft-ivfidx-v1-2e",
        "graft-incidx-v4-s5-t50-3d", "graft-vecarrivals-root_sf0.001-6a")
      val kept = Seq("graft-bidx-v2-other-4c", "unrelated-5b")
      (retired ++ kept).foreach(n => new java.io.File(rootDir, s"$n/part").mkdirs())
      IndexStore.frame(spark, "spec_sweep", "k")(spark.range(1).toDF("x"))
      val left = new java.io.File(rootDir).listFiles().map(_.getName).toSet
      assert(retired.forall(n => !left.contains(n)), s"retired roots left: $left")
      assert(kept.forall(left.contains), s"sweep removed a live root: $left")
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  private def writeOne(d: String): Unit =
    spark.range(3).toDF("x").write.parquet(s"$d/data")

  private def withPool[T](body: scala.concurrent.ExecutionContext => T): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try body(scala.concurrent.ExecutionContext.fromExecutor(pool))
    finally pool.shutdownNow()
  }

  test("concurrent opens of one key in one session run write and load once") {
    freshRoot()
    try withPool { implicit ec =>
      import scala.concurrent._, duration._
      val writes = new java.util.concurrent.atomic.AtomicInteger(0)
      val loads = new java.util.concurrent.atomic.AtomicInteger(0)
      val opens = (1 to 4).map(_ => Future(
        IndexStore.open(spark, "spec_once", "k") { d =>
          writes.incrementAndGet()
          Thread.sleep(300) // the other opens arrive mid-build
          writeOne(d)
        } { a => loads.incrementAndGet(); a }))
      val got = opens.map(Await.result(_, 60.seconds))
      assert(got.distinct.size == 1, s"opens served different attempts: $got")
      assert(writes.get == 1, s"write ran ${writes.get} times")
      assert(loads.get == 1, s"load ran ${loads.get} times")
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("two keys build in parallel: no JVM-wide lock around a build") {
    freshRoot()
    try withPool { implicit ec =>
      import scala.concurrent._, duration._
      // A's build cannot finish until B's build has STARTED — a lock
      // held across builds would time A out
      val bStarted = new java.util.concurrent.CountDownLatch(1)
      val fa = Future(IndexStore.open(spark, "spec_par", "A") { d =>
        assert(bStarted.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "key B's build never started while A was building")
        writeOne(d)
      }(identity))
      val fb = Future(IndexStore.open(spark, "spec_par", "B") { d =>
        bStarted.countDown(); writeOne(d)
      }(identity))
      assert(Await.result(fa, 60.seconds) != Await.result(fb, 60.seconds))
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("a changed index root gives a new handle") {
    try {
      var builds = 0
      def open() = IndexStore.open(spark, "spec_root", "k") { d =>
        builds += 1; writeOne(d)
      }(identity)
      val r1 = freshRoot()
      val a1 = open()
      val r2 = freshRoot()
      val a2 = open()
      assert(a1.startsWith(r1) && a2.startsWith(r2), s"$a1 / $a2")
      assert(builds == 2, "a handle of another root was served")
      graft.mr.Fs.overrideIndexRoot = Some(r1)
      assert(open() == a1 && builds == 2)
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("a new session resolves the pointer from disk again") {
    freshRoot()
    try {
      def open(ss: org.apache.spark.sql.SparkSession) =
        IndexStore.open(ss, "spec_sess", "k")(writeOne)(identity)
      val first = open(spark)
      // another JVM misses the pointer and commits a newer attempt
      val (fs, p) = graft.mr.Fs.resolve(
        new org.apache.hadoop.fs.Path(first).getParent + "/_PTR")
      assert(fs.delete(p, false))
      val newer = IndexStore.commit("spec_sess", "k")(writeOne)
      assert(newer != first)
      assert(open(spark) == first, "a live handle re-resolved the pointer")
      assert(open(spark.newSession()) == newer,
        "a new session served the old session's handle")
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("a failed build removes its attempt dir; the next open builds and serves") {
    val rootDir = freshRoot()
    try {
      val err = intercept[RuntimeException](
        IndexStore.open(spark, "spec_fail", "k") { d =>
          writeOne(d)
          sys.error("injected build failure")
        }(identity))
      assert(err.getMessage.contains("injected"))
      val bases = new java.io.File(rootDir).listFiles()
        .filter(_.getName.contains("spec_fail"))
      assert(bases.length == 1)
      val left = bases.head.list().toSeq
      assert(left.isEmpty, s"failed build left $left")
      val rows = IndexStore.open(spark, "spec_fail", "k")(writeOne)(a =>
        spark.read.parquet(s"$a/data").count())
      assert(rows == 3)
    } finally graft.mr.Fs.overrideIndexRoot = None
  }
}
