package graft.operators

import org.apache.spark.sql.SparkSession

/** Corpus context for the STATIC geometry accessors (r11 advice,
  * medium): the engine serve/build paths resolve n-aware band
  * geometry through `*GeometryFor(session, dir)`, but the DuckDB
  * oracle strings interpolate the static accessors
  * ([[AnnOps.lshGeometry]], [[DedupOps.simhashGeometry]],
  * [[DedupOps.embGeometry]], [[graft.operators.TextOps]]'
  * phashGeometry) — which, with no override, returned the family
  * DEFAULT.
  * On any corpus past the schedule thresholds that desyncs oracle
  * from engine and the hash gate fails silently.
  *
  * Fix: [[graft.Verify]] (and anything else that materializes
  * oracles for a KNOWN corpus) publishes that corpus here, and the
  * static accessors resolve through the SAME n-aware schedule the
  * serve paths use: each static accessor is
  * `resolve(override.getOrElse(default))(xGeometryFor)`, so a spec's
  * override var wins everywhere, and with no context the accessors
  * keep their historical defaults — specs and gate corpora (all
  * below the thresholds) are untouched. `xGeometryFor`'s `getOrElse`
  * is lazy, so an override never counts the corpus.
  */
object GeometryContext {
  @volatile private var current: Option[(SparkSession, String)] = None

  /** Publish the corpus every subsequent static-accessor read should
    * resolve geometry for. Set once by Verify before the oracle dump
    * and left in place for the query runs — oracle and engine then
    * interpolate identical dials by construction. */
  def set(s: SparkSession, dir: String): Unit = current = Some((s, dir))

  def clear(): Unit = current = None

  /** Resolve `schedule(corpus)` under the published context, else
    * `default`. */
  private[operators] def resolve[G](default: G)(
      schedule: (SparkSession, String) => G): G =
    current match {
      case Some((s, d)) => schedule(s, d)
      case None         => default
    }

  /** The dials currently resolved by the static accessors — recorded
    * by Verify into verify_meta.json so a judge can audit which
    * geometry a gate run's oracles interpolated. */
  def describe(): String =
    s"lsh=${AnnOps.lshGeometry} simhash=${DedupOps.simhashGeometry} " +
      s"emb=${DedupOps.embGeometry} phash=${TextOps.phashGeometry} " +
      s"lsh_sched_floor=${AnnOps.lshScheduleFloorGeometry}"
}
