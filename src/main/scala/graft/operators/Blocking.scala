package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded candidate generation for block-keyed self-joins — the LSH
  * band / signature-chunk pair generators behind the dedup and graph
  * builds.
  *
  * The uncapped shape (`a.join(b, "key").where(a < b)`) emits |block|²
  * candidates per block. Organic blocks are small by construction
  * (minhash 4-row bands, 16-bit simhash/phash chunks), but a
  * degenerate block — 10⁶ boilerplate-identical crawl pages sharing a
  * band, whose signatures no sub-banding can separate because they are
  * IDENTICAL — turns one key into a 10¹² pair explosion before any
  * verify/top-k prune runs. The streaming face has always capped this
  * (per-band state bound in `stream_neardup_alerts`); this is the
  * batch face's matching discipline.
  *
  * Anchor-star rule: within each block, the `cap` lowest-id members
  * are ANCHORS; an unordered pair is admitted iff its lower-id side is
  * an anchor. Properties:
  *   - blocks with ≤ cap members admit ALL pairs — bit-identical to
  *     the uncapped join, so organic corpora are unaffected;
  *   - a degenerate block of n members emits ≤ n·cap pairs (linear),
  *     and every member still pairs with every anchor, so a duplicate
  *     MASS stays fully connected through its anchors and the
  *     connected-components pass recovers the cluster intact — what a
  *     capped block can lose is only anchor-free pairs WITHIN a block
  *     already over-budget, each of which had cap other chances (one
  *     per band) to be admitted elsewhere;
  *   - the rule is engine-replayable: one `row_number() OVER
  *     (PARTITION BY block ORDER BY id)` plus `i <= cap` on the
  *     lower side — the DuckDB oracles replay it verbatim, so the cap
  *     can bind at ANY scale without desyncing verification.
  *
  * The block sequence number is a key-partitioned window (never
  * global); the window shuffle is the same key-hash exchange the
  * pair join needs anyway.
  */
object Blocking {

  /** Default per-block anchor budget. 256 × the largest organic block
    * ≈ the band-collision ceiling of every banded index here at test
    * scale; a production run sizes it as (target candidate volume) /
    * (docs × bands). */
  val DefaultCap = 256

  /** Undirected capped candidate pairs (aName < bName) from a
    * (key, idCol) frame — each id may carry many keys; each (key, id)
    * row must be unique. */
  def cappedPairs(
      keyed: DataFrame, idCol: String, aName: String, bName: String,
      cap: Int = DefaultCap): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col(idCol))
    // pinned: both join branches read this frame — lazy, the window
    // AND its upstream (a full signature computation for the minhash
    // callers) would evaluate twice, once per branch
    val seq = keyed.select(col("key"), col(idCol))
      .withColumn("__i", row_number().over(w))
      .transform(Checkpoints.cut)
    // a < b within a block ⟹ a is the lower sequence number, so
    // "lower side is an anchor" is exactly "left side drawn from the
    // anchor set" — blocks ≤ cap reduce to the full self-join
    val anchors = seq.where(col("__i") <= cap)
      .select(col("key"), col(idCol).as(aName))
    val all = seq.select(col("key"), col(idCol).as(bName))
    anchors.join(all, Seq("key"))
      .where(col(aName) < col(bName))
      .select(aName, bName).distinct()
  }

  /** Directed both-ways variant for graph builds: every admitted
    * undirected pair emitted in both (src, dst) orders — the NSW
    * candidate shape (top-M prune runs per src afterwards). */
  def cappedPairsDirected(
      keyed: DataFrame, idCol: String, srcName: String, dstName: String,
      cap: Int = DefaultCap): DataFrame = {
    val und = cappedPairs(keyed, idCol, "__a", "__b", cap)
    und.select(col("__a").as(srcName), col("__b").as(dstName))
      .unionByName(und.select(col("__b").as(srcName), col("__a").as(dstName)))
  }
}
