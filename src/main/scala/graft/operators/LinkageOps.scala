package graft.operators

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols.rnd

/** Record linkage (entity resolution) — the blocking + pairwise-score
  * shape (Fellegi & Sunter 1969) every identity-stitching pipeline
  * uses: never all-pairs; candidate pairs come only from shared
  * blocking keys, and each candidate is scored with a field-level
  * similarity (edit distance here — `levenshtein` is exact integer
  * arithmetic in any engine, so the whole op is hash-verifiable,
  * unlike phonetic or embedding scorers).
  *
  * The "dirty registry" is DERIVED deterministically from the clean
  * table (the CdcOps changeBatch discipline): three perturbation
  * kinds — a dropped character, a trailing space, a substituted
  * symbol — applied to a keyed residue class. That makes the op
  * replayable by a second engine AND gives it ground truth, so the
  * output reports per-kind precision, not just match counts. False
  * candidates are real, not planted: same-block names differing in
  * one digit land within the edit-distance threshold.
  *
  * Scale shape: ONE equi-join on the blocking key (nation + the
  * name's trailing digits — survives all three perturbations);
  * per-block pair counts are bounded by block cardinality, the knob
  * every linkage deployment tunes (finer blocks trade recall for
  * pair volume). The scorer is a codegen'd per-row expression; the
  * summary is a 3-row partial+final agg. No window, no sort.
  */
object LinkageOps {
  import graft.SparkEntry.QueryFn

  /** Scored candidate pairs (c_key, d_key, lev) from the blocking
    * join — shared by the per-kind quality panel and the entity
    * clustering pass, served through a session result memo so the
    * two consumers pay the blocking join + Levenshtein scoring once
    * per corpus. */
  private val candMemo = new Memo[org.apache.spark.sql.DataFrame]()

  private[operators] def scoredCandidates(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    candMemo.getOrElseUpdate(
      s, dir + graft.mr.Fs.fingerprint(dir + "/customer.parquet"),
      scoredCandidatesUncached(s, dir).transform(Checkpoints.cut))

  private def scoredCandidatesUncached(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir)
    // deterministic dirty copies of every 7th record, kind = key mod 3
    val dirty = c.where($"c_custkey" % 7 === 3)
      .select($"c_custkey".as("d_key"), $"c_nationkey".as("d_nat"),
        when($"c_custkey" % 3 === 0,
            concat(substring($"c_name", 1, 5), substring($"c_name", 7, 100)))
          .when($"c_custkey" % 3 === 1, concat($"c_name", lit(" ")))
          .otherwise(regexp_replace($"c_name", "#", "=")).as("d_name"))
    def blockKey(name: org.apache.spark.sql.Column,
                 nat: org.apache.spark.sql.Column) =
      concat(nat.cast("string"), lit("|"),
        substring(regexp_replace(name, " ", ""), -2, 2))
    val clean = c.select($"c_custkey".as("c_key"), $"c_name",
      blockKey($"c_name", $"c_nationkey").as("bk"))
    clean
      .join(dirty.withColumn("bk", blockKey($"d_name", $"d_nat")), "bk")
      .withColumn("lev", levenshtein($"c_name", $"d_name"))
  }

  val qRecordLinkage: QueryFn = (s, dir) => {
    import s.implicits._
    val cand = scoredCandidates(s, dir)
    cand.groupBy(($"d_key" % 3).as("kind"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when($"lev" <= 2, 1L).otherwise(0L)).as("n_matched"),
        sum(when($"lev" <= 2 && $"c_key" === $"d_key", 1L).otherwise(0L)).as("n_true"),
        sum(when($"c_key" === $"d_key", 1L).otherwise(0L)).as("n_pairs_truth"))
      .select($"kind", $"n_candidates", $"n_matched", $"n_true",
        rnd($"n_true".cast("double") / $"n_matched".cast("double"), 6).as("precision"),
        rnd($"n_true".cast("double") / $"n_pairs_truth".cast("double"), 6).as("recall"))
      .orderBy($"kind")
  }

  /** End-to-end entity resolution: the [[qRecordLinkage]] match set
    * (threshold lev ≤ 2 — false positives INCLUDED, deliberately)
    * closed into entities by connected components. This surfaces the
    * classic ER transitive-closure hazard: one over-match chains two
    * real entities into a single cluster — the n_clean > 1 rows in
    * the output are exactly those merges, which is what an ER review
    * queue triages. Dirty record ids live at key+10⁷ (the registry
    * id space), so membership mix is visible per entity.
    *
    * Scale shape: matching is the blocking equi-join; clustering is
    * the same alternating star-contraction CC as dedup_clusters
    * (O(log d) rounds, asserted fixpoint, only edge-touching nodes
    * iterate); the summary is one partial+final agg over members.
    * Oracle: recursive-CTE reachability over the identical match
    * set. */
  val qEntityClusters: QueryFn = (s, dir) => {
    import s.implicits._
    val pairs = scoredCandidates(s, dir)
      .where($"lev" <= 2)
      .select($"c_key".as("doc_a"), ($"d_key" + 10000000L).as("doc_b"))
    val universe = pairs.select($"doc_a".as("doc_id"))
      .unionByName(pairs.select($"doc_b".as("doc_id"))).distinct()
    DedupOps.connectedComponents(pairs, universe)
      .groupBy($"rep".as("entity"))
      .agg(count(lit(1)).as("n_records"),
        sum(when($"doc_id" < 10000000L, 1L).otherwise(0L)).as("n_clean"),
        sum(when($"doc_id" >= 10000000L, 1L).otherwise(0L)).as("n_dirty"),
        max($"doc_id").as("max_member"))
      .where($"n_records" >= 2)
      .orderBy($"entity")
  }
}
