package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._
import graft.functions.Hashes._
import graft.functions.VectorExpressions.cosine_sim

/** Graph-based ANN serving — the navigable-small-world index family
  * (HNSW/NSW, Malkov & Yashunin 2016) that serves most production
  * vector search, in the flat single-layer "lite" form that stays
  * deterministic and oracle-replayable:
  *
  *   - GRAPH BUILD: edges are the top-[[M]] LSH-band candidates per
  *     node (same 48-plane/12-band signature the LSH index uses —
  *     candidates are BUCKETED, never all-pairs), pruned through the
  *     native TopKPerKey heaps and then bidirectionalized (HNSW's
  *     mutual-link repair). Deterministic: seeded planes, rounded-sim
  *     tie-breaks.
  *   - SERVE: fixed-depth beam search — start from [[Entries]] fixed
  *     entry nodes, [[Hops]] rounds of expand-neighbors → score →
  *     keep top-[[Beam]] per probe, final top-k from the beam. Each
  *     round is one equi-join of the (probes × beam)-sized frontier
  *     against the edge table plus one embedding fetch — the visited
  *     set is O(probes × beam × M), never the corpus.
  *
  * The unrolled fixed-hop shape (vs HNSW's while-improving loop) is
  * what makes the serve path expressible as plain SQL for the DuckDB
  * oracle — and it is also the latency-bounded form a production
  * serving tier actually deploys (a hop budget IS the p99 contract).
  *
  * At 100 TB: the build is band-bucketed (corpus × collision-rate
  * pairs, the dedup posture) with per-key bounded heaps; the serve
  * path touches O(beam × M) vectors per probe per hop regardless of
  * corpus size, with the frontier broadcast against the edge table.
  * The recall dial is (M, Beam, Hops) — HnswSpec pins recall vs the
  * IVF-PQ family on the same probe set.
  */
object HnswOps {
  import graft.SparkEntry.QueryFn

  val M = 6       // kept neighbors per node (pre-bidirectionalize)
  val Beam = 12   // beam width per probe
  val Hops = 3    // fixed expansion rounds
  /** Per-band candidate budget for the graph build ([[Blocking]]). */
  val BuildCap: Int = Blocking.DefaultCap

  /** DATA-DEPENDENT entry points: per-IVF-cell medoids — for each
    * coarse cell of the corpus quantizer (AnnOps.Quantizer, the
    * same centroids every IVF serve path uses), the base vector
    * most similar to its own cell's centroid (rounded cos, tie to
    * lower vec_id). The r5 graph entered from the 4 LOWEST vec_ids —
    * arbitrary points that can all land in one region of the space;
    * medoids cover every coarse region by construction, which is what
    * HNSW's upper layers buy, at the cost of one bounded TopK pass
    * over the corpus (a handle like the edge list). Deterministic and
    * oracle-replayable: DuckDB recomputes the identical centroids,
    * assignment, and per-cell argmax. */
  private[operators] def medoidEntries(s: SparkSession, dir: String): Seq[Long] = {
    IndexStore.open(s, "nsw_entries", AnnOps.corpusKey(dir)) { out =>
      import s.implicits._
      val cents = AnnOps.Quantizer.open(s, dir).cents
      // r14 ADVICE: one argmax scan yields BOTH fields (a separate
      // cell and similarity expression ran the full centroid loop
      // twice per row); the struct is materialized in its own
      // select so the field reads don't re-inline the loop
      val scored = Tables.embeddings(s, dir)
        .select($"vec_id",
          graft.functions.VectorExpressions
            .cell_argmax_both($"embedding", cents).as("cs"))
        .select($"vec_id", $"cs.cell".as("cell"), $"cs.sim_r".as("sim_r"))
      graft.plans.TopK.perKey(scored,
        keyCols = Seq("cell"),
        orderCols = Seq("sim_r" -> false, "vec_id" -> true), k = 1)
        .select($"vec_id").write.parquet(out + "/data")
    }(a => s.read.parquet(a + "/data").collect().map(_.getLong(0)).toSeq.sorted)
  }

  /** The band keys of the signature under the [[AnnOps.lshGeometry]]
    * dial (default 12×4-bit bands of 48 planes; wide 4×16-bit of 64;
    * ten 32-bit bands of the 5-word signature at the multi-word
    * tier) — the one load-bearing banding geometry, shared by the
    * graph build and the attach path (a drift between the two would
    * silently break the streaming-parity contract). Delegates to
    * [[AnnOps.bandKeyCols]] so every hyperplane consumer extracts
    * identically at every dial. */
  private def bandKeys(
      sigCol: org.apache.spark.sql.Column, geo: (Int, Int)) =
    array(AnnOps.bandKeyCols(sigCol, geo): _*)

  /** Bidirectional pruned edge list (src, dst). The candidate
    * distinct runs over ID PAIRS only — embeddings re-join for the
    * cosine afterwards (a wide distinct over two 64-float arrays
    * shuffles 64× the bytes for the same answer). */
  def edges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val geo = AnnOps.lshGeometryFor(s, dir) // n-aware unless pinned
    val sig = AnnOps.sigUdfFor(geo._1)
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    // sig MATERIALIZED in its own select (r13 — the SURVEY §6 inline
    // trap, measured here: inlining the signature UDF into all 12
    // band-key columns re-evaluated it per band, 12.4 s -> 1.8 s for
    // the banding stage at sf0.1; CollapseProject keeps a multiply-
    // referenced non-cheap alias in its own projection)
    val banded = emb
      .select($"vec_id", sig($"embedding").as("sig"))
      .select($"vec_id", explode(bandKeys($"sig", geo)).as("key"))
    // per-band anchor-star cap ([[Blocking]]): a degenerate band emits
    // O(n·cap) candidates instead of n²; bands ≤ cap — every organic
    // band here — are the exact uncapped self-join. The oracle replays
    // the identical row_number admission rule. Cosine is symmetric,
    // so each UNDIRECTED pair is scored once (pinned — a lazy union
    // would re-run the scoring join per branch) and mirrored into the
    // directed candidate stream: half the embedding-join bytes and
    // half the cosine work of scoring directed pairs.
    val und = Blocking.cappedPairs(banded, "vec_id", "a", "b", BuildCap)
    val scored = und
      .join(emb.select($"vec_id".as("a"), $"embedding".as("ea")), "a")
      .join(emb.select($"vec_id".as("b"), $"embedding".as("eb")), "b")
      .select($"a", $"b", rnd(cosine_sim($"ea", $"eb"), 6).as("sim_r"))
      .transform(Checkpoints.cut)
    val cands = scored.select($"a".as("src"), $"b".as("dst"), $"sim_r")
      .unionByName(scored.select($"b".as("src"), $"a".as("dst"), $"sim_r"))
    val kept = graft.plans.TopK.perKey(cands,
      keyCols = Seq("src"), orderCols = Seq("sim_r" -> false, "dst" -> true), k = M)
      .select($"src", $"dst")
    kept.unionByName(kept.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
  }

  /** The geometry the ATTACH paths (batch add + streaming ingest)
    * serve: the n-aware schedule's choice AT THE SCHEDULE FLOOR —
    * `scheduledGeometry(max(n, ScheduleMinN))`, (60, 15) at the gate
    * corpora, coinciding with [[AnnOps.lshGeometryFor]] exactly on
    * every corpus past the threshold (r12 verdict #1: the gate's
    * attach ran the (48, 4) family default, whose 4-bit buckets
    * admit ~77% of the base corpus PER ARRIVAL on a sub-threshold
    * corpus — the bench's worst row measured that floor, not the
    * operator; the floor dial admits ~0.4/arrival on the same data
    * and is the dial a production ingest would actually run). The
    * GRAPH BUILD keeps [[AnnOps.lshGeometryFor]]: its per-band
    * anchor-cap already bounds a deep default bucket, and the serve
    * recall panel is tuned against that graph. */
  def attachGeometryFor(s: SparkSession, dir: String): (Int, Int) =
    AnnOps.lshScheduleFloorGeometryFor(s, dir)

  /** Persisted banded postings of the BASE corpus for the attach
    * join — (key, nbr, ne): exactly what a production LSH attach
    * index materializes (band-key-partitioned postings with the
    * vectors attached, so an arrival pays one equi-join and reads
    * only colliding vectors). Built once per (corpus fingerprint,
    * dial) through [[IndexStore]] — its `_META` records the
    * schedule-chosen geometry, the "which dial built this index"
    * audit trail the scheduled-mass row established. */
  private def attachBase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (p, b) = attachGeometryFor(s, dir)
    val key = AnnOps.corpusKey(dir) + s":attach:geo$p:$b"
    IndexStore.frame(s, "nsw_attach_base", key) {
      val sig = AnnOps.sigUdfFor(p)
      Tables.embeddings(s, dir).where($"vec_id" % 10 =!= 0)
        .select($"vec_id".as("nbr"), $"embedding".as("ne"),
          sig($"embedding").as("sig")) // materialized: the inline trap
        .select($"nbr", $"ne",
          explode(bandKeys($"sig", (p, b))).as("key"))
    }
  }

  /** Banded candidate edges for ATTACHING new vectors to the frozen
    * graph (HNSW `add`): arriving vectors signature map-side, band
    * keys explode, and an equi-join against the persisted banded
    * BASE postings ([[attachBase]] — `vec_id % 10 != 0`, the
    * incremental-index split) yields (vec_id, nbr, sim_r)
    * candidates at [[attachGeometryFor]]'s schedule-floor dial.
    * Pure map + equi-join — works unchanged on a STREAMING arrivals
    * frame (stream-static join), which is how
    * [[graft.streaming.Streams.hnswIngestStream]] routes per
    * micro-batch; the batch face [[attachEdges]] prunes to top-M
    * through the native heaps. */
  def attachCandidates(s: SparkSession, dir: String)(
      arrivals: DataFrame): DataFrame = {
    import s.implicits._
    val geo = attachGeometryFor(s, dir)
    val sig = AnnOps.sigUdfFor(geo._1)
    arrivals
      .select($"vec_id", $"embedding",
        sig($"embedding").as("sig")) // materialized: the inline trap
      .select($"vec_id", $"embedding",
        explode(bandKeys($"sig", geo)).as("key"))
      .join(attachBase(s, dir), "key")
      .where($"vec_id" =!= $"nbr")
      .select($"vec_id", $"nbr",
        rnd(cosine_sim($"embedding", $"ne"), 6).as("sim_r"))
  }

  /** The attach band-join against an EXPLICIT base frame — the core
    * [[attachCandidates]] binds to the incremental-index split;
    * spec-visible so NswFloorSpec measures the per-arrival candidate
    * mass on planted corpora through the real engine path. */
  private[graft] def attachCandidatesAgainst(
      baseVecs: DataFrame, geo: (Int, Int) = AnnOps.lshGeometry)(
      arrivals: DataFrame): DataFrame = {
    import arrivals.sparkSession.implicits._
    val sig = AnnOps.sigUdfFor(geo._1)
    val base = baseVecs
      .select($"vec_id".as("nbr"), $"embedding".as("ne"),
        sig($"embedding").as("sig")) // materialized: the inline trap
      .select($"nbr", $"ne", explode(bandKeys($"sig", geo)).as("key"))
    // NOTE: candidates are NOT deduplicated here — a .distinct() on
    // a STREAMING frame compiles to an unwatermarked
    // StreamingDeduplicate whose state grows forever and suppresses
    // re-arrivals across micro-batches. Each consumer dedups in its
    // own (bounded) scope: attachEdges on the static frame, the
    // streaming fold inside its per-key batch.
    arrivals
      .select($"vec_id", $"embedding",
        sig($"embedding").as("sig")) // materialized: the inline trap
      .select($"vec_id", $"embedding",
        explode(bandKeys($"sig", geo)).as("key"))
      .join(base, "key")
      .where($"vec_id" =!= $"nbr")
      .select($"vec_id", $"nbr",
        rnd(cosine_sim($"embedding", $"ne"), 6).as("sim_r"))
  }

  /** Batch attach: top-[[M]] banded neighbors per arriving vector —
    * the parity oracle for the streaming ingest. */
  def attachEdges(s: SparkSession, dir: String, arrivals: DataFrame): DataFrame =
    graft.plans.TopK.perKey(attachCandidates(s, dir)(arrivals).distinct(),
      keyCols = Seq("vec_id"), orderCols = Seq("sim_r" -> false, "nbr" -> true),
      k = M)

  /** The edge list per corpus fingerprint, an [[IndexStore]] handle
    * like SuffixOps' LCPs: the gate, the plan audit, and the recall
    * specs all serve against the same frozen graph — rebuilding the
    * banded candidate join per call re-pays the most expensive stage
    * for identical input. */
  private def edgesCached(s: SparkSession, dir: String): DataFrame = {
    // key carries the band-geometry dial: a re-dialed run (or the
    // n-aware schedule picking differently for a regenerated corpus)
    // can never serve a stale graph; the dial also lands in the
    // store's _META — the "which geometry built this index" record
    val (p, b) = AnnOps.lshGeometryFor(s, dir)
    val key = AnnOps.corpusKey(dir) + s":geo$p:$b:M$M:cap$BuildCap"
    IndexStore.frame(s, "nsw_edges", key)(edges(s, dir))
  }

  /** Cold-build entry for the bench's `build_nsw_graph` row: edge
    * list + medoid entry points (both session handles; the build is
    * eager so returning means built). */
  def buildGraph(s: SparkSession, dir: String): Unit = {
    edgesCached(s, dir); medoidEntries(s, dir); ()
  }

  /** Fixed-depth beam-search top-k serve — output shape identical to
    * the other ANN queries: (pid, rnk, nid, sim). The r5 shape
    * narrowed session-global shuffle conf around the rounds (not
    * thread-safe under concurrent queries); the frontier frames are
    * O(probes × beam) rows, so serve now just runs at session width —
    * the per-stage saving was task-launch overhead, not data. */
  val annHnswTopk: QueryFn = (s, dir) => serve(s, dir)

  /** The fixed-depth beam search, returning both the final beam and
    * VISITED — every (pid, nid, hop, sim) the search ever scored
    * (entries = hop 0, expansions = their hop, min hop per node).
    * Visited is the search's true candidate COST, which is what an
    * equal-budget layout comparison must charge it —
    * [[AnnOps.annIvfBqRecall]] caps it at the shared shortlist budget
    * in (hop asc, rounded-sim desc, nid asc) order: "the first
    * `budget` nodes the search scores, best-first within a hop". */
  private[operators] def beamSearchWithVisited(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val probes = emb.where($"vec_id" < AnnOps.NumProbes)
      .select($"vec_id".as("pid"), $"embedding".as("pe"))
    val entries = emb
      .where($"vec_id".isin(medoidEntries(s, dir): _*))
      .select($"vec_id".as("nid"), $"embedding".as("ne"))
    val eds = edgesCached(s, dir)

    def score(frontier: DataFrame): DataFrame = frontier
      .join(broadcast(probes), "pid")
      .join(emb.select($"vec_id".as("nid"), $"embedding".as("ne")), "nid")
      .select($"pid", $"nid", cosine_sim($"pe", $"ne").as("sim"))

    var beam = probes.crossJoin(broadcast(entries))
      .select($"pid", $"nid", cosine_sim($"pe", $"ne").as("sim"))
    var visited = beam.withColumn("hop", lit(0))
    for (h <- 1 to Hops) {
      val expand = beam.select($"pid", $"nid".as("src"))
        .join(eds, "src")
        .select($"pid", $"dst".as("nid")).distinct()
      val scored = score(expand)
      visited = visited.unionByName(scored.withColumn("hop", lit(h)))
      // beam ∪ expansion deduped in ONE group pass (a re-reached
      // node carries the identical deterministic sim, so max = the
      // value) — cheaper than an exceptAll set-difference round
      val merged = beam.unionByName(scored)
        .groupBy($"pid", $"nid").agg(max($"sim").as("sim"))
        .withColumn("sim_r", rnd($"sim", 6))
      beam = graft.plans.TopK.perKey(merged,
          keyCols = Seq("pid"), orderCols = Seq("sim_r" -> false, "nid" -> true),
          k = Beam)
        .select($"pid", $"nid", $"sim")
        .transform(Checkpoints.cut)
    }
    val vis = visited
      .groupBy($"pid", $"nid")
      .agg(min($"hop").as("hop"), max($"sim").as("sim"))
    (beam, vis)
  }

  private def serve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (beam, _) = beamSearchWithVisited(s, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy(rnd($"sim", 6).desc, $"nid".asc)
    beam.where($"nid" =!= $"pid")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where($"rnk" <= AnnOps.K)
      .select($"pid", $"rnk", $"nid", rnd($"sim", 4).as("sim"))
      .orderBy($"pid", $"rnk")
  }
}
