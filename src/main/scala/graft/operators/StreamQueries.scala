package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.Tables
import graft.functions.Cols.rnd
import graft.streaming.Streams

/** Driver-gated faces of the Structured Streaming components
  * (SURVEY §2.G): each query here runs a REAL streaming job — file
  * source over the events landing dir, the production transform from
  * [[graft.streaming.Streams]], memory sink — blocks until
  * `processAllAvailable`, and returns the sink table, which the
  * driver hash-compares against a DuckDB batch oracle. That is the
  * strongest statement a finite gate can make about a streaming
  * operator: the incremental execution (stateful aggs, watermark
  * timeouts, join state, dedup state) lands BIT-IDENTICAL to the
  * declarative batch semantics.
  *
  * The memory sink is the GATE harness, not the production face —
  * the recovery/parity specs in StreamingSpec drive the same
  * transforms through parquet sinks with checkpoint restarts. Every
  * transform here carries a watermark, so state is bounded and the
  * same topology runs unbounded at 100 TB/day (the finite parquet
  * landing dir stands in for a kafka/kinesis source; swapping the
  * `readStream` line is the only change).
  *
  * Determinism notes (what makes hash-exact streaming possible):
  *   - sums accumulate in DECIMAL(27,10) or integral-cent doubles —
  *     never raw double state, whose value depends on merge order;
  *   - emitted sets (dedup survivors, join pairs, closed sessions,
  *     final CDC states) are functions of the DATA, not of
  *     micro-batch boundaries — the spec suite proves batch-count
  *     invariance separately, the gate proves the value.
  *
  * Reference tie-in: the reference engine has no streaming surface
  * at all (gomapreduce is batch-only); this family is part of the
  * "beyond the reference" training-pipeline surface.
  */
object StreamQueries {
  import graft.SparkEntry.QueryFn

  /** Scale-adaptive state-partition width for the gate's streaming
    * faces (r13, guide §2 "make partitioning scale-adaptive ...
    * rather than a constant tuned for either local mode or the
    * cluster"): stateful streaming exchanges are EXEMPT from AQE
    * coalescing (Spark disables AQE under stateful workloads), so
    * the session's batch-sized `spark.sql.shuffle.partitions` (= the
    * core count) was also the state-store count — a stream-stream
    * interval join materializes FOUR state stores per partition per
    * micro-batch, so the gate's 2 MB landing dir paid 128
    * store open/commit cycles per batch of pure fixed overhead.
    * Width derives from the landing-dir bytes at ~32 MB of input per
    * state partition (clamped to [4, session width]). Emitted rows
    * are a pure data function (the spec suite proves
    * batch-count/partitioning invariance), so the width changes
    * cost, never content — and each gate face starts from a fresh
    * temp checkpoint, so no checkpoint ever sees two widths. */
  private def stateParts(s: SparkSession, srcDir: String): Int = {
    // recursive (landing dirs nest); clamped in Long space, so the
    // unreadable-dir fallback lands on the session width
    val bytes =
      try {
        def walk(f: java.io.File): Long =
          if (f.isDirectory)
            Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
          else f.length()
        walk(new java.io.File(srcDir))
      } catch { case _: Throwable => Long.MaxValue }
    val sessionWidth = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(sessionWidth.toLong,
      math.max(4L, bytes / (32L << 20))).toInt
  }

  /** Run a finite streaming query to completion into a memory sink
    * and return the sink rows, planned on `s`. The stream and its
    * sink view run on a clone of `s` with [[stateParts]] shuffle
    * partitions, so `s` never sees that width and concurrent runs do
    * not collide. The rows are pinned into SPILLABLE block storage
    * and the sink view dropped before returning (r9): a registered
    * memory sink holds its rows on the driver heap, and thirteen of
    * them OOMed the stress run at 73 rows. */
  private def runToTable(s: SparkSession, name: String, df: DataFrame,
      mode: String, srcDir: String): DataFrame = {
    val child = ColumnBridge.cloneSession(s)
    child.conf.set("spark.sql.shuffle.partitions", stateParts(s, srcDir).toString)
    val q = ColumnBridge.ofRows(child, df.queryExecution.analyzed)
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    try ColumnBridge.ofRows(s, child.table(name).transform(Checkpoints.cut).queryExecution.analyzed)
    finally child.catalog.dropTempView(name)
  }

  /** Tumbling 1-hour panes: counts + exact decimal-accumulated sums
    * (complete mode — the sink table IS the final pane set). */
  val streamWindowStats: QueryFn = (s, dir) => {
    import s.implicits._
    val out = runToTable(s, "stream_window_stats",
      Streams.windowStats(Streams.eventsStream(s, dir)), "complete",
      Streams.landingDir(dir, "events"))
    out.select(
        date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
        $"event_type", $"n_events", rnd($"sum_value", 2).as("sum_value"))
      .orderBy($"hour", $"event_type")
  }

  /** Hopping 6h/2h panes (each event in exactly 3): the streaming
    * multi-assignment agg, complete mode. */
  val streamHoppingStats: QueryFn = (s, dir) => {
    import s.implicits._
    val out = runToTable(s, "stream_hopping_stats",
      Streams.hoppingAgg(Streams.eventsStream(s, dir)), "complete",
      Streams.landingDir(dir, "events"))
    out.select(
        date_format($"win_start", "yyyy-MM-dd HH:mm:ss").as("win_start"),
        $"event_type", $"n_events")
      .orderBy($"win_start", $"event_type")
  }

  /** Streaming dedup survivors, projected to their keys: WHICH row
    * survives per key is arrival-order-dependent, but the KEY SET is
    * exactly the distinct (user_id, event_type) pairs — the
    * deterministic contract the gate checks. */
  val streamDedupKeys: QueryFn = (s, dir) => {
    import s.implicits._
    val out = runToTable(s, "stream_dedup_keys",
      Streams.streamingDedup(Streams.eventsStream(s, dir)), "append",
      Streams.landingDir(dir, "events"))
    out.select($"user_id", $"event_type").orderBy($"user_id", $"event_type")
  }

  /** Stream-stream interval self-join: every (view, purchase) pair of
    * the same user with purchase within [view, view+1h]. Append
    * emissions across batches form exactly the batch interval-join
    * set; per-row cents need no accumulator. */
  val streamIntervalJoin: QueryFn = (s, dir) => {
    import s.implicits._
    val out = runToTable(s, "stream_interval_join",
      Streams.viewPurchaseJoin(Streams.eventsStream(s, dir)), "append",
      Streams.landingDir(dir, "events"))
    out.select($"user_id", $"view_id", $"purchase_id",
        floor($"purchase_value" * 100 + lit(0.5)).cast("long").as("purchase_cents"))
      .orderBy($"view_id", $"purchase_id")
  }

  /** LEFT OUTER stream-stream interval join (r12 verdict #6a),
    * driver-gated: matched pairs emit like `stream_interval_join`;
    * a view with no purchase in its hour emits ONCE, null-padded, at
    * watermark expiry of its match interval — the abandonment
    * accounting an unbounded pipeline runs with bounded state. The
    * finite gate's emitted set is a pure data function: inner pairs
    * ∪ unmatched views whose interval end sits below the final
    * watermark (min of the sides' max event time, ms-truncated,
    * − 1h) — nulls surface as −1 sentinels so every column stays
    * non-null BIGINT on both engines. Views inside the final
    * watermark horizon stay in (would-be) state and do NOT emit —
    * the oracle replays exactly that horizon. */
  val streamIntervalOuter: QueryFn = (s, dir) => {
    import s.implicits._
    val out = runToTable(s, "stream_interval_outer",
      Streams.viewPurchaseOuterJoin(Streams.eventsStream(s, dir)), "append",
      Streams.landingDir(dir, "events"))
    out.select($"user_id", $"view_id",
        coalesce($"purchase_id", lit(-1L)).as("purchase_id"),
        coalesce(floor($"purchase_value" * 100 + lit(0.5)).cast("long"),
          lit(-1L)).as("purchase_cents"))
      .orderBy($"view_id", $"purchase_id")
  }

  /** Closed sessions from the flatMapGroupsWithState sessionizer,
    * event-time timeouts included: a user's non-final sessions close
    * when their successor event arrives; the final session closes iff
    * the event-time timeout (last_ms + gap) lands strictly below the
    * final watermark (global max_ms − 30 min delay) — the exact rule
    * the oracle replays in SQL. Input `value` is pre-scaled to
    * integral cents so the per-session double accumulation is exact
    * and order-free (integers below 2^53). */
  val streamSessionizeClosed: QueryFn = (s, dir) => {
    import s.implicits._
    val events = Streams.eventsStream(s, dir)
      .withColumn("value", floor($"value" * 100 + lit(0.5)))
    val out = runToTable(s, "stream_sessionize_closed",
      Streams.sessionize(events).toDF(), "append",
      Streams.landingDir(dir, "events"))
    out.where($"closed")
      .select($"user_id", $"start_us", $"end_us", $"n_events",
        $"sum_value".cast("long").as("sum_cents"))
      .orderBy($"user_id", $"start_us")
  }

  /** Streaming MERGE state: a deterministic change feed derived from
    * events (seq = event_id — unique, so max-seq-wins is replayable;
    * clicks are tombstones) applied by mapGroupsWithState; the gate
    * reads each key's FINAL state (max `ver` emission — `ver` itself
    * is batch-count-dependent, so it is consumed here, not output). */
  val streamCdcState: QueryFn = (s, dir) => {
    import s.implicits._
    val src = Streams.landingDir(dir, "events")
    val changes = Streams.eventsStreamFrom(s, src).select(
      $"event_id".as("seq"),
      ($"user_id" % 500).as("key"),
      when($"event_type" === "click", lit("delete")).otherwise(lit("upsert")).as("op"),
      $"event_type".as("st"),
      rnd($"value", 2).as("tp"))
    val out = runToTable(s, "stream_cdc_state",
      Streams.cdcApply(changes).toDF(), "update", src)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy($"ver".desc)
    out.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"key", $"st", $"tp", $"alive".cast("long").as("alive"))
      .orderBy($"key")
  }

  /** Continuous KMV distinct-count sketch, final emission per key:
    * the sketch state is a pure SET function (the k unsigned-minimal
    * hashes), so the final emission is deterministic whatever the
    * micro-batching — and it is the LEXICOGRAPHIC MAX of the
    * emissions under (n_sketch, est): n_sketch grows until the
    * sketch saturates, after which the k-th minimum only falls and
    * the estimate only rises. The oracle replays the sketch over the
    * whole corpus with the batch `q_kmv_distinct` arithmetic. */
  val streamKmvDistinct: QueryFn = (s, dir) => {
    import s.implicits._
    val out = runToTable(s, "stream_kmv_distinct",
      Streams.kmvStream(Streams.eventsStream(s, dir)).toDF(), "append",
      Streams.landingDir(dir, "events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type")
      .orderBy($"n_sketch".desc, $"est_distinct".desc)
    out.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"event_type", $"n_sketch".cast("long").as("n_sketch"),
        rnd($"est_distinct", 2).as("est_distinct"))
      .orderBy($"event_type")
  }

  /** Continuous HyperLogLog, final emission per key: registers only
    * grow, so (n_zero_regs asc, hsum asc) orders emissions by state —
    * the estimate itself is NOT monotone across the linear-counting
    * branch switch, which is exactly why [[Streams.HllEntry]] carries
    * the harmonic sum. The oracle replays the registers exactly
    * (scaled-integer harmonic sum, one rounding), the batch
    * `q_hll_distinct` discipline. */
  val streamHllDistinct: QueryFn = (s, dir) => {
    import s.implicits._
    val out = runToTable(s, "stream_hll_distinct",
      Streams.hllStream(Streams.eventsStream(s, dir)).toDF(), "append",
      Streams.landingDir(dir, "events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type")
      .orderBy($"n_zero_regs".asc, $"hsum".asc)
    out.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"event_type", $"n_zero_regs".cast("long").as("n_zero_regs"),
        rnd($"est_distinct", 2).as("est_distinct"))
      .orderBy($"event_type")
  }

  /** Stream-static enrichment rollup: the event stream broadcast-
    * joins the customer→nation dimension per micro-batch (stateless —
    * the standard "attach metadata at ingest" shape) and rolls up by
    * nation × event type in complete mode with decimal-exact sums.
    * The left join keeps unmatched events flowing as the `<none>`
    * group; the oracle is the same join+rollup in batch SQL. */
  val streamEnrichRollup: QueryFn = (s, dir) => {
    import s.implicits._
    val dim = Tables.customer(s, dir)
      .join(Tables.nation(s, dir),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey".as("user_id"), $"n_name")
    val enriched = Streams.enrich(Streams.eventsStream(s, dir), dim)
      .groupBy(coalesce($"n_name", lit("<none>")).as("nation"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Cols.xsum($"value").as("sum_value"))
    val out = runToTable(s, "stream_enrich_rollup", enriched, "complete",
      Streams.landingDir(dir, "events"))
    out.select($"nation", $"event_type", $"n_events",
        rnd($"sum_value", 2).as("sum_value"))
      .orderBy($"nation", $"event_type")
  }

  /** Continuous per-key top-k ([[Streams.topkEvents]]), final state
    * selected SET-WISE: every emitted (event_id, value) pair is a
    * real event of its key, and every member of the final top-k was
    * emitted in its own arrival batch (it beat all but < k of the
    * events seen so far, or it wouldn't be in the final top-k) — so
    * top-k over the DISTINCT emitted pairs per key IS the final
    * state, no version column needed. Ranking (value desc, event_id
    * asc) is the batch operator's total order, so the oracle is the
    * plain batch top-k over the whole corpus. */
  val streamTopkEvents: QueryFn = (s, dir) => {
    import s.implicits._
    val out = runToTable(s, "stream_topk_events",
      Streams.topkEvents(Streams.eventsStream(s, dir)).toDF(), "append",
      Streams.landingDir(dir, "events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"value".desc, $"event_id".asc)
    out.select($"event_type", $"event_id", $"value").distinct()
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where($"rnk" <= 5)
      .select($"event_type", $"rnk", $"event_id", rnd($"value", 2).as("value"))
      .orderBy($"event_type", $"rnk")
  }

  /** Streaming vector ingest through the FROZEN coarse quantizer
    * ([[Streams.ivfIngestStream]] — the `add`-after-`train` face of
    * the persisted IVF index): the arriving tenth of the corpus
    * (vec_id % 10 == 0, the `ann_incremental_topk` split) lands as
    * parquet, routes map-side against the centroid literals trained
    * on the BASE corpus only, and the gate reads each arrival's cell
    * assignment. Stateless per micro-batch — the emission set is a
    * pure function of the data — and the oracle replays the frozen
    * quantizer exactly (decimal-exact base-corpus centroids, argmax
    * at 1e-6-rounded cosine, ties to the lower cell). */
  val streamIvfIngest: QueryFn = (s, dir) => {
    import s.implicits._
    val src = stagedVectorsDir(s, dir)
    val out = runToTable(s, "stream_ivf_ingest",
      Streams.ivfIngestStream(s, dir, src), "append", src)
    out.select($"vec_id", $"cell".cast("long").as("cell")).orderBy($"vec_id")
  }

  /** Near-duplicate ALERTS at ingest ([[Streams.neardupAlerts]]),
    * gated on the bands where alerts are a pure data function: on a
    * band the [[Streams.MaxPriorsPerBand]] cap never binds, every
    * arrival pairs with every earlier doc, so the UNORDERED alert
    * pair set equals the full LSH candidate set of that band —
    * arrival order only decides which side is `prior`, which
    * canonicalization erases. Capped bands are excluded by an
    * engine-side batch count over the SAME banding expressions
    * (their prior sets are genuinely arrival-order state — the spec
    * suite owns that contract); the oracle replays the whole minhash
    * index and emits all pairs of its 2..cap-occupancy buckets. */
  val streamNeardupAlerts: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val src = Streams.landingDir(dir, "documents")
    val alerts = runToTable(s, "stream_neardup_alerts",
      Streams.neardupAlerts(Streams.bandedDocs(docsStreamFrom(s, src))).toDF(),
      "append", src)
    val uncapped = Streams.bandedDocs(docs)
      .groupBy($"band").agg(count_distinct($"doc_id").as("n"))
      .where($"n" >= 2 && $"n" <= Streams.MaxPriorsPerBand)
      .select($"band")
    alerts.join(uncapped, "band")
      .select(least($"doc_id", $"prior_id").as("doc_a"),
        greatest($"doc_id", $"prior_id").as("doc_b"))
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Streaming vector attach into the frozen NSW graph
    * ([[Streams.hnswIngestStream]] — the HNSW `add` next to
    * [[streamIvfIngest]]'s cell routing), driver-gated: arriving
    * vectors (the vec_id % 10 == 0 split) signature map-side AT THE
    * SCHEDULE-FLOOR DIAL ([[HnswOps.attachGeometryFor]] — (60, 15)
    * at the gate, the n-aware schedule's own first point, recorded
    * in the persisted postings' `_META`; r12 verdict #1: the old
    * (48, 4) default paid 77% of the base corpus per arrival here),
    * band-join the STATIC banded base postings, and keep their
    * top-M candidate edges per arrival — all of an arrival's
    * candidates land in its own micro-batch (the band fan-out
    * happens inside the batch), so the emitted edge set is a pure
    * data function whatever the batching.
    *
    * At the production dial most near-random gate arrivals collide
    * with NOTHING (that is the dial doing its job), so the gate row
    * LEFT-JOINS the full arrival split: every arrival emits ≥ 1 row
    * — matched ones their ranked edges plus their candidate COUNT
    * (n_cands, the per-arrival cost the candidate-mass guard
    * bounds), unmatched ones a (0, 0, -1, 0.0) sentinel — so the
    * row count is the arrival count by construction, never
    * collision-luck (the r10 survival-curve lesson). The oracle
    * replays the whole banding index at the same dial: literal
    * hyperplanes, 4×15-bit band collisions against the base split,
    * exact cosines in the same left-to-right accumulation, top-M at
    * (1e-6-rounded sim, nbr), left join from the arrival split. */
  val streamHnswIngest: QueryFn = (s, dir) => {
    import s.implicits._
    val src = stagedVectorsDir(s, dir)
    val out = runToTable(s, "stream_hnsw_ingest",
      Streams.hnswIngestStream(s, dir, src).toDF(), "append", src)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"sim_r".desc, $"nbr".asc)
    val ranked = out.withColumn("rnk", row_number().over(w).cast("long"))
    Tables.embeddings(s, dir).where($"vec_id" % 10 === 0)
      .select($"vec_id")
      .join(ranked, Seq("vec_id"), "left")
      .select($"vec_id",
        coalesce($"n_cands", lit(0L)).as("n_cands"),
        coalesce($"rnk", lit(0L)).as("rnk"),
        coalesce($"nbr", lit(-1L)).as("nbr"),
        coalesce($"sim_r", lit(0.0)).as("sim_r"))
      .orderBy($"vec_id", $"rnk")
  }

  /** Streaming read of the documents table, with the batch reader's
    * fixed schema ([[Tables.schemas]]). */
  private def docsStreamFrom(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(Tables.schemas("documents")).parquet(dir)

  /** The arriving-vector landing dir behind [[streamIvfIngest]] and
    * [[streamHnswIngest]]: the vec_id % 10 == 0 split, committed once
    * per corpus CONTENT as the `vec_arrivals` index — the key folds
    * in the source's (name, size, mtime) fingerprint (r9 advice: a
    * path-only key served STALE vectors to the ingest faces after a
    * corpus was regenerated in place, while the oracle read the fresh
    * file). [[IndexStore.open]] gives it the one commit protocol:
    * a second builder writes its own attempt instead of overwriting
    * files under a running stream, and old stages fall under
    * retention. The file source reads `<attempt>/data` only. */
  private def stagedVectorsDir(s: SparkSession, sfDir: String): String =
    IndexStore.open(s, "vec_arrivals", AnnOps.corpusKey(sfDir)) { dir =>
      Tables.embeddings(s, sfDir).where(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("embedding"), col("label"))
        .write.parquet(dir + "/data")
    }(_ + "/data")

  /** Streaming decontamination admission gate, driver-gated (r10 —
    * the last spec-only streaming face with a pure-data contract):
    * the benchmark 4-gram Bloom ([[graft.functions.FnvBloom]] — the
    * SQL-replayable sketch) broadcasts once; arriving docs gram
    * map-side and fold inside their own micro-batch (stateless), so
    * each doc's (n_grams, n_flagged) emission is a pure data
    * function whatever the batching. The oracle replays the WHOLE
    * sketch: benchmark bit set from the fnv64→mix64 double-hash
    * probes, per-gram all-k-bits membership, per-doc counts — false
    * positives included, which is what makes the flag counts
    * hashable at all. */
  val streamDecontaminate: QueryFn = (s, dir) => {
    import s.implicits._
    val src = Streams.landingDir(dir, "documents")
    val out = runToTable(s, "stream_decontaminate",
      Streams.decontaminateStream(s, dir, src).toDF(), "append", src)
    out.select($"doc_id", $"n_grams", $"n_flagged").orderBy($"doc_id")
  }
}
