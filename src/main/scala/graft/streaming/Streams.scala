package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.G). The reference is a
  * batch engine; these are the streaming twins of the batch event
  * queries (`q_events_windowed`, `q_events_sessionize`), built the
  * Spark-native way: readStream → event-time watermark → windowed agg
  * / flatMapGroupsWithState. StreamingSpec proves batch/stream parity
  * on the finite events table.
  */
object Streams {

  /** The events parquet schema as the streaming source sees it. `ts`
    * is a placeholder — [[eventsStreamFrom]] substitutes the dtype the
    * files actually carry (Long nanos on old generators, TIMESTAMP_NTZ
    * micros on current ones; see [[graft.Tables.normalizeTs]]). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of the events table with the same ns→µs
    * normalization as the batch loader. The file source requires a
    * directory, so the single events.parquet is exposed through a
    * per-sfDir symlink dir (a real deployment streams a landing
    * directory to begin with). */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    eventsStreamFrom(spark, landingDir(sfDir, "events"))

  /** The landing directory of one corpus table (`events`,
    * `documents`): a Spark-written `<table>.parquet` DIRECTORY (the
    * stress corpus, any real landing zone) serves as-is; the
    * single-file testdata layout is exposed through a per-(sfDir,
    * table) symlink dir, since the file source wants a directory.
    * Every streaming face of a table reads through here, so all of
    * them consume the identical source files. */
  def landingDir(sfDir: String, table: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(sfDir, table + ".parquet")
    if (Files.isDirectory(src)) src.toString
    else {
      val stage = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft-$table-" + graft.mr.Fs.pathKey(sfDir))
      // validate the staged CONTENT, not the dir's existence: a
      // half-created stage (dir without link — a crash between the
      // two calls) would otherwise stay permanently empty (r9
      // advice). Symlinked content is never stale — reads follow the
      // link to the live file — so only the link needs repair.
      Files.createDirectories(stage)
      val link = stage.resolve(table + ".parquet")
      if (!Files.exists(link)) {
        Files.deleteIfExists(link) // a dangling symlink "exists=false"
        Files.createSymbolicLink(link, src)
      }
      stage.toString
    }
  }

  /** Streaming events source over any landing directory of raw-schema
    * parquet files (the restart/recovery spec feeds one file per
    * micro-batch through this). */
  def eventsStreamFrom(spark: SparkSession, dir: String): DataFrame = {
    // The file source needs a user-supplied schema; probe the landing
    // dir's actual ts dtype with a batch read (cheap: footer only) so
    // the same code streams Long-nanos and NTZ-micros files alike. An
    // empty landing dir defaults to the current generator's NTZ micros.
    val tsType = scala.util.Try(spark.read.parquet(dir).schema("ts").dataType)
      .getOrElse(TimestampNTZType: org.apache.spark.sql.types.DataType)
    val schema = StructType(rawSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    graft.Tables.normalizeTs(spark.readStream.schema(schema).parquet(dir))
  }

  /** Hourly tumbling-window aggregate with a 1-hour watermark.
    * `count_distinct` is not available under incremental execution, so
    * uniques are HLL (`approx_count_distinct`) — the batch twin in
    * StreamingSpec uses the same sketch, which is deterministic for
    * identical inputs. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(
        col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"), col("approx_users"))

  /** [[windowedAgg]] with EXACT sums instead of sketches — the
    * variant the driver's cross-engine hash gate runs
    * (`stream_window_stats`): `approx_count_distinct` has no DuckDB
    * twin, and a raw double sum under incremental state updates is
    * order-nondeterministic, so the accumulator here is
    * DECIMAL(27,10) ([[graft.functions.Cols.xsum]]) — streaming
    * state merges decimals exactly, making the final pane values
    * independent of micro-batch boundaries. */
  def windowStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.functions.Cols.xsum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** HOPPING-window aggregate (6 h panes sliding 2 h) with a 1-hour
    * watermark — the streaming twin of the batch `q_events_hopping`:
    * the multi-assignment (each event → 3 panes) happens map-side
    * inside the stateful agg, and a pane finalizes when the
    * watermark passes its END — late data within the watermark
    * amends the open panes it overlaps. StreamingSpec proves
    * batch/stream pane parity on the finite stream. */
  def hoppingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "2 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n_events"))

  /** Progress-derived throughput/latency report for a streaming
    * query — the numbers a capacity plan needs (can this topology
    * keep up with the ingest rate, and what's the tail batch
    * latency?). Sourced from [[org.apache.spark.sql.streaming
    * .StreamingQueryProgress]], the engine's own per-trigger
    * instrumentation, not wall-clock guesswork around the driver:
    * the same counters a production job exports to its metrics
    * sink via StreamingQueryListener. */
  final case class RateReport(
      nBatches: Long, totalRows: Long, rowsPerSec: Double,
      p50BatchMs: Long, p95BatchMs: Long, maxBatchMs: Long)

  def rateReport(q: org.apache.spark.sql.streaming.StreamingQuery): RateReport = {
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    require(progs.nonEmpty, "no data-carrying batches recorded")
    val durs = progs
      .map(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
      .sorted
    val rows = progs.map(_.numInputRows).sum
    val totalMs = math.max(durs.sum, 1L)
    def pct(f: Double): Long =
      durs(math.min(durs.length - 1, (f * durs.length).toInt))
    RateReport(progs.length.toLong, rows, rows * 1000.0 / totalMs,
      pct(0.5), pct(0.95), durs.last)
  }

  /** Streaming dedup: first event per (user_id, event_type) wins;
    * state for a key is dropped once the watermark passes it —
    * bounded state, the streaming twin of `dedup_exact`. */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** Stream-static enrichment: broadcast-join a static dimension onto
    * the event stream (the standard "attach user/session metadata at
    * ingest" shape — the static side is planned per micro-batch, no
    * state). Left join keeps unmatched events flowing. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** Stream-stream interval self-join: each view is matched with the
    * same user's purchases landing within the next hour. Both sides
    * carry watermarks and the join condition bounds purchase_ts to
    * [view_ts, view_ts + 1h], so Spark can expire join state once the
    * watermark passes the interval — bounded state, the requirement
    * for an unbounded 100 TB/day event stream. Also evaluates in
    * batch mode (plain interval join), which is how StreamingSpec
    * proves result parity. */
  def viewPurchaseJoin(events: DataFrame): DataFrame = {
    val views = events
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("purchase_value"))
  }

  /** LEFT OUTER stream-stream interval join (r12 verdict #6a — the
    * late-data/null-emission face of [[viewPurchaseJoin]]): matched
    * (view, purchase) pairs emit exactly like the inner join; a view
    * with NO purchase in its hour emits once, null-padded, when the
    * watermark passes the end of its match interval (view_ts + 1h) —
    * Spark can then prove no future purchase can land in the window,
    * evicts the view's state, and emits the outer row. That is the
    * unbounded-stream contract an abandonment pipeline needs: every
    * view is ACCOUNTED for (converted or timed out) with bounded
    * state, no nightly batch sweep. The emitted set is a pure data
    * function: inner pairs ∪ views unmatched with interval end below
    * the FINAL watermark (min of the two sides' max event time − 1h,
    * ms-truncated) — the exact rule the oracle replays. */
  def viewPurchaseOuterJoin(events: DataFrame): DataFrame = {
    val views = events
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("purchase_value"))
  }

  // ---- streaming near-dup alerts (minhash-LSH at ingest) ----

  final case class NeardupAlert(band: String, doc_id: Long, prior_id: Long)

  /** Per-band state cap: a degenerate band (boilerplate shared by
    * thousands of docs) otherwise grows state and emits O(n²) alerts
    * for one key. 32 priors ≈ the alert fan-out a review queue can
    * absorb; the batch dedup pass still sees the full graph. */
  val MaxPriorsPerBand = 32

  /** Near-duplicate ALERTS at ingest: the streaming face of
    * minhash-LSH dedup ([[graft.operators.DedupOps]]). Input is the
    * exploded (doc_id, band-key) stream — same signature/banding
    * expressions as the batch operator — keyed by band;
    * `flatMapGroupsWithState` keeps the doc ids already seen per band
    * and emits (band, new doc, prior doc) candidate pairs the moment
    * the collision happens, so a crawler can hold near-dups at the
    * door instead of discovering them in the nightly batch pass.
    * Within a micro-batch, arrivals pair in doc_id order (the
    * deterministic stand-in for arrival order); state per band is
    * capped at [[MaxPriorsPerBand]] ids (at real scale the state
    * store also TTLs idle bands by processing time — boilerplate
    * bands go hot and stay hot, content bands are sparse).
    * Exactly the candidate-generation half of LSH: verification
    * (exact Jaccard on the alerted pairs) stays a batch join
    * downstream, where the shingle sets live. */
  def neardupAlerts(bandedDocs: DataFrame): Dataset[NeardupAlert] = {
    import bandedDocs.sparkSession.implicits._
    val cap = MaxPriorsPerBand

    def fn(band: String, rows: Iterator[(Long, String)],
        state: GroupState[Seq[Long]]): Iterator[NeardupAlert] = {
      val prior = state.getOption.getOrElse(Seq.empty)
      val arrivals = rows.map(_._1).toArray.distinct.sorted
        .filterNot(prior.contains)
      val out = scala.collection.mutable.ArrayBuffer.empty[NeardupAlert]
      var seen = prior
      arrivals.foreach { id =>
        seen.foreach(p => out += NeardupAlert(band, id, p))
        if (seen.size < cap) seen = seen :+ id
      }
      state.update(seen)
      out.iterator
    }

    bandedDocs
      .select(col("doc_id"), col("band"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  // ---- continuous per-key top-k ----

  final case class TopkEntry(event_type: String, rank: Int, event_id: Long, value: Double)

  /** Continuous per-key top-k at ingest: the streaming face of the
    * native batch [[graft.plans.TopKPerKey]] operator. State per key
    * is the bounded top-k list itself — O(k) per key, the same bound
    * the batch operator's partial heaps hold per partition — merged
    * with each micro-batch's arrivals and re-emitted whenever it
    * changes (Update-mode semantics surfaced through Append emission
    * per batch; the latest emission per key IS the current top-k).
    * Ties break on event_id asc, same total order as the batch
    * operator, so after any prefix of the stream the state equals
    * the batch top-k of the events seen so far — StreamingSpec
    * asserts exactly that against the TopKPerKey plan. */
  def topkEvents(events: DataFrame, k: Int = 5): Dataset[TopkEntry] = {
    import events.sparkSession.implicits._

    def fn(key: String, rows: Iterator[(String, Long, Double)],
        state: GroupState[Seq[(Long, Double)]]): Iterator[TopkEntry] = {
      val merged = (state.getOption.getOrElse(Seq.empty) ++ rows.map(r => (r._2, r._3)))
        .distinct
        .sortBy { case (id, v) => (-v, id) }
        .take(k)
      state.update(merged)
      merged.zipWithIndex.map { case ((id, v), i) =>
        TopkEntry(key, i + 1, id, v)
      }.iterator
    }

    events
      .select(col("event_type"), col("event_id"), col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** The batch-side banding for [[neardupAlerts]]: (doc_id, band)
    * rows from the same shingle → minhash → band-key pipeline as
    * `dedup_minhash_lsh` (shared expressions, so stream and batch
    * agree bit-for-bit on what collides). */
  def bandedDocs(docs: DataFrame): DataFrame = {
    import graft.functions.Cols.normTokens
    import graft.functions.Hashes.{bandKeys, minhashParams}
    import graft.operators.DedupOps.{Bands, NumPerms, RowsPerBand, ShingleSize}
    val sh = docs
      .filter(size(normTokens(col("text"))) >= ShingleSize)
      .select(col("doc_id"), normTokens(col("text")).as("tk"))
      .select(col("doc_id"), array_distinct(graft.functions.VectorExpressions
        .fnv_shingles(col("tk"), ShingleSize)).as("sh"))
    sh.select(col("doc_id"),
        graft.functions.VectorExpressions.minhash_sig(col("sh"), minhashParams(NumPerms)).as("sig"))
      .select(col("doc_id"), explode(bandKeys(col("sig"), Bands, RowsPerBand)).as("band"))
  }

  // ---- stateful sessionization ----

  final case class Ev(user_id: Long, ts_us: Long, value: Double)
  final case class SessionState(start_us: Long, last_us: Long, n: Long, sum: Double)
  final case class Session(
      user_id: Long, start_us: Long, end_us: Long, n_events: Long,
      sum_value: Double, closed: Boolean)

  val GapUs: Long = 1800L * 1000000L // 30 min, same as the batch twin

  /** Gap-based sessionization via flatMapGroupsWithState: sessions
    * close when a 30-minute silence is observed (within the batch) or
    * when the event-time timeout fires (watermark passed last+gap).
    * State per user is O(1) — the canonical scale-safe shape.
    *
    * Takes the (ts: timestamp, user_id, value) events frame; also
    * runs in batch mode (state empty, no timeouts), which is how
    * StreamingSpec proves parity with `q_events_sessionize`. */
  def sessionize(events: DataFrame): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = GapUs // local copy — keeps the closure free of `this`

    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

    def fn(userId: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
        state: GroupState[SessionState]): Iterator[Session] = {
      val evs = rows.map(t => Ev(t._1, micros(t._2), t._3))
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      if (evs.isEmpty && state.hasTimedOut) {
        state.getOption.foreach { s =>
          out += Session(userId, s.start_us, s.last_us, s.n, s.sum, closed = true)
        }
        state.remove()
      } else {
        val sorted = evs.toArray.sortBy(_.ts_us)
        var cur = state.getOption.orNull
        sorted.foreach { e =>
          cur match {
            case null =>
              cur = SessionState(e.ts_us, e.ts_us, 1L, e.value)
            case s if e.ts_us - s.last_us > gapUs =>
              out += Session(userId, s.start_us, s.last_us, s.n, s.sum, closed = true)
              cur = SessionState(e.ts_us, e.ts_us, 1L, e.value)
            case s =>
              cur = SessionState(s.start_us, e.ts_us, s.n + 1L, s.sum + e.value)
          }
        }
        if (cur != null) {
          state.update(cur)
          state.setTimeoutTimestamp(cur.last_us / 1000L + gapUs / 1000L)
        }
      }
      out.iterator
    }

    events
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", "30 minutes")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class KmvEntry(event_type: String, n_sketch: Int, est_distinct: Double)

  /** Continuous KMV distinct-count sketch per event type — the
    * streaming face of the batch `q_kmv_distinct`: state per key IS
    * the sketch (the k smallest distinct unsigned FNV hashes, O(k)
    * per key), merged with each micro-batch's arrivals — the same
    * bottom-k merge the batch operator's partial heaps perform per
    * partition, which is the point: KMV is mergeable, so stream
    * state, batch partials, and cross-day rollups are all the same
    * k-hash object. Each batch re-emits the current estimate
    * (Append-mode emission per batch; the latest row per key is the
    * live cardinality estimate). Deterministic: same hash, same
    * unsigned order, same (k−1)·2⁶⁴/kth estimator as the
    * hash-verified batch query — StreamingSpec asserts the final
    * emission equals a driver-side replica over the whole stream. */
  def kmvStream(events: DataFrame, k: Int = 8): Dataset[KmvEntry] = {
    import events.sparkSession.implicits._
    import graft.functions.Hashes

    def fn(key: String, rows: Iterator[(String, Long)],
        state: GroupState[Seq[Long]]): Iterator[KmvEntry] = {
      val merged = (state.getOption.getOrElse(Seq.empty) ++
          rows.map(r => Hashes.mix64(Hashes.fnv64(r._2.toString))))
        .distinct
        .sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0)
        .take(k)
      state.update(merged)
      val est =
        if (merged.size < k) merged.size.toDouble
        else (k - 1).toDouble * 1.8446744073709552e19 /
          BigInt(java.lang.Long.toUnsignedString(merged.last)).toDouble
      Iterator.single(KmvEntry(key, merged.size, est))
    }

    events
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** `hsum` is the scaled harmonic sum the estimate divides — emitted
    * because it is strictly MONOTONE in the register state (registers
    * only grow, so hsum only falls), which is what lets a consumer
    * pick "the final emission per key" out of an append-mode sink
    * without a batch counter: (n_zero_regs asc, hsum asc) is the
    * state order. The estimate itself is NOT monotone across the
    * linear-counting/raw branch switch, so it cannot serve. */
  final case class HllEntry(
      event_type: String, n_zero_regs: Int, est_distinct: Double, hsum: Double)

  /** Continuous HyperLogLog per event type — the streaming face of
    * the hash-verified batch `q_hll_distinct`, and the bounded-state
    * counterpoint to [[kmvStream]]: state per key is the 256-byte
    * register array itself (never grows, whatever the cardinality),
    * merged with each micro-batch by register max — the HLL merge IS
    * max, so stream state, batch partial aggs, and cross-day rollups
    * are the same object. Estimator arithmetic matches the batch
    * query exactly (exact scaled-integer harmonic sum via BigInt, one
    * rounding at ÷2⁵⁷; same α; same linear-counting branch), so the
    * spec can assert final-emission equality against the batch rows. */
  def hllStream(events: DataFrame): Dataset[HllEntry] = {
    import events.sparkSession.implicits._
    import graft.functions.Hashes

    def fn(key: String, rows: Iterator[(String, Long)],
        state: GroupState[Array[Byte]]): Iterator[HllEntry] = {
      val regs = state.getOption.getOrElse(new Array[Byte](256))
      rows.foreach { r =>
        val h = Hashes.mix64(Hashes.fnv64(r._2.toString))
        val bucket = (h >>> 56).toInt
        val w = h & 0x00FFFFFFFFFFFFFFL
        // rank of the highest set bit within the 56-bit residue:
        // nlz(w) − 7 == 57 − length(bin(w)), the batch oracle's form
        val rho = if (w == 0L) 57 else java.lang.Long.numberOfLeadingZeros(w) - 7
        if (rho > regs(bucket)) regs(bucket) = rho.toByte
      }
      state.update(regs)
      var sScaled = BigInt(0)
      var v = 0
      var i = 0
      while (i < 256) {
        sScaled += BigInt(1) << (57 - regs(i))
        if (regs(i) == 0) v += 1
        i += 1
      }
      val hsum = sScaled.toDouble / 144115188075855872.0
      val alpha = 0.7213 / (1.0 + 1.079 / 256.0)
      val eRaw = alpha * 65536.0 / hsum
      val est =
        if (eRaw <= 640.0 && v > 0) 256.0 * math.log(256.0 / v)
        else eRaw
      Iterator.single(HllEntry(key, v, est, hsum))
    }

    events
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming vector ingest into the persisted IVF index — the
    * continuous face of `ann_incremental_topk`'s batch add: vectors
    * landing as parquet files are routed to their cell with the
    * FROZEN quantizer (a pure projection over broadcast centroid
    * literals — stateless, zero shuffle per micro-batch) and appended
    * cell-partitioned, the same on-disk layout the batch index uses.
    * With file-source + file-sink checkpointing this is exactly-once:
    * a replayed micro-batch overwrites its own files, never
    * double-counts a vector — StreamingSpec proves batch-parity
    * routing and layout across two micro-batches + a restart. */
  def ivfIngestStream(spark: SparkSession, sfDir: String, landingDir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val arrivals = spark.readStream.schema(schema).parquet(landingDir)
    graft.operators.AnnOps.routeWithFrozenQuantizer(spark, sfDir)(arrivals)
      .select(col("vec_id"), col("cell"))
  }

  final case class HnswEdge(vec_id: Long, n_cands: Long, nbr: Long, sim_r: Double)

  /** Streaming vector attach into the frozen NSW graph — the
    * continuous face of the HNSW `add` operation next to
    * [[ivfIngestStream]]'s cell routing: arriving vectors signature
    * map-side AT THE SCHEDULE-FLOOR DIAL
    * ([[graft.operators.HnswOps.attachGeometryFor]], r12 verdict #1
    * — the persisted postings' `_META` records the dial), band-join
    * the STATIC banded base corpus
    * (stream-static equi-join, stateless per micro-batch), and each
    * arrival keeps its top-M candidate edges via a per-key fold
    * (`flatMapGroupsWithState`, no retained state — all of an
    * arrival's candidates land in its own micro-batch because the
    * band fan-out happens inside the batch). Emitted edges append to
    * the graph sink; with file-source + file-sink checkpointing the
    * ingest is exactly-once. StreamingSpec proves edge-for-edge
    * parity with the batch [[graft.operators.HnswOps.attachEdges]]
    * across two waves + a restart. */
  def hnswIngestStream(
      spark: SparkSession, sfDir: String, landingDir: String): Dataset[HnswEdge] = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val arrivals = spark.readStream.schema(schema).parquet(landingDir)
    val m = graft.operators.HnswOps.M

    def fn(key: Long, rows: Iterator[(Long, Long, Double)],
        state: GroupState[Int]): Iterator[HnswEdge] = {
      // dedup INSIDE the per-key batch (multi-band collisions emit
      // the same candidate tuple several times) — a .distinct() on
      // the streaming frame itself would be an unwatermarked
      // StreamingDeduplicate with unbounded state
      val cands = rows.toSeq.distinct
      // n_cands = this arrival's candidate-generation COST (distinct
      // colliding base vectors) — the per-arrival quantity the
      // candidate-mass guard bounds, carried on every emitted edge
      // so ingest cost is observable at the sink, not just in the
      // stress harness
      val n = cands.size.toLong
      cands
        .sortBy { case (_, nbr, simR) => (-simR, nbr) }
        .take(m)
        .map { case (_, nbr, simR) => HnswEdge(key, n, nbr, simR) }
        .iterator
    }

    graft.operators.HnswOps.attachCandidates(spark, sfDir)(arrivals)
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  final case class ContamFlag(doc_id: Long, n_grams: Long, n_flagged: Long)

  /** Streaming decontamination gate — the admission face of
    * [[graft.operators.PipelineOps.bloomDecontaminate]]: the
    * benchmark 4-gram Bloom filter is built ONCE from the frozen
    * eval split (~10 bits/gram, zero false negatives) and broadcast;
    * arriving documents gram map-side and fold per doc inside their
    * own micro-batch (`flatMapGroupsWithState`, stateless — a doc's
    * grams never straddle batches because the explode happens inside
    * the batch). Every arrival emits (n_grams, n_flagged) — the
    * pipeline admits n_flagged == 0 and routes the rest to the exact
    * re-check, exactly the batch policy, continuously. */
  def decontaminateStream(
      spark: SparkSession, sfDir: String, landingDir: String): Dataset[ContamFlag] = {
    import spark.implicits._
    import graft.functions.Cols.normTokens
    import graft.operators.PipelineOps.wordNgrams

    // frozen benchmark bloom (the batch build, reused verbatim —
    // r10: the SQL-replayable FnvBloom, so the gate hash-checks the
    // exact flag counts, false positives included)
    val bench = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 4 && col("doc_id") % 10 === 9)
      .select(explode(array_distinct(wordNgrams(col("toks"), 4))).as("ng"))
      .distinct().as[String]
    val bf = graft.functions.FnvBloom.build(bench,
      graft.operators.PipelineOps.BloomBits, graft.operators.PipelineOps.BloomK)
    val bfB = spark.sparkContext.broadcast(bf)

    def fn(key: Long, rows: Iterator[(Long, String)],
        state: GroupState[Int]): Iterator[ContamFlag] = {
      var n = 0L; var flagged = 0L
      rows.foreach { case (_, ng) =>
        n += 1; if (bfB.value.mightContain(ng)) flagged += 1
      }
      Iterator.single(ContamFlag(key, n, flagged))
    }

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.readStream.schema(schema).parquet(landingDir)
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 4)
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("toks"), 4))).as("ng"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  // ---- streaming CDC apply (continuous MERGE) ----

  final case class CdcRow(key: Long, ver: Long, st: String, tp: Double, alive: Boolean)

  /** Streaming MERGE apply — the continuous face of the batch
    * [[graft.operators.CdcOps]] upsert: a keyed change stream
    * (insert / update / delete tombstone, ordered by a `seq` column —
    * the stand-in for a CDC log's LSN) folds into per-key current
    * state via `mapGroupsWithState`; after every micro-batch each
    * touched key emits its post-image (Update-mode semantics — the
    * latest emission per key IS the current snapshot row, dead keys
    * emit alive=false). State per key is one row — the table itself
    * IS the state store, which is exactly how a streaming MERGE sink
    * (Delta/Hudi streaming write) holds its copy-on-write head.
    * StreamingSpec proves the stream's final snapshot equals the
    * batch full-outer MERGE on the same change set across 2
    * micro-batches. */
  def cdcApply(changes: DataFrame): Dataset[CdcRow] = {
    import changes.sparkSession.implicits._

    // state = (version, maxSeq, st, tp, alive); `version` counts
    // state updates per key so a reader can pick each key's LATEST
    // emission without relying on sink row order, and `maxSeq` makes
    // the LSN contract hold ACROSS micro-batches: a lower-seq change
    // arriving in a later batch (source retries, out-of-order file
    // pickup) is stale and must not overwrite newer state — per-batch
    // sorting alone only orders within the batch
    def fn(key: Long, rows: Iterator[(Long, Long, String, String, Double)],
        state: GroupState[(Long, Long, String, Double, Boolean)]): CdcRow = {
      var cur = state.getOption.getOrElse((0L, Long.MinValue, "", 0.0, false))
      rows.toSeq.sortBy(_._1).foreach { case (seq, _, op, st, tp) =>
        if (seq > cur._2) {
          cur = if (op == "delete") (cur._1, seq, "", 0.0, false)
                else (cur._1, seq, st, tp, true)
        }
      }
      cur = (cur._1 + 1, cur._2, cur._3, cur._4, cur._5)
      state.update(cur)
      CdcRow(key, cur._1, cur._3, cur._4, cur._5)
    }

    changes
      .select(col("seq"), col("key"), col("op"),
        coalesce(col("st"), lit("")).as("st"),
        coalesce(col("tp"), lit(0.0)).as("tp"))
      .as[(Long, Long, String, String, Double)]
      .groupByKey(_._2)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)
  }
}
