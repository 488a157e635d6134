package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

class StreamingSpec extends SparkTestBase {

  test("streaming windowed agg == batch twin (counts, sums, HLL uniques)") {
    import spark.implicits._
    val stream = Streams.windowedAgg(Streams.eventsStream(spark, sfDir))
    val q = stream.writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("win_out")
      .select($"hour", $"event_type", $"n_events", $"sum_value", $"approx_users")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), math.round(r.getDouble(3) * 100), r.getLong(4))).toMap

    val batch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("s"),
        approx_count_distinct($"user_id").as("u"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), math.round(r.getDouble(3) * 100), r.getLong(4))).toMap

    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("streaming hopping agg == batch panes (each event in 3 overlapping windows)") {
    import spark.implicits._
    val stream = Streams.hoppingAgg(Streams.eventsStream(spark, sfDir))
    val q = stream.writeStream
      .format("memory").queryName("hop_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hop_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(window($"ts", "6 hours", "2 hours"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty && got == batch)
    // 3× multi-assignment conservation
    val nEvents = Tables.events(spark, sfDir).count()
    assert(got.values.sum == 3 * nEvents)
  }

  test("streaming dedup: one survivor per (user, type) key") {
    import spark.implicits._
    val deduped = Streams.streamingDedup(Streams.eventsStream(spark, sfDir))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_out").count()
    val expected = Tables.events(spark, sfDir)
      .select($"user_id", $"event_type").distinct().count()
    assert(got == expected)
    assert(got > 0)
  }

  test("streaming sessionize: closed sessions + open state == batch session count") {
    import spark.implicits._
    // stream path: one micro-batch holding the whole finite table
    val sessions = Streams.sessionize(Streams.eventsStream(spark, sfDir))
    val q = sessions.writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val closed = spark.table("sess_out")
      .groupBy($"user_id").agg(count(lit(1)).as("n_closed"))
      .as[(Long, Long)].collect().toMap

    // batch oracle: the oracle-checked q_events_sessionize counts ALL
    // sessions. A user's final session closes in-stream only via the
    // event-time timeout, which fires once the watermark (global max
    // ts - 30 min delay) passes last_event + 30 min gap; otherwise it
    // stays open in state: closed(u) == total(u) - 1.
    val total = graft.operators.Relational.qEventsSessionize(spark, sfDir)
      .select($"user_id", $"n_sessions").as[(Long, Long)].collect().toMap
    val lastEv = Tables.events(spark, sfDir)
      .groupBy($"user_id").agg(max(unix_micros($"ts")).as("last_us"))
      .as[(Long, Long)].collect().toMap
    val maxUs = lastEv.values.max

    assert(total.nonEmpty)
    total.foreach { case (u, n) =>
      val c = closed.getOrElse(u, 0L)
      val timedOut = lastEv(u) / 1000L + 1800000L < maxUs / 1000L - 1800000L
      val expected = if (timedOut) n else n - 1
      assert(c == expected,
        s"user $u: $c closed vs $n total sessions (timedOut=$timedOut)")
    }
  }

  test("stream-stream interval join == batch interval join (view → purchase ≤ 1h)") {
    import spark.implicits._
    val joined = Streams.viewPurchaseJoin(Streams.eventsStream(spark, sfDir))
    val q = joined.writeStream
      .format("memory").queryName("vp_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("vp_out")
      .select($"view_id", $"purchase_id").as[(Long, Long)].collect().toSet

    val expected = Streams.viewPurchaseJoin(Tables.events(spark, sfDir))
      .select($"view_id", $"purchase_id").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty, "test data must contain view→purchase pairs")
    assert(got == expected)
  }

  test("outer interval join: inner pairs == batch; outer rows are exactly " +
      "the unmatched views past the final watermark, invariant to batching") {
    import spark.implicits._
    import java.nio.file.Files

    def runOver(landing: String): Set[(Long, Long)] = {
      val name = "vpo_out_" + math.abs(landing.hashCode)
      val q = Streams.viewPurchaseOuterJoin(Streams.eventsStreamFrom(spark, landing))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val out = spark.table(name)
        .select($"view_id", coalesce($"purchase_id", lit(-1L)))
        .as[(Long, Long)].collect().toSet
      spark.catalog.dropTempView(name)
      out
    }

    // one-batch run over the corpus landing dir
    val oneBatch = runOver(Streams.landingDir(sfDir, "events"))

    // two-wave run: early half then late half (event-time split so
    // the watermark genuinely advances between batches)
    val ev = Tables.events(spark, sfDir)
    val cut = ev.selectExpr("percentile_approx(ts, 0.5)").head().getTimestamp(0)
    val landing2 = Files.createTempDirectory("vpo-landing").toString
    ev.where($"ts" <= cut).write.mode("append").parquet(landing2)
    val s1 = Streams.viewPurchaseOuterJoin(Streams.eventsStreamFrom(spark, landing2))
    val ck = Files.createTempDirectory("vpo-ckpt").toString
    val sink = Files.createTempDirectory("vpo-sink").toString
    def wave(): Unit = {
      val q = s1.writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ck).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    wave()
    ev.where($"ts" > cut).write.mode("append").parquet(landing2)
    wave() // restart on the same checkpoint: offsets + join state survive
    val twoWave = spark.read.parquet(sink)
      .select($"view_id", coalesce($"purchase_id", lit(-1L)))
      .as[(Long, Long)].collect().toSet
    assert(twoWave == oneBatch,
      "outer emission set must be batching-invariant")

    // the emitted set is the documented pure data function
    val inner = Streams.viewPurchaseJoin(ev)
      .select($"view_id", $"purchase_id").as[(Long, Long)].collect().toSet
    val v = ev.where($"event_type" === "view")
      .select($"event_id", $"ts").as[(Long, java.sql.Timestamp)].collect()
    val maxV = v.map(_._2.getTime).max
    val maxP = ev.where($"event_type" === "purchase")
      .select(max($"ts")).head().getTimestamp(0).getTime
    val wmMs = math.min(maxV, maxP) - 3600000L
    val matched = inner.map(_._1)
    val outer = v.filter { case (id, ts) =>
      !matched.contains(id) && ts.getTime + 3600000L < wmMs
    }.map(_._1 -> -1L).toSet
    assert(oneBatch == inner ++ outer,
      "emitted set != inner ∪ watermark-expired unmatched views")
    assert(outer.nonEmpty && inner.nonEmpty, "fixture must exercise both faces")
  }

  test("stream-static enrichment == batch join (broadcast dim per micro-batch)") {
    import spark.implicits._
    // static dim: each user's first-seen day, computed batch-side
    val dim = Tables.events(spark, sfDir)
      .groupBy($"user_id").agg(date_trunc("day", min($"ts")).as("cohort_day"))
    val enriched = Streams.enrich(Streams.eventsStream(spark, sfDir), dim)
      .groupBy($"cohort_day").agg(count(lit(1)).as("n"))
    val q = enriched.writeStream
      .format("memory").queryName("enrich_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enrich_out")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batch = Streams.enrich(Tables.events(spark, sfDir), dim)
      .groupBy($"cohort_day").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got == batch)
  }

  test("checkpoint restart: dedup state and source offsets survive recovery") {
    import java.nio.file.Files
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-stream-in").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val outDir = Files.createTempDirectory("graft-stream-out").toString + "/out"

    // raw-schema events (ts in NANOS like the real table); batch 2
    // replays batch 1's (user, type) keys 10 min later — within the
    // 1 h watermark, so only recovered dedup state can drop them
    val t0 = 1700000000000000000L // ns
    def mkFile(name: String, rows: Seq[(Long, Long, Long, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(inDir)
    val batch1 = (1L to 5L).map(u => (u, t0 + u * 1000000000L, u, "view"))
    val batch2 = (1L to 5L).map(u => (100L + u, t0 + 600L * 1000000000L + u, u, "view")) ++
      Seq((200L, t0 + 600L * 1000000000L, 6L, "view"), (201L, t0 + 600L * 1000000000L, 7L, "view"))

    def runOnce(): Unit = {
      val q = Streams.streamingDedup(Streams.eventsStreamFrom(spark, inDir))
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", outDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    mkFile("b1", batch1)
    runOnce()
    mkFile("b2", batch2)
    runOnce() // new query object, same checkpoint — recovery path

    val out = spark.read.parquet(outDir).select($"user_id", $"event_id")
      .as[(Long, Long)].collect()
    // batch1 keys exactly once (not re-emitted after restart), batch2
    // replays dropped by recovered state, genuinely new keys pass
    assert(out.length == 7, s"expected 7 survivors, got ${out.length}: ${out.toSeq}")
    assert(out.map(_._1).sorted.toSeq == (1L to 7L), "one survivor per user")
    assert(out.filter(_._1 <= 5L).forall(_._2 <= 5L),
      "replayed keys must keep the ORIGINAL event (state recovered)")
  }

  test("near-dup alerts at ingest: stream == capped batch LSH candidate pairs across 2 micro-batches") {
    import java.nio.file.Files
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-ndup-in").toString

    // split the corpus into two landing files on doc_id — arrival
    // order is then the doc_id order the alert fold assumes
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val mid = 250L
    docs.where($"doc_id" < mid).coalesce(1).write.mode("append").parquet(inDir)
    docs.where($"doc_id" >= mid).coalesce(1).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1) // force 2 micro-batches
      .parquet(inDir)
    val q = Streams.neardupAlerts(Streams.bandedDocs(stream))
      .writeStream.format("memory").queryName("ndup_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ndup_out")
      .select($"band", $"doc_id", $"prior_id")
      .as[(String, Long, Long)].collect().toSet

    // expected: per band, fold doc_ids in order with the same state
    // cap the operator applies
    val cap = Streams.MaxPriorsPerBand
    val expected = Streams.bandedDocs(docs)
      .as[(Long, String)].collect().groupBy(_._2).toSeq.flatMap { case (band, rows) =>
        val ids = rows.map(_._1).distinct.sorted
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        var seen = List.empty[Long]
        ids.foreach { id =>
          seen.foreach(p => out += ((band, id, p)))
          if (seen.size < cap) seen = seen :+ id
        }
        out
      }.toSet
    assert(expected.nonEmpty, "test corpus must produce at least one collision")
    assert(got == expected,
      s"stream alerts != batch candidates: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("continuous top-k: emissions == batch TopKPerKey after each stream prefix") {
    import java.nio.file.Files
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-topk-in").toString
    val ev = Tables.events(spark, sfDir).select($"event_type", $"event_id", $"value")
    val f1 = ev.where($"event_id" % 2 === 0)
    f1.coalesce(1).write.mode("append").parquet(inDir)
    ev.where($"event_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("event_type STRING, event_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 1) // 2 micro-batches, f1 first
      .parquet(inDir)
    val q = Streams.topkEvents(stream, k = 5)
      .writeStream.format("memory").queryName("topk_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("topk_out")
      .select($"event_type", $"rank", $"event_id", $"value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet

    // after batch 1 the state is top-k(f1); after batch 2 it is
    // top-k(all) — the append log holds exactly the union of the two
    // ranked snapshots, each computed here through the NATIVE batch
    // TopKPerKey operator (stream and batch share the total order)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      graft.plans.TopK.perKey(df, Seq("event_type"),
          Seq(("value", false), ("event_id", true)), 5)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).toSeq.flatMap { case (ty, rows) =>
          rows.sortBy { case (_, id, v) => (-v, id) }.zipWithIndex
            .map { case ((_, id, v), i) => (ty, i + 1, id, v) }
        }
    val expected = (ranked(f1) ++ ranked(ev)).toSet
    assert(expected.nonEmpty)
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("sessionize also runs in batch mode (closed sessions = total - 1 per user)") {
    import spark.implicits._
    val batchSessions = Streams.sessionize(Tables.events(spark, sfDir))
    val perUser = batchSessions.groupByKey(_.user_id)
      .mapValues(_ => 1L).reduceGroups(_ + _).collect().toMap
    val oracle = graft.operators.Relational.qEventsSessionize(spark, sfDir)
      .select($"user_id", $"n_sessions").as[(Long, Long)].collect().toMap
    // batch mode discards trailing open state, so each user's final
    // session is unemitted — same contract as one streaming batch
    oracle.foreach { case (u, n) =>
      assert(perUser.getOrElse(u, 0L) == n - 1, s"user $u")
    }
  }

  test("rate harness: progress-derived throughput/latency over MemoryStream batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Double, Long, String)]
    val ev = mem.toDF().toDF("user_id", "value", "us", "event_type")
      .withColumn("ts", timestamp_micros($"us")).drop("us")
    val q = Streams.windowedAgg(ev).writeStream
      .format("memory").queryName("rate_out").outputMode("complete").start()
    try {
      var fed = 0L
      (0 until 3).foreach { b =>
        mem.addData((0 until 1000).map { i =>
          (i.toLong % 50, 1.0, (b * 1000L + i) * 60L * 1000000L, "view")
        })
        fed += 1000
        q.processAllAvailable()
      }
      val rep = Streams.rateReport(q)
      assert(rep.totalRows == fed, s"rows counted: $rep")
      assert(rep.nBatches >= 3)
      assert(rep.rowsPerSec > 0)
      assert(rep.p50BatchMs <= rep.p95BatchMs && rep.p95BatchMs <= rep.maxBatchMs)
    } finally q.stop()
  }

  test("streaming KMV sketch: final emission == batch bottom-k replica over the full stream") {
    import java.nio.file.Files
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-kmv-in").toString
    val ev = Tables.events(spark, sfDir).select($"event_type", $"user_id")
    ev.where($"user_id" % 2 === 0).coalesce(1).write.mode("append").parquet(inDir)
    ev.where($"user_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("event_type STRING, user_id LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = Streams.kmvStream(stream, k = 8)
      .writeStream.format("memory").queryName("kmv_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // latest emission per key = the sketch over the whole stream
    val emissions = spark.table("kmv_out").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    val last = emissions.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1).toMap
    def unsigned(h: Long): BigInt = BigInt(h) & ((BigInt(1) << 64) - 1)
    val expected = ev.as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues { es =>
        val hs = es.map(e => unsigned(graft.functions.Hashes.mix64(graft.functions.Hashes.fnv64(e._2.toString))))
          .distinct.sorted.take(8)
        val est =
          if (hs.size < 8) hs.size.toDouble
          else 7.0 * 1.8446744073709552e19 / hs.last.toDouble
        (hs.size, est)
      }.toMap
    assert(last.keySet == expected.keySet && last.nonEmpty)
    last.foreach { case (et, (_, n, est)) =>
      val (en, eest) = expected(et)
      assert(n == en && math.abs(est - eest) < 1e-9,
        s"$et: stream sketch ($n, $est) vs batch replica ($en, $eest)")
    }
    // two emissions per key (one per micro-batch)
    assert(emissions.length == 2 * expected.size, s"got ${emissions.length} emissions")
  }

  test("streaming HLL: final emission == the hash-verified batch q_hll_distinct") {
    import java.nio.file.Files
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-hll-in").toString
    val ev = Tables.events(spark, sfDir).select($"event_type", $"user_id")
    ev.where($"user_id" % 2 === 0).coalesce(1).write.mode("append").parquet(inDir)
    ev.where($"user_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("event_type STRING, user_id LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = Streams.hllStream(stream)
      .writeStream.format("memory").queryName("hll_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val emissions = spark.table("hll_out").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    val last = emissions.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1).toMap
    // the batch query's (event_type, n_zero_regs, est rnd2) over the
    // SAME corpus — register-mergeability means the stream's final
    // state must equal the batch registers exactly
    val batch = graft.operators.EventAnalytics.qHllDistinct(spark, sfDir)
      .select($"event_type", $"n_zero_regs", $"est_distinct")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(last.keySet == batch.keySet && last.nonEmpty)
    last.foreach { case (et, (_, v, est)) =>
      val (bv, best) = batch(et)
      assert(v.toLong == bv, s"$et: zero-register count $v vs batch $bv")
      val rnd2 = math.floor(est * 100 + 0.5) / 100
      assert(math.abs(rnd2 - best) < 1e-9,
        s"$et: stream estimate $rnd2 vs batch $best")
    }
    assert(emissions.length == 2 * batch.size, s"got ${emissions.length} emissions")
    // bounded state: 256 registers regardless of cardinality is the
    // design point — assert the estimator actually engaged (non-zero
    // estimates, fewer zero registers than 256)
    assert(last.values.forall { case (_, v, est) => v < 256 && est > 0 })
  }

  test("ivf ingest stream: frozen-quantizer routing == batch, cell-partitioned exactly-once sink") {
    import spark.implicits._
    import java.nio.file.Files
    val landing = Files.createTempDirectory("ivf-landing").toString
    val outDir = Files.createTempDirectory("ivf-out").toString
    val ckpt = Files.createTempDirectory("ivf-ckpt").toString
    val arrivals = Tables.embeddings(spark, sfDir).where($"vec_id" % 10 === 0)

    def run(): Unit = {
      val q = Streams.ivfIngestStream(spark, sfDir, landing).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .partitionBy("cell").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // two arrival waves, each its own micro-batch set
    arrivals.where($"vec_id" < 250).write.mode("append").parquet(landing)
    run()
    arrivals.where($"vec_id" >= 250).write.mode("append").parquet(landing)
    run()
    // a restart with nothing new must not re-ingest (offsets survive)
    run()

    val got = spark.read.parquet(outDir)
      .select($"vec_id", $"cell".cast("int")).as[(Long, Int)].collect()
    val expected = graft.operators.AnnOps.routeWithFrozenQuantizer(spark, sfDir)(arrivals)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toSet
    assert(got.length == expected.size, s"exactly-once violated: ${got.length} vs ${expected.size}")
    assert(got.toSet == expected, "stream routing diverged from the batch quantizer")
    // the sink really is the index layout: one directory per cell
    val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_ == "_spark_metadata")
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("cell=")), dirs.mkString(","))
  }

  test("hnsw ingest stream: per-arrival top-M edges == batch attach, exactly-once") {
    import spark.implicits._
    import java.nio.file.Files
    val landing = Files.createTempDirectory("hnsw-landing").toString
    val outDir = Files.createTempDirectory("hnsw-out").toString
    val ckpt = Files.createTempDirectory("hnsw-ckpt").toString
    val arrivals = Tables.embeddings(spark, sfDir).where($"vec_id" % 10 === 0)

    def run(): Unit = {
      val q = Streams.hnswIngestStream(spark, sfDir, landing).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    arrivals.where($"vec_id" < 250).write.mode("append").parquet(landing)
    run()
    arrivals.where($"vec_id" >= 250).write.mode("append").parquet(landing)
    run()
    run() // restart with nothing new: offsets survive, no re-ingest

    val got = spark.read.parquet(outDir)
      .select($"vec_id", $"nbr").as[(Long, Long)].collect()
    val expected = graft.operators.HnswOps.attachEdges(spark, sfDir, arrivals)
      .select($"vec_id", $"nbr").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    assert(got.length == expected.size,
      s"exactly-once violated: ${got.length} vs ${expected.size}")
    assert(got.toSet == expected, "stream attach diverged from batch attach")
    // bounded degree: no arrival exceeds M edges
    val deg = got.groupBy(_._1).map(_._2.size)
    assert(deg.max <= graft.operators.HnswOps.M)
    // n_cands parity: each arrival's carried candidate count equals
    // the batch path's distinct candidate count (the per-arrival
    // cost unit the candidate-mass guard bounds)
    val gotN = spark.read.parquet(outDir)
      .select($"vec_id", $"n_cands").as[(Long, Long)].collect().toMap
    val expN = graft.operators.HnswOps.attachCandidates(spark, sfDir)(arrivals)
      .distinct().groupBy($"vec_id").count()
      .as[(Long, Long)].collect().toMap
    assert(gotN == expN, "stream n_cands diverged from batch candidate counts")
  }

  test("decontamination stream: per-doc gram flags == batch bloom pass, exactly-once") {
    import spark.implicits._
    import java.nio.file.Files
    val landing = Files.createTempDirectory("decon-landing").toString
    val outDir = Files.createTempDirectory("decon-out").toString
    val ckpt = Files.createTempDirectory("decon-ckpt").toString
    val train = Tables.documents(spark, sfDir)
      .where($"doc_id" % 10 =!= 9).select($"doc_id", $"text")

    def run(): Unit = {
      val q = Streams.decontaminateStream(spark, sfDir, landing).writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    train.where($"doc_id" < 200).write.mode("append").parquet(landing)
    run()
    train.where($"doc_id" >= 200).write.mode("append").parquet(landing)
    run()
    run() // restart, nothing new → no re-emission

    val got = spark.read.parquet(outDir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // exactly-once: one emission per train doc with ≥4 tokens
    val nTrainDocs = train
      .where(size(graft.functions.Cols.normTokens($"text")) >= 4).count()
    assert(got.size == nTrainDocs, s"${got.size} vs $nTrainDocs")
    // flagged subset matches the batch bloom pass (same fpp, same split)
    val batch = graft.operators.PipelineOps.bloomDecontaminate(spark, sfDir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(batch.nonEmpty)
    assert(got.filter(_._2._2 > 0) == batch,
      "stream flags diverged from the batch bloom pass")
  }

  test("streaming CDC apply: final state == batch full-outer MERGE across 2 micro-batches") {
    import java.nio.file.Files
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-cdc-in").toString

    // micro-batch 1: the base snapshot as seq-0 inserts;
    // micro-batch 2: the derived change batch at seq 1.
    // The final snapshot is pickup-ORDER-INDEPENDENT: cdcApply keeps
    // each key's max applied seq in state and skips stale rows, so
    // even if FileStreamSource reads the seq-1 file first (mtime
    // ties), a late seq-0 insert cannot overwrite the newer state —
    // the equality below holds under either order.
    val base = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    base.select(lit(0L).as("seq"), $"o_orderkey".as("key"),
        lit("insert").as("op"), $"o_orderstatus".as("st"), $"o_totalprice".as("tp"))
      .coalesce(1).write.mode("append").parquet(inDir)
    graft.operators.CdcOps.changeBatch(base)
      .select(lit(1L).as("seq"), $"key", $"op", $"st", $"tp")
      .coalesce(1).write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("seq LONG, key LONG, op STRING, st STRING, tp DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = Streams.cdcApply(stream)
      .writeStream.format("memory").queryName("cdc_out").outputMode("update").start()
    try {
      q.processAllAvailable()
      // a stale seq-0 replay in a LATER micro-batch: would corrupt
      // every key if arrival order won; maxSeq state must skip it
      base.select(lit(0L).as("seq"), $"o_orderkey".as("key"),
          lit("update").as("op"), lit("ZZ").as("st"), lit(-1.0).as("tp"))
        .coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()

    // each key's LATEST emission (max ver) is its current row
    val live = spark.table("cdc_out")
      .as[(Long, Long, String, Double, Boolean)].collect()
      .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }
      .filter(_._5).map(r => (r._1, r._3, r._4)).toSet
    val expected = graft.operators.CdcOps.merged(spark, sfDir)
      .as[(Long, String, Double)].collect().toSet
    assert(expected.nonEmpty)
    assert(live == expected,
      s"stream snapshot != batch merge: missing=${(expected -- live).take(3)} extra=${(live -- expected).take(3)}")
  }
}
