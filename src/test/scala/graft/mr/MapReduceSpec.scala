package graft.mr

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.operators.TextOps

class MapReduceSpec extends SparkTestBase {

  private def docsInput = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id".cast("string"), $"text")
      .as[(String, String)]
  }

  test("engine wordcount == declarative wordcount") {
    import spark.implicits._
    val engine = MapReduceJob
      .run(docsInput, new WordCount.WordCountMapper, new WordCount.SumReducer,
        Some(WordCount.SumCombiner))
      .collect().toMap
    val declarative = TextOps.mrWordcount(spark, sfDir)
      .as[(String, Long)].collect().toMap
    assert(engine == declarative)
    assert(engine.nonEmpty)
  }

  test("combiner path == no-combiner path") {
    import spark.implicits._
    val withC = MapReduceJob
      .run(docsInput, new WordCount.WordCountMapper, new WordCount.SumReducer,
        Some(WordCount.SumCombiner)).collect().toMap
    val withoutC = MapReduceJob
      .run(docsInput, new WordCount.WordCountMapper, new WordCount.SumReducer,
        None).collect().toMap
    assert(withC == withoutC)
  }

  test("custom mapper/reducer: per-language char histogram") {
    import spark.implicits._
    val input = Tables.documents(spark, sfDir)
      .select($"lang", $"text").as[(String, String)]
    val mapper = new Mapper[String, String, String, Long] {
      override def map(k: String, v: String, em: Emitter[String, Long]): Unit =
        em.emit(k, v.length.toLong)
    }
    val reducer = new Reducer[String, Long, Long] {
      override def reduce(k: String, vs: Iterator[Long]): Long = vs.sum
    }
    val got = MapReduceJob.run(input, mapper, reducer).collect().toMap
    val expected = Tables.documents(spark, sfDir)
      .groupBy($"lang").agg(sum(length($"text")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == expected)
  }

  test("JobConfig.r controls output partitioning") {
    import spark.implicits._
    def parts(r: Int, combiner: Option[Combiner[Long]]) =
      MapReduceJob.run(docsInput, new WordCount.WordCountMapper,
        new WordCount.SumReducer, combiner, JobConfig(r = r)).rdd.getNumPartitions
    for (c <- Seq(Some(WordCount.SumCombiner), None)) {
      assert(parts(3, c) == 3)
      // r = 0: one reduce task per core slot, not spark.sql.shuffle.partitions
      assert(parts(0, c) == spark.sparkContext.defaultParallelism)
    }
  }

  test("combine table flushes at its cap: exact counts past the cap, == no-combiner") {
    import spark.implicits._
    val distinct = MapReduceJob.CombineCap * 2 + 123
    // ONE input record (so one map task, one combine table) emitting
    // every key twice: the table must flush at least twice mid-record
    val input = Seq(("only", distinct.toString)).toDS().repartition(1)
    val mapper = new Mapper[String, String, Int, Long] {
      override def map(k: String, v: String, em: Emitter[Int, Long]): Unit = {
        val n = v.toInt
        (0 until n).foreach(i => em.emit(i, 1L))
        (0 until n).foreach(i => em.emit(i, (i % 3).toLong))
      }
    }
    val sum = new Reducer[Int, Long, Long] {
      override def reduce(k: Int, vs: Iterator[Long]): Long = vs.sum
    }
    val withC = MapReduceJob.run(input, mapper, sum,
      Some(new Combiner[Long] { def combine(a: Long, b: Long): Long = a + b }))
      .collect().toMap
    val withoutC = MapReduceJob.run(input, mapper, sum).collect().toMap
    assert(withC.size == distinct)
    assert(withC.forall { case (k, n) => n == 1L + k % 3 }, "combined counts are not exact")
    assert(withC == withoutC)
  }

  test("run compiles to exactly one hash exchange, with and without a combiner") {
    import spark.implicits._
    object Plans extends AdaptiveSparkPlanHelper
    val input = Seq(("a", "x y x"), ("b", "y z")).toDS()
    for (c <- Seq(Some(WordCount.SumCombiner), None)) {
      val out = MapReduceJob.run(input, new WordCount.WordCountMapper,
        new WordCount.SumReducer, c, JobConfig(r = 3))
      assert(out.collect().toMap == Map("x" -> 2L, "y" -> 2L, "z" -> 1L))
      val plan = out.queryExecution.executedPlan
      val exchanges = Plans.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"combiner=${c.isDefined}: $plan")
      exchanges.head.outputPartitioning match {
        case h: HashPartitioning => assert(h.numPartitions == 3)
        case other => fail(s"expected hashpartitioning, got $other")
      }
      assert(Plans.collect(plan) { case a: ObjectHashAggregateExec => a }.isEmpty, plan.toString)
      assert(!plan.toString.contains("RoundRobinPartitioning"), plan.toString)
    }
  }

  test("combiner-less reducer sees every value of its key exactly once") {
    import spark.implicits._
    val input = Tables.documents(spark, sfDir)
      .select($"lang", $"doc_id".cast("string")).as[(String, String)]
    val mapper = new Mapper[String, String, String, String] {
      override def map(k: String, v: String, em: Emitter[String, String]): Unit = em.emit(k, v)
    }
    val collectAll = new Reducer[String, String, Seq[String]] {
      override def reduce(k: String, vs: Iterator[String]): Seq[String] = vs.toVector.sorted
    }
    val got = MapReduceJob.run(input, mapper, collectAll).collect().toMap
    val expected = Tables.documents(spark, sfDir)
      .groupBy($"lang").agg(collect_list($"doc_id".cast("string")).as("ids"))
      .as[(String, Seq[String])].collect()
      .map { case (k, ids) => k -> ids.sorted }.toMap
    assert(got.nonEmpty)
    assert(got == expected)
  }

  test("JobTracker lifecycle: start → working → completed, stats counted") {
    val tracker = new JobTracker(spark)
    val id = tracker.start {
      docsInput.count()
      ()
    }
    assert(tracker.await(id), "job did not complete in time")
    val st = tracker.stats(id).get
    assert(st.status == "completed")
    assert(st.sparkJobs >= 1)
    assert(st.tasks >= 1)
    assert(st.wallMs >= 0)
    tracker.done(id)
    assert(tracker.stats(id).isEmpty)
    // failed body → failed status, still "completed" per Status(),
    // and the CAUSE is kept (r2 swallowed it)
    val bad = tracker.start { throw new RuntimeException("boom") }
    assert(tracker.await(bad))
    assert(tracker.stats(bad).get.status == "failed")
    assert(tracker.stats(bad).get.failure.exists(_.contains("boom")))
    tracker.shutdown()
  }

  test("JobTracker.cancel: a running job reaches failed with a cancellation cause (Kill parity)") {
    // the reference's Kill() (mapreduce.go:385) tears a node down
    // mid-job; the Spark-native analog cancels the tracked job's
    // group. The job must land in a TERMINAL state with the
    // cancellation surfaced as the failure cause, and the tracker
    // must stay usable — the next job starts clean (no leaked group).
    import spark.implicits._
    val tracker = new JobTracker(spark)
    CancelProbe.running.set(false)
    val id = tracker.start {
      spark.range(0, 64, 1, 8).mapPartitions { it =>
        // JVM-static signal (local mode shares the JVM): tasks are
        // live — safe to cancel. A closure-captured latch would not
        // serialize into the task.
        CancelProbe.running.set(true)
        Thread.sleep(30000)
        it
      }.count()
      ()
    }
    val deadline = System.currentTimeMillis() + 60000L
    while (!CancelProbe.running.get && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(CancelProbe.running.get, "job never started running")
    tracker.cancel(id)
    assert(tracker.await(id, 60000L), "cancelled job never reached a terminal state")
    val st = tracker.stats(id).get
    assert(st.status == "failed", s"expected failed, got ${st.status}")
    assert(st.failure.exists(_.toLowerCase.contains("cancel")),
      s"cause should name the cancellation, got ${st.failure}")
    // idempotent on terminal jobs and unknown ids
    tracker.cancel(id)
    tracker.cancel("no-such-job")
    // no leaked group: the next tracked job completes normally
    val id2 = tracker.start { spark.range(10).count(); () }
    assert(tracker.await(id2) && tracker.stats(id2).get.status == "completed",
      "tracker unusable after a cancel")
    tracker.done(id); tracker.done(id2)
    tracker.shutdown()
  }

  test("JobTracker.cancel before the first Spark job: the job fails and no job of its group runs") {
    import spark.implicits._
    // a cancel that lands before the body submits anything (or between
    // two of its Spark jobs) must still stop the body's later jobs
    val tracker = new JobTracker(spark)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val group = new java.util.concurrent.atomic.AtomicReference[String]()
    val succeeded = new java.util.concurrent.atomic.AtomicInteger(0)
    val ofGroup = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).map(_.getProperty("spark.jobGroup.id")).contains(group.get))
          ofGroup.add(js.jobId)
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (ofGroup.contains(je.jobId) && je.jobResult == JobSucceeded) succeeded.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the body runs on the driver, so a captured latch holds it; its
      // count is an AQE map-stage job, then a result job, and its map
      // tasks outlast the listener's reaction to the stage's start
      val id = tracker.start {
        gate.await()
        spark.range(0, 64, 1, 4).mapPartitions { it => Thread.sleep(10000); it }.count()
        ()
      }
      group.set(id)
      tracker.cancel(id)
      gate.countDown()
      assert(tracker.await(id, 60000L), "cancelled job never reached a terminal state")
      val st = tracker.stats(id).get
      assert(st.status == "failed", s"expected failed, got ${st.status}")
      assert(st.failure.exists(_.toLowerCase.contains("cancel")),
        s"cause should name the cancellation, got ${st.failure}")
      ListenerBusDrain(spark.sparkContext)
      assert(succeeded.get == 0, s"${succeeded.get} Spark job(s) of the cancelled group succeeded")
      tracker.done(id)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      tracker.shutdown()
    }
  }

  test("JobTracker.run cancels a job still running at its timeout; the next run completes") {
    import spark.implicits._
    val tracker = new JobTracker(spark)
    CancelProbe.running.set(false)
    val t0 = System.nanoTime()
    val st = tracker.run({
      spark.range(0, 8, 1, 4).mapPartitions { it =>
        CancelProbe.running.set(true)
        Thread.sleep(30000)
        it
      }.count()
      ()
    }, timeoutMs = 2000L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(CancelProbe.running.get, "job was not running at its timeout")
    assert(st.status == "failed", s"expected failed, got ${st.status}")
    assert(st.failure.exists(_.toLowerCase.contains("cancel")),
      s"cause should name the cancellation, got ${st.failure}")
    assert(secs < 20, f"run returned after $secs%.1f s; the 30 s tasks were not cancelled")
    assert(tracker.stats(st.jobId).isEmpty, "run must release the job's tracking state")
    val next = tracker.run({ spark.range(10).count(); () }, timeoutMs = 60000L)
    assert(next.status == "completed" && next.sparkJobs >= 1, s"next run: $next")
    tracker.shutdown()
  }

  test("JobTracker records per-task durations with p50/p95 (statsManager parity)") {
    val tracker = new JobTracker(spark)
    val id = tracker.start {
      docsInput.repartition(4).count()
      ()
    }
    assert(tracker.await(id))
    val st = tracker.stats(id).get
    assert(st.taskDurationsMs.nonEmpty, "task durations not collected")
    assert(st.taskDurationsMs.forall(_ >= 0))
    assert(st.taskP50Ms <= st.taskP95Ms)
    assert(st.taskP95Ms <= st.taskDurationsMs.max)
    // per-NODE profile (statsManager.go:117 parity): every task is
    // attributed to an executor; counts reconcile with the flat list and
    // each executor's percentiles are ordered. local[*] runs everything
    // on the "driver" executor — the grouping, not the cardinality, is
    // what the profile adds.
    val prof = st.executorProfile
    assert(prof.nonEmpty, "executor profile empty")
    assert(prof.values.map(_._1).sum == st.taskDurationsMs.size,
      "per-executor task counts must sum to the task total")
    prof.values.foreach { case (n, p50, p95) =>
      assert(n >= 1 && p50 <= p95)
    }
    tracker.done(id)
    tracker.shutdown()
  }

  test("batch task failure is retried: job completes with correct output") {
    // the reference detects dead workers by ping and reassigns their
    // tasks (mapreduce.go:347-383); under Spark that is the
    // scheduler's task-retry machinery. Prove it end-to-end: the
    // mapper throws on the FIRST attempt of partition 0 (test master
    // local[4,2] allows one retry), the job must still complete with
    // wordcounts identical to the failure-free run.
    import spark.implicits._
    class FlakyMapper extends Mapper[String, String, String, Long] {
      private val inner = new WordCount.WordCountMapper
      override def map(key: String, value: String, em: Emitter[String, Long]): Unit = {
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
          throw new RuntimeException("injected task failure (attempt 0)")
        inner.map(key, value, em)
      }
    }
    val got = MapReduceJob
      .run(docsInput, new FlakyMapper, new WordCount.SumReducer,
        Some(WordCount.SumCombiner))
      .collect().toMap
    val clean = MapReduceJob
      .run(docsInput, new WordCount.WordCountMapper, new WordCount.SumReducer,
        Some(WordCount.SumCombiner))
      .collect().toMap
    assert(got == clean, "retried job must produce the failure-free result")
    assert(got.nonEmpty)
  }

  test("TextDirInputer: listKeys/getValue parity with toDataset") {
    val dir = Files.createTempDirectory("graft-in").toFile
    Files.writeString(new java.io.File(dir, "a.txt").toPath, "hello world\nsecond line")
    Files.writeString(new java.io.File(dir, "b.txt").toPath, "more text")
    val in = TextDirInputer(dir.getAbsolutePath)
    val keys = in.listKeys(spark)
    assert(keys.size == 2)
    assert(in.getValue(spark, keys.head).contains("hello world"))
    val ds = in.toDataset(spark).collect().toMap
    assert(ds.size == 2)
    assert(ds.values.toSet == Set("hello world\nsecond line", "more text"))
  }

  test("ChunkedTextInputer: chunks cover the file at line boundaries") {
    val f = Files.createTempFile("graft-chunk", ".txt")
    val lines = (1 to 1000).map(i => s"line-$i")
    Files.writeString(f, lines.mkString("\n"))
    val in = ChunkedTextInputer(f.toString, chunkBytes = 2048)
    val chunks = in.toDataset(spark).collect()
    assert(chunks.length > 1, "expected multiple chunks for 2KB chunk size")
    val reassembled = chunks.sortBy(_._1.toInt).map(_._2).mkString
    assert(reassembled.split("\n").toSeq == lines)
  }

  test("ChunkedTextInputer: chunks are the file's exact bytes") {
    val f = Files.createTempFile("graft-chunk-bytes", ".txt")
    // CRLF and LF endings, a multi-byte character, a blank line and no
    // trailing newline: concatenating the chunks must give the file back
    val text = (1 to 400).map(i => if (i % 7 == 0) s"zeile-$i ü\r" else s"line-$i")
      .mkString("", "\n", "\n\nlast line, no newline")
    Files.writeString(f, text)
    for (chunk <- Seq(1L, 64L, 1000L, 1L << 20)) {
      val chunks = ChunkedTextInputer(f.toString, chunk).toDataset(spark).collect()
      assert(chunks.map(_._2).forall(_.nonEmpty))
      assert(chunks.sortBy(_._1.toInt).map(_._2).mkString == text, s"chunkBytes=$chunk")
      // every chunk but the last ends at a line boundary
      assert(chunks.sortBy(_._1.toInt).init.forall(_._2.endsWith("\n")))
      // the key-value face lists exactly those chunks and fetches them
      // (getValue re-scans the file, so only the ends are fetched)
      val in = ChunkedTextInputer(f.toString, chunk)
      val keys = in.listKeys(spark)
      assert(keys == chunks.map(_._1).sortBy(_.toInt).toSeq, s"chunkBytes=$chunk")
      Seq(keys.head, keys.last).foreach { k =>
        assert(in.getValue(spark, k) == chunks.find(_._1 == k).get._2)
      }
    }
  }

  test("concurrent ChunkedTextInputer.toDataset calls leave maxPartitionBytes untouched") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val key = "spark.sql.files.maxPartitionBytes"
    val f = Files.createTempFile("graft-chunk-conf", ".txt")
    Files.writeString(f, (1 to 2000).map(i => s"w$i w${i % 10}").mkString("\n"))
    val before = spark.conf.getOption(key)
    val calls = Future.sequence((1 to 4).map { i =>
      Future(ChunkedTextInputer(f.toString, 512L * i).toDataset(spark).count())
    })
    val seen = scala.collection.mutable.Set[Option[String]]()
    while (!calls.isCompleted) { seen += spark.conf.getOption(key); Thread.sleep(1) }
    assert(Await.result(calls, 2.minutes).forall(_ > 1))
    seen += spark.conf.getOption(key)
    assert(seen == Set(before), s"$key changed while chunking: $seen")
  }

  test("outputers round-trip") {
    import spark.implicits._
    val data = Seq(("k1", 1L), ("k2", 2L)).toDS()
    val tDir = Files.createTempDirectory("graft-out-text").toString + "/out"
    TextDirOutputer(tDir).write(data)
    val back = spark.read.text(tDir).collect().map(_.getString(0)).toSet
    assert(back == Set("k1\t1", "k2\t2"))
    val pDir = Files.createTempDirectory("graft-out-parq").toString + "/out"
    ParquetOutputer(pDir).write(data)
    val pback = spark.read.parquet(pDir).as[(String, Long)].collect().toMap
    assert(pback == Map("k1" -> 1L, "k2" -> 2L))
  }

  test("csv/json table inputers and outputers round-trip") {
    import spark.implicits._
    val data = Seq(("k1", 10L), ("k2", 20L)).toDS()
    for (fmt <- Seq("csv", "json")) {
      val dir = Files.createTempDirectory(s"graft-$fmt").toString + "/t"
      val opts = if (fmt == "csv") Map("header" -> "true") else Map.empty[String, String]
      TableOutputer(fmt, dir, opts).write(data)
      val in = TableInputer(fmt, dir, "key", "value", opts)
      assert(in.listKeys(spark) == Seq("k1", "k2"))
      assert(in.getValue(spark, "k2") == "20")
      assert(in.toDataset(spark).collect().toMap == Map("k1" -> "10", "k2" -> "20"))
    }
  }

  test("ParquetTableInputer reads keyed values") {
    val in = ParquetTableInputer(s"$sfDir/documents.parquet", "doc_id", "text")
    val ds = in.toDataset(spark)
    assert(ds.count() == 500)
    val first = ds.filter(col("_1") === "0").collect()
    assert(first.length == 1)
  }

  test("TextDirInputer prefix filter: only matching keys listed and read") {
    val dir = Files.createTempDirectory("graft-prefix").toFile
    Files.writeString(new java.io.File(dir, "train_1.txt").toPath, "t1")
    Files.writeString(new java.io.File(dir, "train_2.txt").toPath, "t2")
    Files.writeString(new java.io.File(dir, "eval_1.txt").toPath, "e1")
    val in = TextDirInputer(dir.getAbsolutePath, prefix = "train_")
    val keys = in.listKeys(spark)
    assert(keys.size == 2 && keys.forall(_.contains("train_")))
    val ds = in.toDataset(spark).collect()
    assert(ds.length == 2 && ds.map(_._2).toSet == Set("t1", "t2"))
  }

  test("KeyedDirOutputer: one object per reduced key (outputer.go parity)") {
    import spark.implicits._
    val data = Seq(("alpha", 3L), ("beta", 7L), ("gamma", 11L)).toDS()
    val dir = Files.createTempDirectory("graft-keyed").toString + "/out"
    KeyedDirOutputer(dir).write(data)
    val keyDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("key=")).sortBy(_.getName)
    assert(keyDirs.map(_.getName).toSeq == Seq("key=alpha", "key=beta", "key=gamma"))
    keyDirs.foreach { kd =>
      val parts = kd.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, s"${kd.getName}: expected exactly one object")
    }
    val back = spark.read.format("text").load(dir)
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1).toLong).toMap
    assert(back == Map("alpha" -> 3L, "beta" -> 7L, "gamma" -> 11L))
  }

  test("KeyedDirOutputer refuses crawl-scale key cardinality (scale guard)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cap").toString
    val wide = (0 until 50).map(i => (s"k$i", i.toLong)).toDS()
    val ex = intercept[IllegalArgumentException] {
      KeyedDirOutputer(dir + "/out", maxKeys = 10L).write(wide)
    }
    assert(ex.getMessage.contains("TableOutputer"))
    // within the cap the parity write still works
    KeyedDirOutputer(dir + "/ok", maxKeys = 100L).write(wide)
    assert(spark.read.text(dir + "/ok").count() == 50)
  }

  test("JobConfig parity: Start(config) runs folder→wordcount→per-key objects") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-jobin").toFile
    Files.writeString(new java.io.File(inDir, "a.txt").toPath, "x y x")
    Files.writeString(new java.io.File(inDir, "b.txt").toPath, "y z")
    val outDir = Files.createTempDirectory("graft-jobout").toString + "/out"
    val cfg = JobConfig(r = 2, inputFolder = inDir.getAbsolutePath, outputFolder = outDir)
    MapReduceJob.start(spark, cfg,
      new WordCount.WordCountMapper, new WordCount.SumReducer, Some(WordCount.SumCombiner))
    val back = spark.read.format("text").load(outDir)
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1).toLong).toMap
    assert(back == Map("x" -> 2L, "y" -> 2L, "z" -> 1L))
  }

  test("JobConfig parity: monolithic inputFile is chunked into ~m map inputs") {
    val f = Files.createTempFile("graft-jobfile", ".txt")
    Files.writeString(f, (1 to 500).map(i => s"w$i").mkString("\n"))
    val cfg = JobConfig(m = 4, inputFile = f.toString)
    val ds = cfg.inputer.toDataset(spark)
    val n = ds.count()
    assert(n >= 2 && n <= 8, s"expected ~4 chunks, got $n")
    assert(ds.collect().map(_._2).mkString.split("\n").length == 500)
  }

  test("ChunkWriter.splitFileIntoChunks materializes reassemblable chunks") {
    val f = Files.createTempFile("graft-split", ".txt")
    val lines = (1 to 1000).map(i => s"row-$i")
    Files.writeString(f, lines.mkString("\n"))
    val outDir = Files.createTempDirectory("graft-split-out").toString + "/chunks"
    val n = ChunkWriter.splitFileIntoChunks(spark, f.toString, outDir, chunkBytes = 2048)
    assert(n > 1, "expected multiple materialized chunks")
    // reassemble from the stored objects, ordered by chunk number
    // each chunk value ends with '\n', so the line-wise read-back has
    // one empty trailing record per chunk object — drop those
    val back = spark.read.format("text").load(outDir)
      .select(col("key").cast("int"), col("value")).collect()
      .map(r => (r.getInt(0), r.getString(1)))
      .filter(_._2.nonEmpty)
      .sortBy(_._1).map(_._2)
    assert(back.toSeq == lines, "chunk objects must reassemble the file's lines")
  }

  test("secondary sort streams values to the reducer in sort order") {
    import spark.implicits._
    val input = Tables.documents(spark, sfDir)
      .select($"lang", struct(
        size(split($"text", "\\s+")).cast("long").as("n"),
        $"doc_id".as("id")).as("v"))
      .as[(String, (Long, Long))]
    // reducer ASSERTS the order contract instead of sorting: any
    // out-of-order delivery fails the job
    val reducer = new Reducer[String, (Long, Long), Long] {
      override def reduce(key: String, values: Iterator[(Long, Long)]): Long = {
        var prev: Option[(Long, Long)] = None
        var n = 0L
        values.foreach { v =>
          prev.foreach { p =>
            require(p._1 > v._1 || (p._1 == v._1 && p._2 < v._2),
              s"out of order under $key: $p then $v")
          }
          prev = Some(v); n += 1
        }
        n
      }
    }
    val out = MapReduceJob.runSecondarySort(input, reducer,
      Seq(col("_1"), col("_2.n").desc, col("_2.id").asc)).collect().toMap
    val expected = Tables.documents(spark, sfDir)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(out == expected, "per-key counts must survive the run-walking iterator")
  }

  test("secondary sort drains unconsumed values (early-exit reducer)") {
    import spark.implicits._
    val input = Tables.documents(spark, sfDir)
      .select($"lang", $"doc_id").as[(String, Long)]
    // consumes only the first value per key — the next key must still
    // start at its own run, not mid-way through the previous one
    val firstOnly = new Reducer[String, Long, Long] {
      override def reduce(key: String, values: Iterator[Long]): Long = values.next()
    }
    val out = MapReduceJob.runSecondarySort(input, firstOnly,
      Seq(col("_1"), col("_2").asc)).collect().toMap
    val expected = Tables.documents(spark, sfDir)
      .groupBy($"lang").agg(min($"doc_id")).as[(String, Long)].collect().toMap
    assert(out == expected)
  }
}

/** JVM-static task-liveness probe for the cancel spec — local-mode
  * executors share the test JVM, so a static flag crosses the
  * driver/task boundary where a closure-captured latch cannot
  * (CountDownLatch is not serializable). */
object CancelProbe {
  val running = new java.util.concurrent.atomic.AtomicBoolean(false)
}
