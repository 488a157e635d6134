package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.mr.{Fs, JobConfig, JobTracker, MapReduceJob, ParquetOutputer}
import graft.mr.WordCount.{SumCombiner, SumReducer, WordCountMapper}
import graft.operators.{AnnOps, GeometryContext}

/** JVM side of the benchmark. `run.py` launches it once per run: it
  * builds the session, runs the warm-up job, then one workload for
  * --seconds. It prints `PERFBENCH_READY` on stdout as soon as the
  * session and the warm-up job are done (run.py times set-up up to that
  * line) and writes everything it measured to `<run>/result.json`. Correctness
  * of the outputs is checked by run.py against the generator's exact
  * counts and the DuckDB oracle; this side only compares repeated ANN
  * serves with the first one.
  *
  * With --trace 1 the same workload runs traced: spans around every call
  * into the program plus a SparkListener, followed by the per-layer
  * probes that time single layers on their own.
  */
object Harness {
  /** Map tasks per bulk job (JobConfig.m): the user's split request. */
  val WordcountChunks = 16
  val JobTimeoutMs = 60000L
  /** The ANN serve ann_build_serve times. ann_hnsw_topk is not timed: at
    * ~5 s a request a run would hold two samples of it. */
  val Serve = "ann_ivf_topk"

  final case class Ctx(spark: SparkSession, cores: Int, data: String, run: String,
      seconds: Double, warmup: Int, tokens: Long)

  /** One timed request. */
  final case class Op(latS: Double, cpuS: Double, ok: Boolean,
      fields: Map[String, Any] = Map.empty) {
    def json: Map[String, Any] = fields ++ Map("lat_s" -> latS, "cpu_s" -> cpuS, "ok" -> ok)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread: tasks, driver, JIT, GC) in
    * ns. Time the host gives to other guests (steal) is not in it. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** What one run of a workload measured. `inputBytes` is the input one
    * bulk job reads, or the corpus the indexes are built from; `bulk`
    * holds the one-off phases (index builds) that are not requests. */
  final case class Phase(ops: Seq[Op], wallS: Double, inputBytes: Long,
      bulk: Map[String, Double] = Map.empty, checks: Seq[Map[String, Any]] = Nil,
      probes: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w0 = System.nanoTime()
    spark.range(0, 1L << 22, 1, cores).selectExpr("sum(id ^ (id * 31)) AS s").collect()
    val warmupS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] session $sessionS%.3f s, warm-up job $warmupS%.3f s")
    println("PERFBENCH_READY")
    System.out.flush()

    val ctx = Ctx(spark, cores, a("data"), a("run"), a("seconds").toDouble,
      a("warmup").toInt, a.getOrElse("tokens", "0").toLong)
    val traced = a("trace") == "1"
    val workload = a("workload")
    val pass: (Ctx, Trace) => Phase = workload match {
      case "wordcount_bulk"   => wordcount
      case "ann_build_serve"  => ann
    }
    val out = ArrayBuffer[(String, Any)](
      "workload" -> workload, "traced" -> traced,
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS),
      "env" -> Map("spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "cores" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))
    val tr = new Trace(traced)
    if (traced) spark.sparkContext.addSparkListener(tr.listener)
    val t0 = System.currentTimeMillis()
    val ph = pass(ctx, tr)
    val t1 = System.currentTimeMillis()
    out += "phase" -> phaseJson(ph)
    if (traced) {
      spark.sparkContext.removeSparkListener(tr.listener)
      tr.write(s"${ctx.run}/spans.jsonl")
      out += "per_layer" -> (perLayer(ctx, tr, ph, workload, t0, t1) ++ Map(
        "jvm.peak_heap_mb" -> peakHeapMb,
        "setup.session_s" -> sessionS,
        "setup.warmup_s" -> warmupS))
    }
    val w = new java.io.PrintWriter(s"${ctx.run}/result.json")
    w.println(Json(out.toMap))
    w.close()
    // everything is measured and written; run.py removes the run
    // directory, so the session's orderly shutdown would only add time
    Runtime.getRuntime.halt(0)
  }

  def phaseJson(p: Phase): Map[String, Any] = Map(
    "ops" -> p.ops.map(_.json), "wall_s" -> p.wallS, "input_bytes" -> p.inputBytes,
    "bulk" -> p.bulk, "checks" -> p.checks)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body`, returning (seconds, Some(value)) or (seconds, None) on
    * failure; a failure is reported on stderr and counted by the caller. */
  private def timed[T](body: => T): (Double, Option[T]) = {
    val t0 = System.nanoTime()
    val v = try Some(body) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] operation failed: $e")
        None
    }
    (secondsSince(t0), v)
  }

  // ------------------------------------------------------------------
  // wordcount_bulk: the reference demo job over one large file, one
  // client submitting jobs through JobTracker (Start/Status/Done)
  // ------------------------------------------------------------------

  def wordcount(ctx: Ctx, tr: Trace): Phase = {
    val spark = ctx.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val corpus = s"${ctx.data}/corpus.txt"
    val cfg = JobConfig(m = WordcountChunks, inputFile = corpus)
    val tracker = new JobTracker(spark)

    // runs on the tracker's pool thread
    def body(out: String, op: Long): Unit = {
      tr.setOp(op)
      val in = tr.span(sc, "mr.io.toDataset")(cfg.inputer.toDataset(spark))
      val ds = tr.span(sc, "mr.engine.run")(MapReduceJob.run(
        in, new WordCountMapper, new SumReducer, Some(SumCombiner), cfg))
      if (tr.enabled) tr.span(sc, "mr.engine.plan")(ds.queryExecution.executedPlan)
      tr.span(sc, "mr.io.write")(ParquetOutputer(out).write(ds))
    }

    // job latency: from the start call until the client sees status true
    def runJob(out: String): Op = {
      val op = tr.newOp()
      val startMs = System.currentTimeMillis()
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      val id = tracker.start(body(out, op))
      val t1 = System.nanoTime()
      val seen = tracker.await(id, JobTimeoutMs)
      val t2 = System.nanoTime()
      val c2 = cpuNs()
      val seenMs = System.currentTimeMillis()
      val st = tracker.stats(id)
      tracker.done(id)
      st.flatMap(_.failure).foreach(f => System.err.println(s"[perfbench] job failed: $f"))
      val status = st.map(_.status).getOrElse("missing")
      Op((t2 - t0) / 1e9, (c2 - c0) / 1e9, seen && status == "completed", Map(
        "out" -> out, "group" -> id,
        "start_epoch_ms" -> startMs, "seen_epoch_ms" -> seenMs,
        "end_epoch_ms" -> st.map(_.endMs).getOrElse(0L),
        "start_call_ms" -> (t1 - t0) / 1e6,
        "spark_jobs" -> st.map(_.sparkJobs).getOrElse(0),
        "tasks" -> st.map(_.tasks).getOrElse(0)))
    }

    // declared warm-up, not timed: the JIT speeds the jobs of a fresh JVM
    // up by a third over their first ten or so. A fixed count, so that
    // every run starts timing at the same point of that curve. Only the
    // first warm-up output is checked.
    val warm = ArrayBuffer[Op]()
    while (warm.size < ctx.warmup)
      warm += runJob(s"${ctx.run}/out/wc-warm-${warm.size}")
    require(warm.forall(_.ok), "a warm-up job failed")
    val ops = ArrayBuffer[Op]()
    val start = System.nanoTime()
    while (secondsSince(start) < ctx.seconds)
      ops += runJob(s"${ctx.run}/out/wc-${ops.size}")
    val wall = secondsSince(start)
    tracker.shutdown()
    val probes =
      if (!tr.enabled) Map.empty[String, Any]
      else ioProbes(ctx, cfg, ParquetOutputer(s"${ctx.run}/out/probe-write"))
    Phase(ops.toSeq, wall, Fs.len(corpus),
      checks = (warm.take(1) ++ ops.filter(_.ok)).map(o => Map[String, Any]("out" -> o.fields("out"))).toSeq,
      probes = probes)
  }

  /** Time the input and output layers on their own: the Inputer's
    * dataset into the noop sink, and the Outputer writing a result that
    * is already materialized. Median of three each. */
  def ioProbes(ctx: Ctx, cfg: JobConfig, outputer: graft.mr.Outputer): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val inputer = cfg.inputer
    val read = (1 to 3).map { _ =>
      timed(inputer.toDataset(spark).write.format("noop").mode("overwrite").save())._1
    }
    val result = MapReduceJob.run(inputer.toDataset(spark), new WordCountMapper,
      new SumReducer, Some(SumCombiner), cfg).localCheckpoint(true)
    val write = (1 to 3).map(_ => timed(outputer.write(result))._1)
    Map("read_s" -> median(read), "write_s" -> median(write),
      "chunks" -> inputer.toDataset(spark).rdd.getNumPartitions)
  }

  // ------------------------------------------------------------------
  // ann_build_serve: a cold IVF index build, then warm top-k requests
  // ------------------------------------------------------------------

  def ann(ctx: Ctx, tr: Trace): Phase = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    // the index root (GRAFT_INDEX_ROOT) is empty and the session new, so
    // the build below is cold
    val dir = ctx.data
    GeometryContext.set(spark, dir)
    val inputBytes = dirBytes(s"$dir/embeddings.parquet")
    // the oracle's SQL, interpolated for this corpus (GeometryContext)
    val oracle = new java.io.PrintWriter(s"${ctx.run}/oracle_sql.json")
    oracle.println(Json(Map(Serve -> SparkEntry.oracleSql(Serve))))
    oracle.close()

    tr.newOp()
    // IvfIndex.ensure, reached through its public ingest face
    val b0 = System.nanoTime()
    tr.span(sc, "operators.build.ivf")(AnnOps.routeWithFrozenQuantizer(spark, dir)(
      graft.Tables.embeddings(spark, dir).limit(0)).collect())
    val buildS = secondsSince(b0)

    // The first serve is the reference every later serve must reproduce,
    // and the one the oracle checks.
    val first = SparkEntry.queries(Serve)(spark, dir)
    val reference = first.collect()
    val checks = Seq(Map[String, Any]("query" -> Serve,
      "out" -> save(spark, first, reference, s"${ctx.run}/out/$Serve")))
    val topkRows = ArrayBuffer[Long]()
    def serve(): Boolean = {
      val df = tr.span(sc, s"operators.serve.$Serve")(SparkEntry.queries(Serve)(spark, dir))
      val rows = tr.span(sc, s"operators.collect.$Serve")(df.collect())
      if (tr.enabled) topkRows ++= topkRowsIn(df)
      rows.sameElements(reference)
    }
    // declared warm-up, untimed
    for (_ <- 1 to ctx.warmup)
      require(serve(), s"$Serve: warm-up serve differs from the first")
    topkRows.clear()
    // one client asks the index for the probes' top-k, request after request
    val ops = ArrayBuffer[Op]()
    val start = System.nanoTime()
    while (secondsSince(start) < ctx.seconds) {
      tr.newOp()
      val c0 = cpuNs()
      val (s, same) = timed(serve())
      ops += Op(s, (cpuNs() - c0) / 1e9, same.contains(true))
    }
    val wall = secondsSince(start)
    val probes =
      if (!tr.enabled) Map.empty[String, Any]
      else Map("index_bytes" -> dirBytes(Fs.indexRoot), "topk_rows" -> topkRows.toSeq)
    Phase(ops.toSeq, wall, inputBytes, bulk = Map("index_build_s" -> buildS),
      checks = checks, probes = probes)
  }

  private def save(spark: SparkSession, df: DataFrame, rows: Array[Row], out: String): String = {
    spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Rows reaching each partial TopKPerKey node of an executed plan: the
    * output-row metric of the nearest operator below it that counts rows
    * (TopKPerKeyExec has no metric of its own). */
  def topkRowsIn(df: DataFrame): Seq[Long] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => q +: nodes(q.plan)
      case o                        => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    def counted(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value)
        .orElse(p.children match {
          case Seq(c) => counted(c)
          case _      => None
        })
    nodes(df.queryExecution.executedPlan).collect {
      case t: graft.plans.TopKPerKeyExec if t.partial => counted(t.child)
    }.flatten
  }

  // ------------------------------------------------------------------
  // per-layer table (traced pass only)
  // ------------------------------------------------------------------

  def perLayer(ctx: Ctx, tr: Trace, ph: Phase, workload: String,
      t0: Long, t1: Long): Map[String, Any] = {
    val tasks = tr.tasks.asScala.toSeq
    val inWindow = tasks.filter(t => t.finishMs >= t0 && t.finishMs <= t1)
    val wallS = (t1 - t0) / 1e3
    val common = Map[String, Any](
      "spark.tasks" -> inWindow.size,
      "spark.gc_s" -> inWindow.map(_.gcMs).sum / 1e3,
      "spark.idle_core_s" -> (ctx.cores * wallS - inWindow.map(_.runMs).sum / 1e3),
      "jvm.cpu_s_per_job" -> median(ph.ops.map(_.cpuS)))

    // every Spark job a tracked bulk job ran carries its job group;
    // ann_build_serve calls no graft.mr code, so its mr.* metrics are zero
    val jobOps = if (workload == "wordcount_bulk") ph.ops else Nil
    val n = math.max(1, jobOps.size)
    val jobTasks = jobOps.map(o => tasks.filter(_.owner == o.fields("group").toString))
    val engine = jobTasks.flatten
    val shuffleRecords = engine.map(_.shuffleRecords).sum.toDouble / n
    val skew = jobTasks.map { ts =>
      val d = ts.filterNot(_.isMap).map(_.durationMs.toDouble)
      if (d.isEmpty) 0.0 else d.max / math.max(1.0, median(d))
    }
    val io = ph.probes
    val files = if (jobOps.isEmpty) Nil else ph.checks.flatMap(c => dataFiles(c("out").toString))
    val firstJob = tr.jobs.asScala.groupBy(_.owner).map { case (g, js) => g -> js.map(_.startMs).min }
    def field[T](o: Op, k: String): T = o.fields(k).asInstanceOf[T]
    val mr = Map[String, Any](
      "mr.io.read_s" -> io.getOrElse("read_s", 0.0),
      "mr.io.chunks" -> io.getOrElse("chunks", 0),
      "mr.io.write_s" -> io.getOrElse("write_s", 0.0),
      "mr.io.files_written" -> files.size.toDouble / math.max(1, ph.checks.size),
      "mr.io.output_mb" -> files.map(_.length).sum / 1e6 / math.max(1, ph.checks.size),
      "mr.engine.plan_ms" -> median(tr.named("mr.engine.plan").map(_.ms)),
      "mr.engine.map_busy_s" -> engine.filter(_.isMap).map(_.runMs).sum / 1e3 / n,
      "mr.engine.reduce_busy_s" -> engine.filterNot(_.isMap).map(_.runMs).sum / 1e3 / n,
      "mr.engine.shuffle_write_mb" -> engine.map(_.shuffleBytes).sum / 1e6 / n,
      "mr.engine.shuffle_records" -> shuffleRecords,
      "mr.engine.spill_mb" -> engine.map(_.spillBytes).sum / 1e6 / n,
      "mr.engine.combine_ratio" -> (if (jobOps.isEmpty) 0.0 else shuffleRecords / ctx.tokens),
      "mr.engine.task_skew" -> median(skew),
      "mr.tracker.start_ms" -> median(jobOps.map(field[Double](_, "start_call_ms"))),
      "mr.tracker.first_job_ms" -> median(jobOps.flatMap { o =>
        firstJob.get(o.fields("group").toString).map(_ - field[Long](o, "start_epoch_ms")).map(_.toDouble)
      }),
      "mr.tracker.poll_wait_ms" -> median(jobOps.map(o =>
        (field[Long](o, "seen_epoch_ms") - field[Long](o, "end_epoch_ms")).toDouble)),
      "mr.tracker.spark_jobs_per_job" -> mean(jobOps.map(field[Int](_, "spark_jobs").toDouble)),
      "mr.tracker.tasks_per_job" -> mean(jobOps.map(field[Int](_, "tasks").toDouble)),
      "mr.tracker.inflight" -> jobOps.map(_.latS).sum / ph.wallS)

    val topk = io.getOrElse("topk_rows", Nil).asInstanceOf[Seq[Long]]
    val ops = Map(
      "operators.build.ivf_s" -> tr.named("operators.build.ivf").map(_.ms / 1e3).sum,
      "operators.index_mb_per_input_mb" ->
        io.get("index_bytes").map(_.asInstanceOf[Long].toDouble / ph.inputBytes).getOrElse(0.0),
      "plans.topk.rows_in_per_query" ->
        (if (topk.isEmpty) 0.0 else topk.sum.toDouble / ph.ops.size))
    common ++ mr ++ ops
  }

  // ------------------------------------------------------------------

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Files a job wrote, without the committer's markers and checksums. */
  def dataFiles(dir: String): Seq[File] =
    walk(new File(dir)).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  def dirBytes(dir: String): Long = walk(new File(dir)).map(_.length).sum

  def peakHeapMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Minimal JSON writer for the result file. */
object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None        => "null"
    case Some(x)            => apply(x)
    case s: String          => quote(s)
    case b: Boolean         => b.toString
    case d: Double          => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int             => n.toString
    case n: Long            => n.toString
    case m: Map[_, _]       => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]    => xs.map(apply).mkString("[", ",", "]")
    case other              => quote(other.toString)
  }
}
