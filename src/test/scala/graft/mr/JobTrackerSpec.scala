package graft.mr

import org.apache.spark.{ListenerBusDrain, TaskKilled}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.{SparkEntry, SparkTestBase, Tables}

/** JobTracker's bounds (one record per job, index entries only while a
  * job runs, stats final once terminal) and its per-task metrics. */
class JobTrackerSpec extends SparkTestBase {

  test("a cancelled job's stats do not change after await reports them") {
    import spark.implicits._
    val tracker = new JobTracker(spark)
    val killed = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.reason.isInstanceOf[TaskKilled]) killed.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      KillProbe.started.set(0); KillProbe.release.set(false)
      // 8 tasks on 4 slots that ignore the cancel's interrupt until
      // released: their task-end events reach the listener well after
      // the job's end, as those of tasks blocked in IO or native code do
      val id = tracker.start {
        spark.range(0, 64, 1, 8).mapPartitions { it =>
          KillProbe.started.incrementAndGet()
          while (!KillProbe.release.get)
            try Thread.sleep(10) catch { case _: InterruptedException => () }
          it
        }.count()
        ()
      }
      val deadline = System.currentTimeMillis() + 60000L
      while (KillProbe.started.get < 4 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(KillProbe.started.get == 4, s"${KillProbe.started.get} of 4 tasks running")
      tracker.cancel(id)
      assert(tracker.await(id, 60000L), "cancelled job never reached a terminal state")
      val reported = tracker.stats(id).get
      assert(reported.status == "failed")
      KillProbe.release.set(true)
      while (killed.get < 4 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(killed.get >= 4, s"${killed.get} killed-task ends seen")
      ListenerBusDrain(spark.sparkContext)
      val later = tracker.stats(id).get
      assert(later == reported,
        s"stats changed after the job was reported terminal: ${reported.tasks} → ${later.tasks} tasks")
      assert(tracker.sizes == ((1, 0, 0)), s"tracker state: ${tracker.sizes}")
      tracker.done(id)
    } finally {
      KillProbe.release.set(true)
      spark.sparkContext.removeSparkListener(counter)
      tracker.shutdown()
    }
  }

  test("sequential runs leave no record and no index entry; an undone job keeps only its record") {
    val tracker = new JobTracker(spark)
    try {
      (1 to 50).foreach { i =>
        val st = tracker.run({ spark.range(0, 100, 1, 2).count(); () }, 60000L)
        assert(st.status == "completed", s"run $i: $st")
      }
      assert(tracker.sizes == ((0, 0, 0)), s"after 50 runs: ${tracker.sizes}")
      val id = tracker.start { spark.range(0, 100, 1, 2).count(); () }
      assert(tracker.await(id))
      assert(tracker.sizes == ((1, 0, 0)), s"after start + await: ${tracker.sizes}")
      tracker.done(id)
      assert(tracker.sizes == ((0, 0, 0)), s"after done: ${tracker.sizes}")
    } finally tracker.shutdown()
  }

  test("a wordcount job's task metrics: map + result tasks, shuffle records match the plan") {
    import spark.implicits._
    val tracker = new JobTracker(spark)
    try {
      val ds = MapReduceJob.run(
        Tables.documents(spark, sfDir).select($"doc_id".cast("string"), $"text").as[(String, String)],
        new WordCount.WordCountMapper, new WordCount.SumReducer, Some(WordCount.SumCombiner))
      val st = tracker.run({ ds.collect(); () }, 120000L)
      assert(st.status == "completed", s"job: $st")
      val (map, result) = st.taskStats.partition(_.isMap)
      assert(map.nonEmpty && result.nonEmpty,
        s"${map.size} map and ${result.size} result tasks")
      assert(map.size + result.size == st.tasks)
      object Plans extends AdaptiveSparkPlanHelper
      val exchanges = Plans.collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "no shuffle exchange in the executed plan")
      val planRecords = exchanges.map(_.metrics("shuffleRecordsWritten").value).sum
      assert(planRecords > 0)
      assert(st.taskStats.map(_.shuffleRecords).sum == planRecords)
      assert(st.taskStats.map(_.shuffleBytes).sum > 0)
      assert(st.taskStats.forall(t => t.runMs >= 0 && t.gcMs >= 0 && t.spillBytes >= 0))
    } finally tracker.shutdown()
  }

  test("a streaming row's stats count every Spark job of the row, micro-batches included") {
    val tracker = new JobTracker(spark)
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = seen.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val st = tracker.run(
        { SparkEntry.queries("stream_window_stats")(spark, sfDir).collect(); () }, 120000L)
      ListenerBusDrain(spark.sparkContext)
      assert(st.status == "completed", s"job: $st")
      assert(st.sparkJobs == seen.get, s"tracked ${st.sparkJobs} of the ${seen.get} Spark jobs the row ran")
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      tracker.shutdown()
    }
  }
}

/** JVM-static task signals (local mode shares the JVM with the tasks). */
object KillProbe {
  val started = new java.util.concurrent.atomic.AtomicInteger(0)
  val release = new java.util.concurrent.atomic.AtomicBoolean(false)
}
