package graft

import java.util.concurrent.{Callable, ConcurrentHashMap, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{Row, SparkSession}

import graft.mr.{MapReduceJob, WordCount}

/** Registry rows share the session they are handed: they scope what
  * they change (stream state width, sink views, SQL functions, temp
  * views, planner rules) to a clone of it, so the caller's session is
  * the same before, during and after a row, and rows running side by
  * side on one session do not see each other. */
class SessionScopeSpec extends SparkTestBase {

  private val sf01 = sfDir.replace("sf0.001", "sf0.01")

  private def row(s: SparkSession, name: String, dir: String = sfDir): Seq[Row] =
    SparkEntry.queries(name)(s, dir).collect().toSeq

  private def wordCount(s: SparkSession): Seq[Row] = {
    import s.implicits._
    MapReduceJob.run(
      Tables.documents(s, sfDir).select($"doc_id".cast("string"), $"text").as[(String, String)],
      new WordCount.WordCountMapper, new WordCount.SumReducer, Some(WordCount.SumCombiner))
      .toDF().orderBy($"_1").collect().toSeq
  }

  private def tempViews(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def functions(s: SparkSession): Set[String] =
    s.catalog.listFunctions().collect().map(_.name).toSet

  test("registry rows leave the session they are handed unchanged, also while they run") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "6")
    val conf = s.conf.getAll
    val views = tempViews(s)
    val fns = functions(s)
    val widths = ConcurrentHashMap.newKeySet[String]()
    val stop = new AtomicBoolean(false)
    val poller = new Thread(() =>
      while (!stop.get) {
        widths.add(s.conf.get("spark.sql.shuffle.partitions"))
        Thread.sleep(1)
      })
    poller.start()
    try Seq("stream_window_stats", "q_sql_cosine_topk", "q_sql_topk_rewrite", "q_window_ranks")
      .foreach(q => assert(row(s, q).nonEmpty, s"$q returned no rows"))
    finally { stop.set(true); poller.join() }
    assert(widths.toArray.toSet == Set("6"), s"widths seen while the rows ran: $widths")
    assert(s.conf.getAll == conf,
      s"conf changed: ${(s.conf.getAll.toSet diff conf.toSet).toSeq.sorted}")
    assert(tempViews(s) == views, s"temp views: $views → ${tempViews(s)}")
    assert(functions(s) == fns, s"new functions: ${(functions(s) diff fns).toSeq.sorted}")
  }

  test("rows run side by side on one session get the rows of a serial run") {
    val work: Seq[Seq[() => Seq[Row]]] = Seq(
      Seq(() => row(spark, "stream_window_stats")),
      Seq(() => row(spark, "stream_window_stats")),
      Seq(() => row(spark, "q_sql_cosine_topk"), () => wordCount(spark)),
      Seq(() => row(spark, "q_sql_cosine_topk", sf01)))
    val serial = work.map(_.map(_()))
    val barrier = new CyclicBarrier(work.size)
    val pool = Executors.newFixedThreadPool(work.size)
    try {
      val futures = work.map(fs => pool.submit(new Callable[Seq[Seq[Row]]] {
        def call(): Seq[Seq[Row]] = { barrier.await(); fs.map(_()) }
      }))
      val concurrent = futures.map(_.get(300, TimeUnit.SECONDS))
      serial.zip(concurrent).zipWithIndex.foreach { case ((want, got), i) =>
        assert(got == want, s"thread $i: ${got.map(_.size)} rows vs ${want.map(_.size)} serially")
      }
    } finally pool.shutdownNow()
  }
}
