package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer of the program: name, start, end, the
  * span that caused it and the operation (one benchmark request) it
  * belongs to. Times are this JVM's System.nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What the listener keeps per finished task; `owner` is the span id
  * (or tracked-job id) whose thread launched the Spark job. */
final case class TaskRec(owner: String, isMap: Boolean, runMs: Long,
    durationMs: Long, gcMs: Long, shuffleBytes: Long, shuffleRecords: Long,
    spillBytes: Long, finishMs: Long)

final case class JobRec(owner: String, startMs: Long)

/** In-memory trace: spans recorded from the benchmark's own calls, plus
  * a SparkListener attributing every Spark job and task to the span (or
  * JobTracker job group) whose thread launched it. Nothing is written
  * until [[write]] at the end of the run. When `enabled` is false every
  * method is a pass-through, so the untraced run pays nothing. */
final class Trace(val enabled: Boolean) {
  val OwnerKey = "perfbench.owner"
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val op = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      val owner = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.nonEmpty)
        .orElse(props.flatMap(p => Option(p.getProperty(OwnerKey))))
        .getOrElse("")
      js.stageIds.foreach(s => stageOwner.put(s, owner))
      jobs.add(JobRec(owner, js.time))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null && te.taskInfo != null) tasks.add(TaskRec(
        stageOwner.getOrDefault(te.stageId, ""),
        te.taskType == "ShuffleMapTask",
        m.executorRunTime, te.taskInfo.duration, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.diskBytesSpilled, te.taskInfo.finishTime))
    }
  }

  /** Start a new operation (one benchmark request) on this thread. */
  def newOp(): Long = { val o = ids.incrementAndGet(); op.set(o); o }

  /** Continue operation `o` on this thread (a pool thread running it). */
  def setOp(o: Long): Unit = op.set(o)

  /** Time `body` as a span named `name`, child of the innermost open
    * span on this thread; Spark jobs it launches on this thread are
    * attributed to it through a local property. */
  def span[T](sc: org.apache.spark.SparkContext, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevOwner = sc.getLocalProperty(OwnerKey)
      stack.set(id :: parents)
      sc.setLocalProperty(OwnerKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), op.get(), name, t0,
          System.nanoTime()))
        stack.set(parents)
        sc.setLocalProperty(OwnerKey, prevOwner)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(n: String): Seq[Span] = all.filter(_.name == n)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
