package graft.mr

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.functions.col

/** The reference's programming model (Mapper/Reducer/Emitter,
  * /root/reference/mapper.go:13, reducer.go:13, emitter.go:17),
  * compiled to Spark Datasets.
  *
  * What the reference implements by hand — input chunking (M tasks),
  * hash-partitioned intermediate storage (hash(key) mod R,
  * emittedStore.go), task assignment, retry, completion tracking
  * (taskManager.go, mapreduce.go) — maps 1:1 onto Spark's input
  * splits, shuffle, and DAG scheduler, so the engine here is only the
  * semantic core. Every job compiles to the reference's own shape:
  *
  *   map tasks (+ in-mapper combine) → ONE exchange,
  *   hashpartitioning(key, R) → per-partition sort on key → one
  *   streaming walk over the key runs that calls the reducer.
  *
  * Scale note: always supply a [[Combiner]] when the reduction is
  * associative. Each map task then folds its pairs into a bounded
  * per-task hash table (in-mapper combining: one pair per (mapper,
  * key) crosses the shuffle instead of one per emit), and the reduce
  * side folds each key run before calling the reducer once with the
  * combined value. The combiner-less path streams each key's values
  * through the reducer exactly once, like the reference's
  * ReduceTask.execute (tasks.go:139). Neither path adds a typed
  * aggregate or a second exchange (PlanAudit checks the shape on
  * `mr_wordcount_engine`).
  */
trait Emitter[K2, V2] {
  def emit(key: K2, value: V2): Unit
}

trait Mapper[K1, V1, K2, V2] extends Serializable {
  def map(key: K1, value: V1, emitter: Emitter[K2, V2]): Unit
}

trait Reducer[K2, V2, Out] extends Serializable {
  def reduce(key: K2, values: Iterator[V2]): Out
}

/** Associative merge of intermediate values — enables map-side
  * partial aggregation (the reference has no equivalent; its demo
  * reducer re-sums everything reducer-side, reducer.go:36). */
trait Combiner[V2] extends Serializable {
  def combine(a: V2, b: V2): V2
}

/** Full-field parity with the reference's JobConfig (jobConfig.go:6).
  * `m` (map task count) sizes the chunks of a monolithic input file;
  * other inputs keep their source's splits. `r` is the number of
  * reduce tasks, exactly as in the reference: intermediate keys go
  * to partition hash(key) mod r, and the result has r partitions (one
  * output file per reduce partition). 0 = one reduce task per core
  * slot (`defaultParallelism`). The input/output fields resolve to
  * Inputers/Outputers exactly like the reference wires them: a
  * prechunked `inputFolder` reads one value per stored chunk object;
  * a monolithic `inputFile` is split into ~`m` line-boundary chunks
  * on the fly (the reference calls SplitFileIntoChunks up front
  * instead); `outputFolder` gets one object per reduced key
  * (S3Outputer parity). */
final case class JobConfig(
    m: Int = 0,
    r: Int = 0,
    inputFolder: String = "",
    outputFolder: String = "",
    prechunked: Boolean = false,
    inputFile: String = "") {

  def inputer: Inputer =
    if (!prechunked && inputFile.nonEmpty) {
      val size = math.max(1L, Fs.len(inputFile))
      val chunkBytes = if (m > 0) math.max(1L, size / m) else 1L << 20
      ChunkedTextInputer(inputFile, chunkBytes)
    } else TextDirInputer(inputFolder)

  def outputer: Outputer = KeyedDirOutputer(outputFolder)
}

object MapReduceJob {

  /** Entries a map task's combine table holds before it is flushed
    * downstream: bounds map-side memory whatever the key cardinality.
    * A flush only costs combining (a key may then cross the shuffle
    * more than once per task); the reduce side folds the rest. */
  private[mr] val CombineCap = 1 << 16

  /** Run a map-reduce job over a keyed dataset. */
  def run[K1, V1, K2, V2, Out](
      input: Dataset[(K1, V1)],
      mapper: Mapper[K1, V1, K2, V2],
      reducer: Reducer[K2, V2, Out],
      combiner: Option[Combiner[V2]] = None,
      config: JobConfig = JobConfig())(implicit
      kvEnc: Encoder[(K2, V2)],
      outEnc: Encoder[(K2, Out)]): Dataset[(K2, Out)] = {

    val mapped = input.mapPartitions { it =>
      combiner match {
        case Some(c) => new CombiningMapIterator(it, mapper, c)
        case None =>
          it.flatMap { case (k, v) =>
            val buf = ArrayBuffer.empty[(K2, V2)]
            mapper.map(k, v, (k2: K2, v2: V2) => { buf += ((k2, v2)); () })
            buf
          }
      }
    }
    val reduce: (K2, Iterator[V2]) => Out = combiner match {
      case Some(c) => (k, vs) => reducer.reduce(k, Iterator.single(vs.reduce(c.combine)))
      case None    => reducer.reduce
    }
    reduceKeyRuns(mapped, Seq(col("_1")), config)(reduce)
  }

  /** Secondary sort: the reducer sees each key's values in
    * `sortCols` order — the classic Hadoop composite-key pattern
    * (partition by natural key, sort by (key, value-fields), walk key
    * runs). It is the same exchange and key-run walk as [[run]], with
    * a longer sort key, so ordering comes from the shuffle's sort
    * machinery (spillable, O(1) memory per group) — values are
    * streamed to the reducer, not buffered per key, exactly like
    * Hadoop's grouping comparator. `sortCols` must order by `_1`
    * first; ties across the remaining columns should be broken to a
    * total order for determinism. */
  def runSecondarySort[K2, V2, Out](
      input: Dataset[(K2, V2)],
      reducer: Reducer[K2, V2, Out],
      sortCols: Seq[Column],
      config: JobConfig = JobConfig())(implicit
      kvEnc: Encoder[(K2, V2)],
      outEnc: Encoder[(K2, Out)]): Dataset[(K2, Out)] =
    reduceKeyRuns(input, sortCols, config)(reducer.reduce)

  /** End-to-end parity with the reference's `Start(config, ...)`
    * (mapreduce.go): resolve the config's Inputer, run the job, write
    * one object per reduced key to the config's output folder. Keys
    * are strings end-to-end, as in the reference. */
  def start[V2, Out](
      spark: org.apache.spark.sql.SparkSession,
      config: JobConfig,
      mapper: Mapper[String, String, String, V2],
      reducer: Reducer[String, V2, Out],
      combiner: Option[Combiner[V2]] = None)(implicit
      kvEnc: Encoder[(String, V2)],
      outEnc: Encoder[(String, Out)]): Unit = {
    val out = run(config.inputer.toDataset(spark), mapper, reducer, combiner, config)
    config.outputer.write(out)
  }

  /** The reduce side every job shares: one exchange,
    * hashpartitioning(`_1`, R), a per-partition sort on `sortCols`,
    * then one pass that hands each run of equal keys to `reduce`.
    * R is `config.r`, else one reduce task per core slot — never the
    * SQL-wide `spark.sql.shuffle.partitions` default. */
  private def reduceKeyRuns[K2, V2, Out](
      pairs: Dataset[(K2, V2)], sortCols: Seq[Column], config: JobConfig)(
      reduce: (K2, Iterator[V2]) => Out)(implicit
      kvEnc: Encoder[(K2, V2)],
      outEnc: Encoder[(K2, Out)]): Dataset[(K2, Out)] = {
    // normalize column names so sortCols can address `_1` / `_2.field`
    // regardless of what the caller's select named them
    val kv = pairs.toDF("_1", "_2").as[(K2, V2)]
    val r = if (config.r > 0) config.r else kv.sparkSession.sparkContext.defaultParallelism
    kv.repartition(r, kv.col("_1"))
      .sortWithinPartitions(sortCols: _*)
      .mapPartitions(it => new KeyRunIterator(it.buffered, reduce))
  }
}

/** Walks a key-sorted partition one run of equal keys at a time; the
  * run's values are streamed to `reduce`, and whatever it leaves
  * unconsumed is drained so the next run starts at its own key. */
private final class KeyRunIterator[K2, V2, Out](
    buf: BufferedIterator[(K2, V2)], reduce: (K2, Iterator[V2]) => Out)
    extends scala.collection.AbstractIterator[(K2, Out)] {
  def hasNext: Boolean = buf.hasNext
  def next(): (K2, Out) = {
    val k = buf.head._1
    val vals: Iterator[V2] = new scala.collection.AbstractIterator[V2] {
      def hasNext: Boolean = buf.hasNext && buf.head._1 == k
      def next(): V2 = buf.next()._2
    }
    val out = reduce(k, vals)
    while (vals.hasNext) vals.next() // drain any unconsumed tail
    (k, out)
  }
}

/** In-mapper combining: a map task's emits fold into one hash table
  * per task, which is flushed downstream whenever it reaches
  * [[MapReduceJob.CombineCap]] entries and once more at the end of
  * the input. */
private final class CombiningMapIterator[K1, V1, K2, V2](
    in: Iterator[(K1, V1)], mapper: Mapper[K1, V1, K2, V2], c: Combiner[V2])
    extends scala.collection.AbstractIterator[(K2, V2)] with Emitter[K2, V2] {
  private var table = new java.util.HashMap[K2, V2]()
  private var out: Iterator[(K2, V2)] = Iterator.empty

  def emit(key: K2, value: V2): Unit = {
    val prev = table.get(key)
    if (prev == null && !table.containsKey(key)) {
      table.put(key, value)
      if (table.size >= MapReduceJob.CombineCap) flush()
    } else table.put(key, c.combine(prev, value))
  }

  private def flush(): Unit = {
    val full = table
    table = new java.util.HashMap[K2, V2]()
    out = out ++ full.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
  }

  def hasNext: Boolean = {
    while (!out.hasNext && in.hasNext) {
      val (k, v) = in.next()
      mapper.map(k, v, this)
    }
    if (!out.hasNext && !table.isEmpty) flush()
    out.hasNext
  }

  def next(): (K2, V2) =
    if (hasNext) out.next() else throw new NoSuchElementException("end of map output")
}

/** The reference's demo job: word-frequency counting
  * (/root/reference/mapper.go:36, reducer.go:36), with the map-side
  * pre-count kept (the demo also counts within a chunk before
  * emitting) plus a combiner for shuffle-light scaling. */
object WordCount {

  class WordCountMapper extends Mapper[String, String, String, Long] {
    override def map(key: String, value: String, em: Emitter[String, Long]): Unit = {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      value.split("\\s+").foreach { w =>
        if (w.nonEmpty) counts.update(w, counts.getOrElse(w, 0L) + 1L)
      }
      counts.foreach { case (w, c) => em.emit(w, c) }
    }
  }

  object SumCombiner extends Combiner[Long] {
    override def combine(a: Long, b: Long): Long = a + b
  }

  class SumReducer extends Reducer[String, Long, Long] {
    override def reduce(key: String, values: Iterator[Long]): Long = values.sum
  }
}
