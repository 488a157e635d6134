package graft.mr

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Inputer/Outputer parity (/root/reference/inputer.go:11,
  * outputer.go:11).
  *
  * The reference's Inputer is a key-value fetch API (list a folder,
  * fetch one object per map task). Here each Inputer exposes BOTH
  * faces:
  *  - `listKeys`/`getValue` — literal API parity, driver-side, for
  *    small corpora and tests;
  *  - `toDataset` — the scale path: a distributed `Dataset[(key,
  *    value)]` whose partitioning comes from the source's splits
  *    (Spark's equivalent of the reference's M map tasks).
  */
trait Inputer extends Serializable {
  def listKeys(spark: SparkSession): Seq[String]
  def getValue(spark: SparkSession, key: String): String
  def toDataset(spark: SparkSession): Dataset[(String, String)]
}

trait Outputer extends Serializable {
  /** Write a reduced dataset. Parity with Outputer.Output(key, value)
    * — one logical record per reduced key. */
  def write[Out](ds: Dataset[(String, Out)]): Unit
}

/** One file = one map input, like S3Inputer listing a folder prefix
  * (inputer.go:20): key = file name, value = whole file contents.
  *
  * `prefix` filters inputs to file names starting with it — parity
  * with FilterKeysByPrefix (/root/reference/s3_utils.go:49), which
  * lets a job run over a key subset. Empty prefix = everything. */
final case class TextDirInputer(dir: String, prefix: String = "") extends Inputer {
  override def listKeys(spark: SparkSession): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
      .map(_.getPath.toString).sorted.toSeq
  }
  override def getValue(spark: SparkSession, key: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(key), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(key))
    val out = new java.io.ByteArrayOutputStream()
    try {
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      out.toString("UTF-8")
    } finally in.close()
  }
  override def toDataset(spark: SparkSession): Dataset[(String, String)] = {
    import spark.implicits._
    // the prefix reaches the source as a glob, so non-matching files
    // are never opened (the distributed twin of the listKeys filter)
    val path = if (prefix.isEmpty) dir else s"$dir/$prefix*"
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("key"), col("value"))
      .as[(String, String)]
  }
}

/** Line-boundary chunking parity (SplitFileIntoChunks,
  * /root/reference/s3_utils.go:71): the file is split into ~chunkBytes
  * pieces at line boundaries; key = chunk number. Chunk i starts after
  * the first newline at or past byte i·chunkBytes − 1 (chunk 0 at byte
  * 0), so the chunks are the file's bytes exactly, in order, every
  * line whole. Each map task reads only its own byte range; chunking
  * never touches the driver and never changes session settings. */
final case class ChunkedTextInputer(path: String, chunkBytes: Long) extends Inputer {
  /** Exactly the chunks `toDataset` yields: a range that starts
    * inside a line longer than `chunkBytes` is empty and dropped. */
  override def listKeys(spark: SparkSession): Seq[String] =
    toDataset(spark).rdd.map(_._1).collect().toSeq
  // SCALE NOTE: listKeys/getValue are the reference's one-object-at-a-
  // time client face (inputer.go:11) kept for API parity — getValue
  // re-scans the file to serve ONE chunk. Jobs must consume
  // `toDataset` (one distributed pass); these two exist for
  // small-input parity tests and driver-side poking only.
  override def getValue(spark: SparkSession, key: String): String =
    toDataset(spark).filter(col("_1") === key).head()._2
  override def toDataset(spark: SparkSession): Dataset[(String, String)] = {
    import spark.implicits._
    val size = Fs.len(path)
    val step = math.max(1L, chunkBytes)
    val n = math.max(1L, (size + step - 1) / step).toInt
    val conf = spark.sparkContext.broadcast(
      new SerializableWritable(spark.sessionState.newHadoopConf()))
    val file = path
    spark.sparkContext.parallelize(0 until n, n)
      .mapPartitions(_.flatMap { i =>
        val p = new Path(file)
        val in = p.getFileSystem(conf.value.value).open(p)
        try {
          val start = ChunkedTextInputer.lineStart(in, i * step, size)
          val end = ChunkedTextInputer.lineStart(in, (i + 1) * step, size)
          if (end <= start) None
          else {
            val bytes = new Array[Byte]((end - start).toInt)
            in.readFully(start, bytes)
            Some((i.toString, new String(bytes, StandardCharsets.UTF_8)))
          }
        } finally in.close()
      })
      .toDS()
  }
}

object ChunkedTextInputer {
  /** Offset of the first line that starts at or after `pos`: 0 for
    * pos ≤ 0, else the byte after the first newline at or past
    * pos − 1, or `size` when there is none. */
  private def lineStart(in: FSDataInputStream, pos: Long, size: Long): Long =
    if (pos <= 0L) 0L
    else if (pos >= size) size
    else {
      in.seek(pos - 1)
      var at = pos - 1
      var b = in.read()
      while (b >= 0 && b != '\n') { at += 1; b = in.read() }
      if (b < 0) size else at + 1
    }
}

/** Structured table as keyed input (parquet/csv/json/orc):
  * keyCol → valueCol strings. */
final case class TableInputer(
    format: String, path: String, keyCol: String, valueCol: String,
    options: Map[String, String] = Map.empty)
    extends Inputer {
  private def table(spark: SparkSession) =
    spark.read.options(options).format(format).load(path)
  // SCALE NOTE: listKeys collects every key to the driver — it is the
  // reference's ListKeys parity face (inputer.go:11) and is guarded to
  // the same regime as KeyedDirOutputer; anything bigger must consume
  // `toDataset`, which never touches the driver.
  override def listKeys(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val keys = table(spark).select(col(keyCol).cast("string")).as[String]
      .limit(1000001).collect()
    require(keys.length <= 1000000,
      s"TableInputer.listKeys: >1M keys — use toDataset for the distributed path")
    keys.toSeq.sorted
  }
  override def getValue(spark: SparkSession, key: String): String = {
    import spark.implicits._
    table(spark).filter(col(keyCol).cast("string") === key)
      .select(col(valueCol).cast("string")).as[String].head()
  }
  override def toDataset(spark: SparkSession): Dataset[(String, String)] = {
    import spark.implicits._
    table(spark)
      .select(col(keyCol).cast("string").as("_1"), col(valueCol).cast("string").as("_2"))
      .as[(String, String)]
  }
}

object ParquetTableInputer {
  def apply(path: String, keyCol: String, valueCol: String): TableInputer =
    TableInputer("parquet", path, keyCol, valueCol)
}

/** Tab-separated text output, one part file per reduce partition —
  * parity with S3Outputer writing one object per reduced key under a
  * folder (outputer.go:29). */
final case class TextDirOutputer(dir: String) extends Outputer {
  override def write[Out](ds: Dataset[(String, Out)]): Unit = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { case (k, v) => s"$k\t$v" }.write.mode(SaveMode.Overwrite).text(dir)
  }
}

/** Structured (key, value) sink: parquet (columnar-native), csv, or
  * json, optionally partitioned by key prefix columns. */
final case class TableOutputer(
    format: String, dir: String, options: Map[String, String] = Map.empty)
    extends Outputer {
  override def write[Out](ds: Dataset[(String, Out)]): Unit =
    ds.toDF("key", "value").write
      .options(options).format(format).mode(SaveMode.Overwrite).save(dir)
}

object ParquetOutputer {
  def apply(dir: String): TableOutputer = TableOutputer("parquet", dir)
}

/** One object per reduced key — literal parity with S3Outputer, which
  * stores `OutputFolder/<key>` per reduce output
  * (/root/reference/outputer.go:29). On a distributed FS the "object"
  * is the directory `dir/key=<k>/` holding exactly one part file: the
  * dataset is repartitioned by key first, so each key's rows land in
  * one task, and `partitionBy` splits that task's output per key.
  * Hive-style escaping applies to keys with special characters — the
  * documented deviation from raw S3 object names.
  *
  * SCALE GUARD: one directory per key is faithful to the reference
  * but is a filesystem-metadata bomb at crawl-scale key cardinality
  * (a wordcount over 100 TB has billions of keys). The write refuses
  * beyond `maxKeys` (default 10k, the regime where per-key objects
  * still make sense) — route high-cardinality outputs to
  * [[TableOutputer]], which writes ordinary size-based parquet/csv
  * files instead. The check is one cheap distinct count on a column
  * that was about to shuffle anyway. */
final case class KeyedDirOutputer(
    dir: String, format: String = "text", maxKeys: Long = 10000L)
    extends Outputer {
  override def write[Out](ds: Dataset[(String, Out)]): Unit = {
    val df = ds.toDF("key", "value").withColumn("value", col("value").cast("string"))
    val nKeys = df.select(col("key")).distinct().count()
    require(nKeys <= maxKeys,
      s"KeyedDirOutputer: $nKeys distinct keys exceeds maxKeys=$maxKeys — " +
        "one object per key does not scale to this cardinality; use TableOutputer " +
        "(size-based files) or raise maxKeys deliberately")
    df.repartition(col("key"))
      .write.partitionBy("key").mode(SaveMode.Overwrite).format(format).save(dir)
  }
}

/** Chunk-writer parity with SplitFileIntoChunks
  * (/root/reference/s3_utils.go:71): split `path` at line boundaries
  * into ~chunkBytes pieces MATERIALIZED as one object per chunk under
  * `outDir` (the reference pre-chunks corpora so later jobs read
  * chunk-per-task). Chunking and writing are both distributed — the
  * driver never holds a chunk. Returns the number of chunks. */
object ChunkWriter {
  def splitFileIntoChunks(
      spark: SparkSession, path: String, outDir: String, chunkBytes: Long): Long = {
    val chunks = ChunkedTextInputer(path, chunkBytes).toDataset(spark)
    KeyedDirOutputer(outDir).write(chunks)
    spark.read.format("text").load(outDir).select(col("key")).distinct().count()
  }
}
