package graft.operators

import org.apache.spark.sql.functions.transform

import graft.SparkTestBase

/** The reliable-checkpoint escape hatch (r6 verdict #4): with a
  * durable dir configured, build-path lineage cuts go through
  * `checkpoint(eager)` — re-readable after executor loss — and the
  * suffix machinery still produces identical results. */
class CheckpointsSpec extends SparkTestBase {

  test("default path is a localCheckpoint (no checkpoint dir touched)") {
    import spark.implicits._
    assert(Checkpoints.reliableDir.isEmpty)
    val cut = Checkpoints.cut(Seq(1, 2, 3).toDS())
    assert(cut.collect().sorted.toSeq == Seq(1, 2, 3))
    assert(cut.queryExecution.analyzed.toString.contains("LogicalRDD"))
  }

  test("reliable dir: cut() writes RELIABLE checkpoint blocks, results identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt").toString
    Checkpoints.overrideDir = Some("file://" + dir)
    try {
      val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      val cut = Checkpoints.cut(base)
      assert(cut.as[(Long, String)].collect().sortBy(_._1).toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // blocks actually landed in the durable dir
      def anyFile(d: java.io.File): Boolean = {
        val cs = Option(d.listFiles()).getOrElse(Array.empty)
        cs.exists(f => f.isFile && f.getName.startsWith("part-")) || cs.exists(anyFile)
      }
      assert(anyFile(new java.io.File(dir)), s"no checkpoint blocks under $dir")
    } finally Checkpoints.overrideDir = None
  }

  test("bare (schemeless) dir: repeated cuts reuse ONE checkpoint dir (r8 advice)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bare-ckpt").toString
    Checkpoints.overrideDir = Some(dir) // no file:// — the qualified-compare case
    try {
      Checkpoints.cut(Seq(1, 2).toDS()).collect()
      val after1 = spark.sparkContext.getCheckpointDir
      Checkpoints.cut(Seq(3, 4).toDS()).collect()
      val after2 = spark.sparkContext.getCheckpointDir
      assert(after1.isDefined && after1 == after2,
        s"cut() re-set the checkpoint dir on a matching root: $after1 -> $after2")
      // exactly one UUID subdir scattered, not one per cut
      val subdirs = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty).count(_.isDirectory)
      assert(subdirs == 1, s"expected 1 checkpoint subdir under $dir, saw $subdirs")
    } finally Checkpoints.overrideDir = None
  }

  test("suffix build runs end-to-end under the reliable policy, hashes unchanged") {
    val local = SuffixOps.qDedupExactSubstr(spark, sfDir).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-sfx").toString
    Checkpoints.overrideDir = Some("file://" + dir)
    try {
      // fresh session so the suffix memo cannot serve the local-policy build
      val s2 = spark.newSession()
      val reliable = SuffixOps.qDedupExactSubstr(s2, sfDir).collect().toSeq
      assert(reliable == local,
        "reliable-checkpoint build diverged from the localCheckpoint build")
    } finally Checkpoints.overrideDir = None
  }

  test("a corpus file swapped under a served path is read afresh by a new session") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-swap-corpus")
    val fresh = java.nio.file.Files.createTempDirectory("graft-swap-fresh")
    val emb = dir.resolve("embeddings.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "embeddings.parquet"), emb)
    // the second corpus: per-dimension scaling moves the signatures
    // and the cosine ranking
    graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        transform($"embedding", (x, i) => (x * (i % 5 + 1)).cast("float")).as("embedding"),
        $"label")
      .coalesce(1).write.parquet(fresh.resolve("embeddings.parquet").toString)
    val part = java.nio.file.Files.list(fresh.resolve("embeddings.parquet")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    def rows(s: org.apache.spark.sql.SparkSession, d: java.nio.file.Path) =
      AnnOps.annBqTopk(s, d.toString).collect().toSeq.map(_.toString).sorted
    val first = rows(spark, dir)
    // a regenerated corpus arrives: the file is replaced outside
    // Spark's writer, so nothing in Spark hears of it
    val staged = dir.resolve("embeddings.parquet.next")
    java.nio.file.Files.copy(part, staged)
    java.nio.file.Files.move(staged, emb, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val second = rows(spark.newSession(), dir)
    assert(second == rows(spark, fresh), "the swapped corpus was served the first corpus' rows")
    assert(second != first, "the second corpus must rank differently")
  }
}
