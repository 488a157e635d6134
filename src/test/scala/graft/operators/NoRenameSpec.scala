package graft.operators

import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.mr.{Fs, KeyedDirOutputer}

/** An instrumented local filesystem under its own scheme: every
  * rename is recorded before delegating. Registered as
  * `norename://` so the spec can route real engine write paths
  * through it and ASSERT the S3A discipline Fs.scala documents
  * (rename is copy+delete on object stores; nothing data-path may
  * depend on it). */
class NoRenameRawFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean = {
    NoRenameFileSystem.renames.add(src.toString + " -> " + dst.toString)
    super.rename(src, dst)
  }
}

class NoRenameFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new NoRenameRawFileSystem) {
  override def getScheme: String = "norename"
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean = {
    NoRenameFileSystem.renames.add(src.toString + " -> " + dst.toString)
    super.rename(src, dst)
  }
}

object NoRenameFileSystem {
  val renames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** Turns the Fs.scala S3A assumptions into asserted properties
  * (r5 verdict #10): the engine's own side-channels never rename,
  * and the persisted-index / keyed-dir write paths rename ONLY
  * inside Hadoop's commit protocol (`_temporary` staging) — exactly
  * the piece an S3A committer replaces wholesale — so no DATA path
  * depends on rename anywhere. */
class NoRenameSpec extends SparkTestBase {

  private def withNoRenameFs[T](body: String => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.norename.impl", classOf[NoRenameFileSystem].getName)
    conf.set("fs.norename.impl.disable.cache", "false")
    val root = "norename:///tmp/graft-norename-" + System.nanoTime()
    NoRenameFileSystem.renames.clear()
    body(root)
  }

  private def commitOnly(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    NoRenameFileSystem.renames.asScala.toSeq
      .filterNot(r => r.contains("_temporary") || r.contains(".spark-staging"))
  }

  test("Fs side-channels (touch/exists/len/fingerprint) never rename") {
    withNoRenameFs { root =>
      Fs.touch(root + "/_READY")
      assert(Fs.exists(root + "/_READY"))
      assert(Fs.len(root + "/_READY") == 0L)
      Fs.fingerprint(root)
      assert(NoRenameFileSystem.renames.isEmpty,
        s"side-channel renamed: ${NoRenameFileSystem.renames}")
    }
  }

  test("persisted IVF index build: renames confined to the commit protocol") {
    withNoRenameFs { root =>
      Fs.overrideIndexRoot = Some(root)
      try {
        val base = AnnOps.IvfIndex.open(spark, sfDir).dir
        assert(base.startsWith(root), s"index not routed: $base")
        assert(Fs.exists(base + "/_READY"))
        // parquet data + marker written; every recorded rename is a
        // FileOutputCommitter _temporary promotion — the component an
        // S3A committer replaces — and nothing else
        assert(NoRenameFileSystem.renames.size() > 0,
          "expected the default committer's staging renames on file-backed runs")
        assert(commitOnly().isEmpty,
          s"data-path rename outside the commit protocol: ${commitOnly()}")
        // marker-gated reuse performs NO further writes or renames
        NoRenameFileSystem.renames.clear()
        AnnOps.IvfIndex.open(spark, sfDir)
        assert(NoRenameFileSystem.renames.isEmpty)
      } finally Fs.overrideIndexRoot = None
    }
  }

  test("KeyedDirOutputer: renames confined to the commit protocol") {
    withNoRenameFs { root =>
      import spark.implicits._
      KeyedDirOutputer(root + "/keyed").write(
        Seq(("a", 1), ("b", 2), ("a", 3)).toDS())
      assert(commitOnly().isEmpty,
        s"data-path rename outside the commit protocol: ${commitOnly()}")
      val back = spark.read.format("text").load(root + "/keyed")
      assert(back.count() == 3)
    }
  }
}
