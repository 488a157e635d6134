package graft.operators

import graft.mr.{Fs, KeyedDirOutputer, ObjectStore, ObjectStoreFileSystem}

import graft.SparkTestBase

/** The engine's storage paths on a SECOND scheme with real
  * object-store semantics ([[ObjectStoreFileSystem]]): flat keys,
  * atomic PUT-on-close, rename = copy+delete, no directories. Every
  * byte lives in the JVM map — a code path that falls back to
  * `java.io.File` on the path string fails loudly here, which is the
  * bug class running on a second scheme exists to catch (r6 "what's
  * missing #1"; the FsSpec round-trip suite, off the local FS).
  */
class ObjectStoreSpec extends SparkTestBase {

  private def withStore[T](body: String => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.objstore.impl", classOf[ObjectStoreFileSystem].getName)
    ObjectStore.clear()
    body("objstore:///bucket")
  }

  test("Fs round-trip suite on objstore://: touch/exists/len/fingerprint") {
    withStore { root =>
      assert(!Fs.exists(root + "/_READY"))
      Fs.touch(root + "/_READY")
      assert(Fs.exists(root + "/_READY"))
      assert(Fs.len(root + "/_READY") == 0L)
      assert(Fs.len(root + "/absent") == 0L)
      // write a real object through the scheme and size it
      val (fs, p) = Fs.resolve(root + "/data.bin")
      val out = fs.create(p, true)
      out.write(Array[Byte](1, 2, 3)); out.close()
      assert(Fs.len(root + "/data.bin") == 3L)
      val fp = Fs.fingerprint(root)
      assert(fp.contains("_READY:0:") && fp.contains("data.bin:3:"), fp)
      assert(Fs.fingerprint(root + "/data.bin").startsWith("data.bin:3:"))
      // side-channels MUST not rename on an object store
      assert(ObjectStore.renamedObjects.get() == 0L,
        "Fs side-channel paid the copy+delete rename tax")
    }
  }

  test("atomic PUT: an open stream's bytes are invisible until close") {
    withStore { root =>
      val (fs, p) = Fs.resolve(root + "/slow.obj")
      val out = fs.create(p, true)
      out.write("partial".getBytes)
      assert(!Fs.exists(root + "/slow.obj"),
        "reader observed a partial write — S3 PUT semantics violated")
      out.close()
      assert(Fs.exists(root + "/slow.obj") && Fs.len(root + "/slow.obj") == 7L)
    }
  }

  test("parquet round-trips through objstore:// (committer included)") {
    withStore { root =>
      import spark.implicits._
      val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      df.write.mode("overwrite").parquet(root + "/t.parquet")
      val back = spark.read.parquet(root + "/t.parquet")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(back.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // the default committer promotes staged files by rename — on this
      // store that is the per-object copy+delete tax; visible + bounded
      // by the file count is the honest posture (an S3A committer
      // removes it wholesale; nothing in the ENGINE depends on it)
      assert(ObjectStore.renamedObjects.get() > 0L)
    }
  }

  test("persisted IVF index builds, gates on _READY, and re-serves on objstore://") {
    withStore { root =>
      Fs.overrideIndexRoot = Some(root)
      try {
        val base = AnnOps.IvfIndex.open(spark, sfDir).dir
        assert(base.startsWith(root), s"index not routed through the store: $base")
        assert(Fs.exists(base + "/_READY"))
        val cent = spark.read.parquet(base + "/cent")
        val vecs = spark.read.parquet(base + "/vecs")
        assert(cent.count() > 0 && vecs.count() > 0)
        // marker-gated reuse: second ensure performs no further writes
        val before = ObjectStore.objects.size()
        assert(AnnOps.IvfIndex.open(spark, sfDir).dir == base)
        assert(ObjectStore.objects.size() == before,
          "reuse path wrote objects despite the _READY marker")
      } finally Fs.overrideIndexRoot = None
    }
  }

  test("streaming file sink on objstore://: exactly-once across a restart") {
    withStore { root =>
      import spark.implicits._
      val landing = java.nio.file.Files.createTempDirectory("objs-landing").toString
      val ckpt = root + "/ckpt"
      val out = root + "/stream-out"
      def sink() = spark.readStream
        .schema("event_type STRING, user_id LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
      val ev = graft.Tables.events(spark, sfDir)
        .select($"event_type", $"user_id")
      ev.where($"user_id" % 2 === 0).coalesce(1).write.mode("append").parquet(landing)
      val q1 = sink()
      try q1.processAllAvailable() finally q1.stop()
      val afterWave1 = spark.read.parquet(out).count()
      assert(afterWave1 == ev.where($"user_id" % 2 === 0).count())
      // second wave through a RESTARTED query: the checkpoint (also on
      // the object store) must prevent re-emission of wave 1
      ev.where($"user_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(landing)
      val q2 = sink()
      try q2.processAllAvailable() finally q2.stop()
      assert(spark.read.parquet(out).count() == ev.count(),
        "restart re-emitted or dropped rows — exactly-once broken on the object store")
    }
  }

  test("KeyedDirOutputer round-trips on objstore://") {
    withStore { root =>
      import spark.implicits._
      KeyedDirOutputer(root + "/keyed").write(
        Seq(("a", 1), ("b", 2), ("a", 3)).toDS())
      val back = spark.read.format("text").load(root + "/keyed")
      assert(back.count() == 3)
    }
  }
}
