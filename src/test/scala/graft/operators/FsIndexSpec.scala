package graft.operators

import graft.SparkTestBase
import graft.mr.Fs

class FsIndexSpec extends SparkTestBase {

  test("persisted IVF index round-trips through a file:// corpus URI") {
    // the index build (fingerprint → root, marker gate, parquet
    // writes, centroid read-back) must work when the corpus is
    // addressed by URI — the posture that makes s3a:// corpora
    // untested-but-unbroken: every filesystem touch goes through
    // Hadoop FileSystem or a DataFrame reader/writer, never
    // java.io.File.
    val uri = "file://" + sfDir
    val base = AnnOps.IvfIndex.open(spark, uri).dir
    assert(Fs.exists(base + "/_READY"))
    val cents = AnnOps.IvfIndex.open(spark, uri).cents
    assert(cents.nonEmpty && cents.forall(_._2.nonEmpty))
    // second ensure is a no-op serve from the marker-gated cache
    assert(AnnOps.IvfIndex.open(spark, uri).dir == base)
  }
}
