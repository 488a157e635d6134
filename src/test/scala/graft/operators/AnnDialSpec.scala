package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The ANN harness's probe-set size and serve-k are read through
  * one accessor each (`AnnOps.NumProbes` / `AnnOps.K`, test-visible
  * overrides here) — setting an override widens every serve path
  * and panel together without a code edit. */
class AnnDialSpec extends SparkTestBase {

  test("probe-set and k dials widen every serve path together; defaults restore hashes") {
    import spark.implicits._
    def shape(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val rows = df.select($"pid", $"rnk").as[(Long, Long)].collect()
      (rows.map(_._1).distinct.length.toLong, rows.map(_._2).max)
    }
    val defaultOut = AnnOps.annBruteforceTopk(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(shape(AnnOps.annBruteforceTopk(spark, sfDir)) == ((10L, 5L)))

    AnnOps.overrideNumProbes = Some(3)
    AnnOps.overrideK = Some(2)
    try {
      assert(shape(AnnOps.annBruteforceTopk(spark, sfDir)) == ((3L, 2L)))
      assert(shape(AnnOps.annLshTopk(spark, sfDir))._1 == 3L)
      // the graph serve reads the same dials
      assert(shape(HnswOps.annHnswTopk(spark, sfDir)) == ((3L, 2L)))
    } finally {
      AnnOps.overrideNumProbes = None
      AnnOps.overrideK = None
    }
    // defaults restored → byte-identical result (the hash-gate
    // stability claim under default dials)
    val restored = AnnOps.annBruteforceTopk(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(restored == defaultOut)
  }

  test("dedup_semantic: salt blocks are result-invariant; k-means k dials cluster count") {
    import spark.implicits._
    def run(): Seq[(Long, Long, Long, Long, Double)] =
      DedupOps.dedupSemantic(spark, sfDir)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val base = run()
    assert(base.nonEmpty)
    // the (cluster, block_a, block_b) join key partitions the pair
    // space without changing it — every block count reproduces the
    // default's bytes (nb=1 IS the unsalted join)
    for (nb <- Seq(1, 3, 7)) {
      DedupOps.overrideSemBlocks = Some(nb)
      try assert(run() == base, s"salt blocks nb=$nb changed the result")
      finally DedupOps.overrideSemBlocks = None
    }
    // k dials the clustering itself: a 4-cell model buckets pairs
    // into ≤ 4 clusters (and emb_kmeans reports exactly 4 rows)
    KMeansOps.overrideK = Some(4)
    try {
      val dialed = run()
      assert(dialed.map(_._1).distinct.sorted == Seq(0L, 1L, 2L, 3L))
      assert(KMeansOps.embKmeans(spark, sfDir).count() == 4L)
    } finally KMeansOps.overrideK = None
    // defaults restored → byte-identical (hash-gate stability)
    assert(run() == base)
  }
}
