package graft.operators

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** The trained quantizer of a corpus ([[AnnOps.Quantizer]]): committed
  * through IndexStore under the corpus fingerprint, opened once per
  * session, and the only source of centroids and PQ codebooks for the
  * IVF and PQ serve paths. */
class QuantizerSpec extends SparkTestBase {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-quantizer").toString
    graft.mr.Fs.overrideIndexRoot = Some(d)
    d
  }

  /** The first-stage names of the Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.headOption.map(_.name).getOrElse(s"job ${e.jobId}"))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(counter)
    jobs.toArray(Array.empty[String]).toSeq
  }

  test("a warm IVF-family request builds its DataFrame without running a Spark job") {
    freshRoot()
    try {
      Seq("ann_ivf_topk" -> AnnOps.annIvfTopk,
        "ann_ivfpq_residual_topk" -> AnnOps.annIvfPqResidualTopk).foreach { case (name, q) =>
        q(spark, sfDir) // cold: trains and commits the quantizer
        val jobs = jobsDuring(q(spark, sfDir))
        assert(jobs.isEmpty, s"warm $name ran Spark jobs building its DataFrame: $jobs")
      }
    } finally graft.mr.Fs.overrideIndexRoot = None
  }

  test("quantizers follow the corpus fingerprint") {
    freshRoot()
    try {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-quantizer-corpus").toString
      val fresh = Files.createTempDirectory("graft-quantizer-fresh").toString
      Tables.embeddings(spark, sfDir).write.parquet(s"$dir/embeddings.parquet")
      // a second corpus with another geometry: per-dimension scaling
      // moves the centroids, the codebooks and the cosine ranking
      Tables.embeddings(spark, sfDir)
        .select($"vec_id",
          transform($"embedding", (x, i) => (x * (i % 5 + 1)).cast("float")).as("embedding"),
          $"label")
        .write.parquet(s"$fresh/embeddings.parquet")
      def run(d: String) = Seq(AnnOps.embPqDistortion, AnnOps.annIvfTopk)
        .map(q => q(spark, d).collect().toSeq)
      val first = run(dir)
      // the corpus is rewritten in place, as a regenerated corpus is
      spark.read.parquet(s"$fresh/embeddings.parquet")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val second = run(dir)
      assert(second == run(fresh), "a rewritten corpus was served the old quantizer")
      assert(second(0) != first(0) && second(1) != first(1),
        "the second corpus must train another quantizer")
      // a new session loads the committed quantizer from disk: the
      // same attempt, no second build
      val attempt = IndexStore.committed(AnnOps.Quantizer.Name, AnnOps.Quantizer.key(dir))
      assert(attempt.isDefined)
      val q = AnnOps.Quantizer.open(spark, dir)
      val reloaded = AnnOps.Quantizer.open(spark.newSession(), dir)
      assert(IndexStore.committed(AnnOps.Quantizer.Name, AnnOps.Quantizer.key(dir)) == attempt)
      assert(new java.io.File(attempt.get).getParentFile.list().count(_.startsWith("a-")) == 1,
        "the new session retrained the quantizer")
      def nested(cb: AnnOps.Codebook) = cb.map(_.map(_.toSeq).toSeq).toSeq
      assert(reloaded.cents == q.cents)
      assert(nested(reloaded.pq) == nested(q.pq))
      assert(nested(reloaded.pqResidual) == nested(q.pqResidual))
    } finally graft.mr.Fs.overrideIndexRoot = None
  }
}
