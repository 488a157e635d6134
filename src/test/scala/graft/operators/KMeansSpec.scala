package graft.operators

import graft.{SparkTestBase, Tables}

/** Evaluation mode of the k-means assignment UDF: its result must be
  * a shape Spark's generated projections compile, so the corpus-scale
  * argmin never falls back to interpreted evaluation. */
class KMeansSpec extends SparkTestBase {

  test("k-means runs under codegen-only evaluation, same rows as the default mode") {
    val mode = "spark.sql.codegen.factoryMode"
    val before = spark.conf.getOption(mode)
    val child = spark.newSession()
    child.conf.set(mode, "CODEGEN_ONLY")
    val rows = KMeansOps.kmeans(child, sfDir).collect().toSeq
    assert(rows.map(_.getLong(1)).sum == Tables.embeddings(spark, sfDir).count())
    assert(rows == KMeansOps.kmeans(spark, sfDir).collect().toSeq)
    assert(spark.conf.getOption(mode) == before, "the caller's session conf changed")
  }
}
