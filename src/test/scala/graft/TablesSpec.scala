package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType

class TablesSpec extends SparkTestBase {

  test("each fixed table schema equals the schema Spark infers, at sf0.001 and sf0.01") {
    assert(Tables.schemas.keySet == Tables.all.toSet - "events")
    for (dir <- Seq(sfDir, sfDir.replace("sf0.001", "sf0.01")); (name, ddl) <- Tables.schemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(StructType.fromDDL(ddl) == inferred, s"$name at $dir")
    }
  }

  test("building a lazy TPC-H row's DataFrame starts no Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.headOption.map(_.name).getOrElse(s"job ${e.jobId}"))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try {
      Seq("q1_pricing_summary", "q5_local_supplier").foreach(SparkEntry.queries(_)(spark, sfDir))
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(counter)
    assert(jobs.isEmpty, s"jobs started while building: $jobs")
  }
}
