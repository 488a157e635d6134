package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazily-created local session shared by all suites in the JVM. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = {
    // local[4, 2]: 2 task attempts, so specs can inject a first-attempt
    // task failure and prove the engine retries it (the reference's
    // ping/reassign behavior, mapreduce.go:347)
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      // unreliable-mode hook (inert at rate 0): ChaosSpec dials
      // graft.mr.Chaos.rate to inject per-task failures across every
      // stage; plugins only load at context creation, so the hook
      // must ride the shared session
      .config("spark.plugins", "graft.mr.ChaosPlugin")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // as graft.Driver.session: parquet TIMESTAMP(NANOS) loads as Long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
