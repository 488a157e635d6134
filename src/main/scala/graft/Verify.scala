package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.mr.JobTracker

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened like Bench: each query runs as one [[mr.JobTracker.run]]
  * job bounded by SPARK_GRAFT_QUERY_TIMEOUT ([[Driver.queryTimeoutMs]])
  * so one pathological query cannot stall the whole dump;
  * oracle_sql.json is written FIRST so a mid-run kill still leaves the
  * oracle set on disk. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query subset]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Driver.session()
    try dump(spark, sfDir, outDir, only) finally spark.stop()
  }

  /** Write oracle_sql.json, verify_meta.json and, under `outDir/<name>`,
    * the result of every registry query in `only` (all when None).
    * Returns the names of the queries it wrote; a query that fails is
    * logged and left out. Publishes `sfDir` as the
    * [[operators.GeometryContext]] and leaves it set. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Seq[String] = {
    // r11 advice (medium): the oracle strings interpolate the STATIC
    // geometry accessors; publish the gate corpus so they resolve
    // through the same n-aware schedule the engine serve paths use —
    // oracle and engine can then never desync on a corpus past the
    // schedule thresholds
    graft.operators.GeometryContext.set(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance sidecar (r7 verdict #7) — a SEPARATE file: the
    // driver iterates oracle_sql.json keys as queries, so provenance
    // must not ride inside it. check.py cross-checks these counts so
    // a stale or subset dump is machine-detected.
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
      s"""{"git_sha":"${Driver.gitSha}","registry_count":${SparkEntry.queries.size},""" +
        s""""oracle_count":${SparkEntry.oracleSql.size},""" +
        s""""geometry":${q(graft.operators.GeometryContext.describe())},""" +
        s""""subset":${only.nonEmpty}}""")

    val tracker = new JobTracker(spark)
    try SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val st = tracker.run(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"), Driver.queryTimeoutMs)
        st.failure.foreach(f => System.err.println(s"[verify] $name failed: $f"))
        if (st.failure.isEmpty) Some(name) else None
      }
    finally tracker.shutdown()
  }
}
