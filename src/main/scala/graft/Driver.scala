package graft

import org.apache.spark.sql.SparkSession

/** What every driver main shares: the one session builder, and the
  * two settings read once here — `SPARK_GRAFT_CPUS` (local cores and
  * shuffle width; default: this machine's cores) and
  * `SPARK_GRAFT_QUERY_TIMEOUT` (seconds before a Verify or Bench row
  * is cancelled; default 120). */
object Driver {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  val queryTimeoutMs: Long =
    sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "120").toLong * 1000L

  /** A local session with `cpus` cores. Unreliable mode
    * (`GRAFT_CHAOS` > 0, [[mr.Chaos]]) gets 4 task attempts; a clean
    * run keeps fail-fast, so a real bug cannot retry invisibly. A
    * NANOS parquet timestamp loads as Long ([[Tables.normalizeTs]]).
    * Registry code changes no setting of the session it is handed. */
  def session(cpus: Int = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(if (mr.Chaos.rate > 0) s"local[$cpus, 4]" else s"local[$cpus]")
      .config("spark.plugins", "graft.mr.ChaosPlugin")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Provenance stamp for run artifacts: the checkout's HEAD commit,
    * or "unknown" outside a git checkout. */
  lazy val gitSha: String = try {
    val p = Runtime.getRuntime.exec(Array("git", "rev-parse", "HEAD"))
    val sha = new String(p.getInputStream.readAllBytes()).trim
    p.waitFor()
    if (sha.matches("[0-9a-f]{40}")) sha else "unknown"
  } catch { case _: Throwable => "unknown" }
}
