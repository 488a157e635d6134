package graft

/** The PlanAudit check table under the suite: every named plan
  * property, and the no-unpartitioned-window sweep over the whole
  * registry, holds on the shared session at sf0.001. */
class PlanAuditSpec extends SparkTestBase {

  test("PlanAudit.run reports no failed plan check") {
    val buf = new java.io.ByteArrayOutputStream()
    val failures = Console.withOut(buf)(PlanAudit.run(spark, sfDir))
    // each FAIL line, prefixed with its query's "== name" header
    var query = ""
    val failed = buf.toString("UTF-8").linesIterator.flatMap { l =>
      if (l.startsWith("== ")) { query = l.stripPrefix("== "); None }
      else if (l.trim.startsWith("FAIL")) Some(s"$query: ${l.trim}")
      else None
    }.toList
    assert(failures == 0, failed.mkString("\n"))
  }
}
