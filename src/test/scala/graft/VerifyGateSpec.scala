package graft

import java.nio.file.Files

import scala.sys.process._

import org.apache.spark.sql.CachedPlans

import graft.operators.GeometryContext

/** The DuckDB correctness gate under the suite: `Verify.dump` writes
  * every registry row at sf0.001 on a fresh child of the shared
  * session, and `tools/check.py` compares each against its oracle
  * SQL. The dump leaves no entry in the context's CacheManager, which
  * every session shares and nothing in the program empties, and
  * leaves the conf and temp views of its session as it found them
  * (fresh, so no view an earlier spec made can hide one the dump makes). */
class VerifyGateSpec extends SparkTestBase {

  test("every registry row matches its DuckDB oracle at sf0.001") {
    val out = Files.createTempDirectory("graft-verify-gate")
    try {
      // counted, not isEmpty: earlier specs may leave cached plans
      val cachedBefore = CachedPlans(spark)
      val s = spark.newSession()
      val confBefore = s.conf.getAll
      def tempViews = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
      val viewsBefore = tempViews
      val dumped = Verify.dump(s, sfDir, out.toString, None)
      assert(CachedPlans(spark) == cachedBefore,
        s"Verify.dump added ${CachedPlans(spark) - cachedBefore} CacheManager entries")
      assert(s.conf.getAll == confBefore,
        s"Verify.dump changed conf: ${(s.conf.getAll.toSet diff confBefore.toSet).toSeq.sorted}")
      assert(tempViews == viewsBefore, s"Verify.dump changed temp views: $viewsBefore → $tempViews")
      val log = new StringBuilder
      val exit = Seq("python3", "tools/check.py", sfDir, out.toString) !
        ProcessLogger(l => log ++= l + "\n", l => log ++= l + "\n")
      val lines = log.toString.linesIterator.toSeq
      val fails = lines.filter(_.startsWith("FAIL"))
      assert(fails.isEmpty, fails.mkString("\n"))
      assert(dumped.size == SparkEntry.queries.size,
        s"rows that failed to dump: ${(SparkEntry.queries.keySet -- dumped).toSeq.sorted}")
      val passed = lines.collectFirst { case l if l.startsWith("PASS ") =>
        l.stripPrefix("PASS ").takeWhile(_ != ':').toInt }
      assert(passed.contains(dumped.size) && exit == 0,
        s"check.py passed $passed of ${dumped.size} dumped rows (exit $exit):\n${lines.takeRight(5).mkString("\n")}")
    } finally {
      GeometryContext.clear()
      val (fs, p) = graft.mr.Fs.resolve(out.toString)
      fs.delete(p, true)
    }
  }
}
