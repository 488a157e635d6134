package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._

/** SURVEY §2.H: partitioned writes + partition pruning on read. */
class SourcesSpec extends SparkTestBase {

  test("driver contract: entry() flagship returns rows; every query has unique columns") {
    assert(SparkEntry.entry(spark).count() > 0)
    // oracle compare sorts columns by name — duplicate names would
    // silently corrupt it
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, sfDir).columns.toSeq
      assert(cols.distinct == cols, s"$name has duplicate columns: $cols")
    }
    // every oracle key must have a query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("partitionBy write → partition-pruned read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-part").toString + "/docs"
    Tables.documents(spark, sfDir)
      .write.partitionBy("lang").parquet(dir)

    // directory layout is hive-style
    val langDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(langDirs.count(_.startsWith("lang=")) >= 4)

    val back = spark.read.parquet(dir)
    assert(back.count() == Tables.documents(spark, sfDir).count())

    // a lang filter must prune partitions, not scan-and-filter
    val pruned = back.where($"lang" === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filter in scan:\n${scan.take(800)}")
    assert(pruned.count() ==
      Tables.documents(spark, sfDir).where($"lang" === "en").count())
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // the catalog is per-JVM but the warehouse dir persists: clear
    // leftover locations from previous runs
    for (t <- Seq("li_bucketed", "ord_bucketed")) {
      val d = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (d.exists()) {
        d.listFiles().foreach(_.delete())
        d.delete()
      }
    }
    Tables.lineitem(spark, sfDir)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, sfDir)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not shuffle either side: the only
      // exchange allowed is the one feeding the final aggregation
      val joinPart = plan.split("HashAggregate").last
      assert(!joinPart.contains("Exchange"),
        s"bucketed join should be exchange-free:\n${plan.take(1200)}")
      assert(joined.agg(sum($"n")).head().getLong(0) ==
        Tables.lineitem(spark, sfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("orc round-trips with schema and pushdown") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-orc").toString + "/li"
    val li = Tables.lineitem(spark, sfDir)
    li.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == li.count())
    val filtered = back.where($"l_quantity" < 10).select($"l_orderkey")
    assert(filtered.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(filtered.count() == li.where($"l_quantity" < 10).count())
  }

  test("csv and json round-trip a full table with schema") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).orderBy($"doc_id")
    for (fmt <- Seq("csv", "json")) {
      val dir = Files.createTempDirectory(s"graft-rt-$fmt").toString + "/t"
      docs.write.format(fmt).option("header", "true").save(dir)
      val back = spark.read.format(fmt)
        .option("header", "true").schema(docs.schema).load(dir)
      assert(back.count() == docs.count())
      val a = docs.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
      val b = back.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
      assert(a == b)
    }
  }

  test("corrupt-record handling: permissive quarantine, dropmalformed, failfast") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // a landing dir where 2 of 6 JSON lines are malformed — the
    // normal state of a crawl drop; the pipeline must quarantine,
    // not crash and not silently drop
    val dir = Files.createTempDirectory("graft-corrupt").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/part-0.json"),
      """{"doc_id": 1, "text": "good one"}
        |{"doc_id": 2 "text": "missing comma"}
        |{"doc_id": 3, "text": "also fine"}
        |not json at all
        |{"doc_id": 4, "text": "ok"}
        |{"doc_id": 5, "text": "fine too"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    val bad = permissive.where($"_corrupt_record".isNotNull)
    val good = permissive.where($"_corrupt_record".isNull)
    assert(permissive.count() == 6)
    assert(bad.count() == 2, "quarantine must catch exactly the 2 malformed lines")
    assert(good.select($"doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L))
    val dropped = spark.read
      .schema(StructType(schema.fields.filterNot(_.name.startsWith("_"))))
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() == 4)
    val failfast = intercept[org.apache.spark.SparkException] {
      spark.read
        .schema(StructType(schema.fields.filterNot(_.name.startsWith("_"))))
        .option("mode", "FAILFAST").json(dir).count()
    }
    assert(failfast.getMessage.toLowerCase.contains("malformed")
      || Option(failfast.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }

  test("src_object_store pays the committer's rename tax through objstore:// and round-trips") {
    import spark.implicits._
    graft.mr.ObjectStore.clear()
    val before = graft.mr.ObjectStore.renamedObjects.get()
    val out = operators.SourceSinkOps.srcObjectStore(spark, sfDir)
    val got = out.as[(String, Long, Double, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    val exp = Tables.orders(spark, sfDir).groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == exp)
    // the v1 FileOutputCommitter renames task temp files into place —
    // on an object store that is copy+delete per object; the meter
    // proves the write path really went through object semantics
    assert(graft.mr.ObjectStore.renamedObjects.get() > before,
      "parquet commit should have renamed task files through the object store")
    // and the data must live as flat keys, not directories
    assert(graft.mr.ObjectStore.objects.keySet().stream()
      .anyMatch(k => k.contains("/orders/") && k.endsWith(".parquet")))
  }

  test("src_* rows write under a directory this JVM created, not a host-wide one") {
    operators.SourceSinkOps.srcCsvRoundtrip(spark, sfDir).collect()
    val out = Paths.get(operators.SourceSinkOps.ioDir(sfDir, "lineitem_csv"))
    assert(Files.isDirectory(out), s"$out was not written")
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    // the per-scale-factor dir that every JVM on the host used to share
    val shared = tmp.resolve("graft-io-" + graft.mr.Fs.pathKey(sfDir))
    assert(!out.startsWith(shared), s"$out is under the shared $shared")
    // out is <root>/graft-io-<sf>/<leaf>, and the root is this JVM's own
    val root = out.getParent.getParent
    assert(root != tmp, s"$root is the host-wide temp dir")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    assert(Files.getAttribute(root, "creationTime").asInstanceOf[FileTime].toMillis >= jvmStart,
      s"$root predates this JVM")
  }

  test("src_sequencefile round-trips every row through mixed-codec containers") {
    import org.apache.hadoop.io.{LongWritable, Text}
    import spark.implicits._
    // running the query writes the containers (even keys plain, odd
    // keys deflate) and returns the rollup — then re-read at ROW
    // grain and prove the full key→payload set survived losslessly
    operators.SourceSinkOps.srcSequenceFile(spark, sfDir).collect()
    val plain = operators.SourceSinkOps.ioDir(sfDir, "orders_seq_plain")
    val deflate = operators.SourceSinkOps.ioDir(sfDir, "orders_seq_defl")
    val back = spark.sparkContext
      .sequenceFile(s"$plain,$deflate",
        classOf[LongWritable], classOf[Text])
      .map { case (k, v) => (k.get, v.toString) }
      .collect().toMap
    val exp = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM-dd"))
      .as[(Long, String, Double, String)].collect()
      .map { case (k, st, tp, od) => k -> (st + "|" + tp + "|" + od) }
      .toMap
    assert(back == exp, s"row sets differ: ${back.size} vs ${exp.size}")
    // the codec split is real: both dirs hold part files, and the
    // deflate side's headers name the codec
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def parts(d: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(d))
      .filter(_.getPath.getName.startsWith("part-")).map(_.getPath)
    assert(parts(plain).nonEmpty)
    val defl = parts(deflate)
    assert(defl.nonEmpty)
    val head = new Array[Byte](256)
    val in = fs.open(defl.head)
    try in.readFully(0, head) finally in.close()
    assert(new String(head, "ISO-8859-1").contains("DeflateCodec"),
      "compressed container header should name its codec")
  }
}
