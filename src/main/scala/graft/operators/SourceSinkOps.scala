package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.Cols.{rnd, xsum}

/** Driver-gated sources & sinks (SURVEY §2.H): each query WRITES a
  * table through a real sink (csv / json lines / partitioned parquet /
  * text dir / the in-JVM `objstore://` object store), READS it back
  * through the matching source, and aggregates — the DuckDB oracle
  * runs the same aggregate over the ORIGINAL parquet, so a hash pass
  * proves the round-trip was lossless end-to-end (schema, encoding,
  * nullability, partition values). This is the §2.H twin of the
  * reference's Inputer/Outputer surface (inputer.go:11,
  * outputer.go:10 — S3 text objects in/out), re-expressed as Spark
  * sources/sinks with columnar formats and partition layout.
  *
  * Round-trip exactness is load-bearing and chosen per format:
  * doubles survive csv/json because Spark writes shortest-round-trip
  * decimal strings (Java `Double.toString`) and parses them back to
  * the identical bits; timestamps ride only through parquet (csv/json
  * rows here carry none — text timestamp formats are the classic
  * silent-corruption path); partition-column values ride the
  * DIRECTORY NAME, exercising write-side escaping and read-side
  * coercion.
  *
  * Scale posture: writes shard per-partition (no driver collect
  * anywhere); reads are the vectorized sources with pushdown —
  * `src_partitioned_sink` must show `PartitionFilters` (pruning at
  * the manifest, the 100 TB table-layout contract) and the csv read
  * pushes its filter into the scan. Temp dirs are per SparkContext and
  * per sfDir ([[ioDir]]) and rewritten (`overwrite`) each run, so only
  * two concurrent runs of one row in one JVM can collide.
  */
object SourceSinkOps {
  import graft.SparkEntry.QueryFn

  // under Spark's driver temp dir: one per SparkContext, so no other
  // JVM writes there, and deleted only when the context stops, after
  // the returned frames (which read these files lazily) are done
  private[graft] def ioDir(sfDir: String, leaf: String): String =
    java.nio.file.Paths.get(org.apache.spark.SparkFiles.getRootDirectory(),
      "graft-io-" + graft.mr.Fs.pathKey(sfDir), leaf).toString

  /** lineitem → headered CSV → schema'd read (filter pushed to the
    * scan) → pricing rollup. The quantity filter evaluates on csv-
    * parsed doubles, so a single mis-parsed row moves group counts. */
  val srcCsvRoundtrip: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "lineitem_csv")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice",
        $"l_discount", $"l_returnflag", $"l_linestatus")
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType)))
    s.read.schema(schema).option("header", "true").csv(out)
      .where($"l_quantity" < 25.0)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"),
        xsum($"l_quantity").as("sum_qty"),
        rnd(xsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("disc_price"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** orders → JSON lines → schema'd read → status × priority rollup
    * (JSON field order and number formatting must round-trip). */
  val srcJsonRoundtrip: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "orders_json")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice", $"o_orderpriority")
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderpriority", StringType)))
    s.read.schema(schema).json(out)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        rnd(xsum($"o_totalprice"), 2).as("total"),
        count_distinct($"o_custkey").as("n_cust"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  /** orders → hive-partitioned parquet (partitionBy status) → read
    * with a partition predicate → monthly rollup of ONE partition.
    * The 100 TB point: the status filter prunes at the directory
    * manifest (`PartitionFilters` in the plan) — two of three
    * partitions are never opened. Timestamps round-trip columnar. */
  val srcPartitionedSink: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "orders_bystatus")
    Tables.orders(s, dir)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .where($"o_orderstatus" === "F")
      .groupBy(date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), rnd(xsum($"o_totalprice"), 2).as("total"))
      .orderBy($"month")
  }

  /** documents → raw text-dir sink → line source → wordcount. Doc
    * text embeds newlines, so the read sees MORE records than docs —
    * whitespace tokenization makes the token multiset invariant
    * under line re-splitting, which is exactly what the hash proves.
    * This is the reference's native modality (text objects in an
    * S3 prefix, inputer.go:11) as a Spark source/sink pair. */
  val srcTextDir: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "documents_text")
    Tables.documents(s, dir).select($"text")
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .select(explode(split($"value", "\\s+")).as("word"))
      .where($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"word")
  }

  /** Compressed-text ingestion across codecs — the SPLITTABILITY
    * lever of 100 TB text ingestion made a gated fact: the same
    * corpus is written as `.txt.gz` (gzip: NOT splittable — one
    * whole-file task per object, which is why crawl dumps ship as
    * many ~1 GB members rather than one archive) and as `.txt.bz2`
    * (bzip2: block-splittable — Spark fans one file out to many
    * tasks), then both are read back through the codec-sniffing
    * text source and rolled up PER CODEC. The hash proves
    * byte-identity of the decompressed streams: both codecs must
    * yield the same line count, token mass, and distinct-token
    * count as the original documents table — a codec that drops a
    * trailing unterminated line, mis-handles an empty line, or
    * splits a bzip2 block mid-record moves a value. Line accounting
    * is exact: each doc contributes nl(text)+1 read lines (the
    * writer terminates records; embedded newlines re-split — the
    * src_text_dir invariance, now plus empty lines which the text
    * source KEEPS and csv would drop).
    *
    * Scale shape: map-only decode; the rollup shuffles token
    * volume; codec choice changes PARALLELISM, never results. */
  val srcCompressedText: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"text")
    val codecs = Seq("gzip", "bzip2")
    val reads = codecs.map { codec =>
      val out = ioDir(dir, s"docs_txt_$codec")
      docs.write.mode("overwrite").option("compression", codec).text(out)
      s.read.text(out).select(lit(codec).as("codec"), $"value")
    }
    reads.reduce(_ unionAll _)
      .groupBy($"codec")
      .agg(count(lit(1)).as("n_lines"),
        sum(size(filter(split($"value", "\\s+"), w => w =!= ""))
          .cast("long")).as("n_tokens"),
        count_distinct(when($"value" =!= "",
          substring($"value", 1, 16))).as("n_prefixes"))
      .orderBy($"codec")
  }

  /** FIXED-WIDTH records — the mainframe/COBOL copybook feed that
    * still backs a surprising share of enterprise data lakes, with
    * the two format-native traps load-bearing: IMPLIED DECIMALS
    * (PIC 9(n)V99 — quantity and price ride as zero-padded cent
    * integers; a reader unaware of the V99 is off by 100×) and
    * OFFSET-SCHEMA parsing (every field a substring at a fixed
    * column; one wrong width shears every later field — the date
    * filter sits at the record's END so any upstream width slip
    * lands on the hash). Values stay integer-cents end-to-end, so
    * the rollup is EXACT against the original parquet with no
    * rounding at all.
    *
    * Scale shape: format and parse are map-only string ops at scan
    * speed; one partial+final agg. Fixed-width text is splittable
    * (newline-framed), unlike the gzip members it usually arrives
    * wrapped in — see src_compressed_text. */
  val srcFixedWidth: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "lineitem_fixed")
    Tables.lineitem(s, dir).select(
      concat(
        lpad($"l_orderkey".cast("string"), 12, "0"),
        lpad($"l_partkey".cast("string"), 10, "0"),
        lpad(($"l_quantity".cast("decimal(12,2)") * 100).cast("long")
          .cast("string"), 8, "0"),
        lpad(($"l_extendedprice".cast("decimal(14,2)") * 100).cast("long")
          .cast("string"), 12, "0"),
        $"l_returnflag", $"l_linestatus",
        date_format($"l_shipdate", "yyyyMMdd")).as("rec"))
      .write.mode("overwrite").text(out)
    s.read.text(out).select(
        substring($"value", 1, 12).cast("long").as("okey"),
        substring($"value", 23, 8).cast("long").as("qty_c"),
        substring($"value", 31, 12).cast("long").as("price_c"),
        substring($"value", 43, 1).as("rf"),
        substring($"value", 44, 1).as("ls"),
        substring($"value", 45, 8).as("sd"))
      .where($"sd" >= "19940101") // the fixed-width idiom: string-ordered dates
      .groupBy($"rf", $"ls")
      .agg(count(lit(1)).as("n"),
        sum($"qty_c").as("sum_qty_c"),
        sum($"price_c").as("sum_price_c"),
        count_distinct($"okey").as("n_okeys"))
      .orderBy($"rf", $"ls")
  }

  /** orders → parquet on `objstore://` (the in-JVM flat-keyspace,
    * atomic-PUT, rename-is-copy+delete object store, S3-semantics —
    * ObjectStoreFileSystem.scala) → read back → rollup. Proves the
    * whole write path (committer temp files, renames, list-after-
    * write) and the vectorized read run against object-store
    * semantics, not POSIX — the driver-gated face of the r6 "touch a
    * real object store" item. Scheme registration is idempotent. */
  val srcObjectStore: QueryFn = (s, dir) => {
    import s.implicits._
    val hc = s.sparkContext.hadoopConfiguration
    hc.setIfUnset("fs.objstore.impl", classOf[graft.mr.ObjectStoreFileSystem].getName)
    val out = "objstore:///bench/" + graft.mr.Fs.pathKey(dir) + "/orders"
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"), rnd(xsum($"o_totalprice"), 2).as("total"),
        count_distinct($"o_orderkey").as("n_keys"))
      .orderBy($"o_orderstatus")
  }

  /** lineitem → ORC (the OTHER columnar format Spark ships natively —
    * the Hive-ecosystem interchange a migration pipeline reads from) →
    * vectorized read with the price filter pushed into the ORC scan
    * (plan-audited: ORC row-group skipping via min/max stripes is the
    * same 100 TB contract as parquet PushedFilters) → rollup with a
    * TIMESTAMP column riding the round trip (ORC stores timestamps
    * natively; csv/json here deliberately don't). */
  val srcOrcRoundtrip: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "lineitem_orc")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice",
        $"l_discount", $"l_returnflag", $"l_shipdate")
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .where($"l_extendedprice" >= 1000.0)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        xsum($"l_quantity").as("sum_qty"),
        rnd(xsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("disc_price"),
        date_format(max($"l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("last_ship"))
      .orderBy($"l_returnflag")
  }

  /** AVRO container round trip (r11) — the row-oriented interchange
    * format of the Kafka/streaming ecosystem (what CDC feeds and
    * event buses actually ship), read and written WITHOUT a
    * connector: Spark has no built-in avro source in this build, but
    * the container format is self-describing, so the engine speaks
    * it through the avro-core classes Spark itself ships — the same
    * posture as the WARC reader (binaryFile + a real parser beats
    * "unsupported format").
    *
    * Format-native hazards made load-bearing:
    *  - UNION NULLABILITY: `priority` is `["null","string"]` and
    *    every o_orderkey%9==4 row writes a null — the rollup counts
    *    them per group, so a reader that coerces unions wrong (or a
    *    writer that drops the branch index) moves a value;
    *  - SYNC-MARKER BLOCKS: writers flush every ~512 bytes, so each
    *    container holds MANY blocks (the unit of avro splittability
    *    and corruption containment) and the reader must walk block
    *    framing, not assume one;
    *  - PER-FILE CODEC: even partitions write deflate, odd ones
    *    null — the reader negotiates the codec from each file's own
    *    header metadata.
    *
    * Scale shape: write is one shuffle to spread keys + a map-only
    * per-partition container write through the Hadoop FS API; read
    * is binaryFile + a map-only block walk per object — avro IS
    * block-splittable, and on a real cluster this flatMap is what a
    * splittable InputFormat would fan out. Judged against the
    * ORIGINAL parquet, so the hash proves the round trip lossless
    * in values and cardinality. */
  val srcAvroRoundtrip: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "orders_avro")
    val schemaJson =
      """{"type":"record","name":"GraftOrder","namespace":"graft","fields":[
        |{"name":"okey","type":"long"},
        |{"name":"ckey","type":"long"},
        |{"name":"status","type":"string"},
        |{"name":"total","type":"double"},
        |{"name":"odate","type":"string"},
        |{"name":"priority","type":["null","string"]}]}""".stripMargin
    val rows = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("odate"),
        $"o_orderpriority")
      .as[(Long, Long, String, Double, String, String)]
    val p = new org.apache.hadoop.fs.Path(out)
    val dfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    dfs.delete(p, true)
    dfs.mkdirs(p)
    rows.repartition(4, $"o_orderkey").foreachPartition {
      (it: Iterator[(Long, Long, String, Double, String, String)]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](schema))
        w.setSyncInterval(512) // many blocks per container
        w.setCodec(
          if (pid % 2 == 0) org.apache.avro.file.CodecFactory.deflateCodec(6)
          else org.apache.avro.file.CodecFactory.nullCodec())
        val path = new org.apache.hadoop.fs.Path(out, f"part-$pid%02d.avro")
        val os = path.getFileSystem(
          new org.apache.hadoop.conf.Configuration()).create(path, true)
        w.create(schema, os)
        it.foreach { case (okey, ckey, status, total, odate, prio) =>
          val r = new org.apache.avro.generic.GenericData.Record(schema)
          r.put("okey", okey); r.put("ckey", ckey)
          r.put("status", status); r.put("total", total)
          r.put("odate", odate)
          r.put("priority", if (okey % 9 == 4) null else prio)
          w.append(r)
        }
        w.close()
    }
    s.read.format("binaryFile").option("pathGlobFilter", "*.avro").load(out)
      .select($"content").as[Array[Byte]]
      .flatMap { bytes =>
        val rd = new org.apache.avro.file.DataFileStream(
          new java.io.ByteArrayInputStream(bytes),
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, String, Double, String, Option[String])]
        while (rd.hasNext) {
          val r = rd.next()
          buf += ((r.get("okey").asInstanceOf[Long],
            r.get("ckey").asInstanceOf[Long],
            r.get("status").toString,
            r.get("total").asInstanceOf[Double],
            r.get("odate").toString,
            Option(r.get("priority")).map(_.toString)))
        }
        rd.close()
        buf
      }
      .toDF("okey", "ckey", "status", "total", "odate", "priority")
      .groupBy($"status")
      .agg(count(lit(1)).as("n"),
        sum(when($"priority".isNull, 1L).otherwise(0L)).as("n_null_priority"),
        countDistinct($"ckey").as("n_custs"),
        rnd(xsum($"total"), 2).as("sum_total"),
        max($"odate").as("last_odate"))
      .orderBy($"status")
  }

  /** Malformed-ingest discipline, driver-gated: the good rows write
    * as headerless CSV, a hand-written part file of HOSTILE lines
    * (wrong arity, unparseable numbers, embedded quotes, blank) is
    * dropped into the same directory, and the PERMISSIVE read with a
    * `_corrupt_record` column must (a) quarantine EXACTLY the bad
    * lines (wrong arity, unparseable numbers) and (b) parse every
    * good row bit-identically — the rollup splits good/corrupt so one
    * mis-quarantined line moves both groups. This is the ingest
    * contract at 100 TB: never abort the job, never silently coerce
    * garbage into numbers.
    * (Blank lines are invisible: csv skips fully-empty lines before
    * parsing, so they land in neither group — asserted by the counts.) */
  val srcCsvMalformed: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "orders_csv_hostile")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .write.mode("overwrite").csv(out)
    // hand-written hostile part: arity-short, non-numeric price,
    // arity-long, and a blank line BETWEEN hostile lines (r8 advice:
    // a trailing "" element only yields a terminating newline, never
    // an actual empty line — interior placement is what exercises
    // the csv reader's skip-fully-empty-lines behavior)
    val bad = Seq(
      "9000001,F", // missing column
      "", // genuine empty line: skipped by the csv reader entirely
      "9000002,O,notanumber", // unparseable double
      "9000003,P,1.5,EXTRA") // extra column
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    val badPath = new org.apache.hadoop.fs.Path(out, "part-hostile.csv")
    val os = fs.create(badPath, true)
    os.write(bad.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    os.close()
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(out)
      // EVERY schema column is referenced below: the csv parser's
      // column pruning otherwise parses only the projected tokens and
      // arity errors outside them silently stop being quarantined
      .select(($"_corrupt_record".isNotNull).as("corrupt"),
        $"o_orderkey", $"o_orderstatus", $"o_totalprice")
      .groupBy($"corrupt")
      .agg(count(lit(1)).as("n"),
        count($"o_orderkey").as("n_keys"),
        count_distinct($"o_orderstatus").as("n_status"),
        rnd(xsum(coalesce($"o_totalprice", lit(0.0))), 2).as("total"))
      .orderBy($"corrupt")
  }

  /** The JSON twin of [[srcCsvMalformed]] — json lines carry their
    * OWN corruption classes (syntactically broken objects, type
    * mismatches against the read schema, and MISSING fields — which
    * are legal JSON and must surface as NULLs, NOT corruption): per
    * doc one hand-built line by residue class, read back PERMISSIVE
    * with `_corrupt_record`, classified and decimal-exact-summed.
    * The oracle constructs the class counts and the valid-row sum
    * closed-form from the residues, so a reader that quarantines a
    * missing-field row (over-strict), passes a type-mismatched one
    * (under-strict), or mis-sums around either hash-fails. Every
    * schema column is referenced (the csv column-pruning lesson:
    * pruned readers stop quarantining errors outside the
    * projection). Values are dyadic (id%7 · 1.25) so the sum is
    * exact at any aggregation order. */
  val srcJsonMalformed: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "docs_json_hostile")
    Tables.documents(s, dir).select($"doc_id").as[Long]
      .map { id =>
        (id % 12) match {
          case 5  => s"""{"k": $id, "v": """ // truncated object
          case 8  => s"""{"k": "notanum", "v": 0.5, "s": "t${id % 5}"}""" // k type mismatch
          case 10 => s"""{"k": $id, "s": "t${id % 5}"}""" // missing v: legal JSON
          case _  => s"""{"k": $id, "v": ${(id % 7).toDouble * 1.25}, "s": "t${id % 5}"}"""
        }
      }
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType),
      StructField("s", StringType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out)
      .select(($"_corrupt_record".isNotNull).as("corrupt"),
        ($"_corrupt_record".isNull && $"v".isNull).as("missing_v"),
        $"k", $"v", $"s")
      .groupBy($"corrupt", $"missing_v")
      .agg(count(lit(1)).as("n"),
        count($"k").as("n_keys"),
        count_distinct($"s").as("n_s"),
        rnd(xsum(coalesce($"v", lit(0.0))), 2).as("sum_v"))
      .orderBy($"corrupt", $"missing_v")
  }

  /** WARC record source — the wire format web-crawl corpora arrive
    * in (Common Crawl ships petabytes of it), so the FIRST read of a
    * pretraining pipeline. Per %7==6 doc one record; records are
    * CONCATENATED into multi-record files (8 groups), because the
    * format's defining property is Content-Length FRAMING across
    * record boundaries: %5==0 payloads embed a `WARC/1.1 embedded`
    * line that a delimiter-scanning reader would split on (the
    * strict version-line check plus byte-count skip carry it);
    * %9==4 records corrupt their Content-Length — the reader drops
    * them and must RESYNC so every later record in the same file
    * still lands; %9==7 records omit the mandatory WARC-Type —
    * framing intact, kept, marked invalid. The oracle states every
    * surviving record's fields closed-form from the residues, so a
    * reader that splits on the trap line, fails to resync, or
    * quarantines the merely-invalid record hash-fails.
    *
    * Scale shape: file build is one shuffle to the group key; the
    * read is `binaryFile` + a map-only per-file record walk (real
    * WARC files are ~1 GB members read exactly this way); the only
    * other exchange is the output sort. */
  val srcWarcRecords: QueryFn = (s, dir) => {
    import s.implicits._
    import java.nio.charset.StandardCharsets.US_ASCII
    val out = ioDir(dir, "docs_warc")
    Tables.documents(s, dir).where($"doc_id" % 7 === 6)
      .select($"doc_id").as[Long]
      .groupByKey(id => (id / 7) % 8)
      .mapGroups { (_, ids) =>
        val sb = new StringBuilder
        ids.toSeq.sorted.foreach { id =>
          val payload = (s"uri $id\n" + "tok " * (id % 11).toInt +
            (if (id % 5 == 0) "WARC/1.1 embedded\r\n" else ""))
            .getBytes(US_ASCII)
          val typ = (id % 3) match {
            case 0 => "response"; case 1 => "request"; case _ => "metadata"
          }
          val base = Seq(
            "WARC-Record-ID" -> s"<urn:uuid:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "WARC-Target-URI" -> s"http://ex.com/$id")
          val hdrs =
            if (id % 9 == 4) base ++ Seq("WARC-Type" -> typ, "Content-Length" -> "xyz")
            else if (id % 9 == 7) base
            else base ++ Seq("WARC-Type" -> typ)
          sb.append(new String(graft.sources.Warc.render(hdrs, payload), US_ASCII))
        }
        sb.toString
      }
      .write.mode("overwrite").text(out)
    s.read.format("binaryFile").option("pathGlobFilter", "part-*").load(out)
      .select($"content").as[Array[Byte]]
      .flatMap { bytes =>
        graft.sources.Warc.parse(bytes).map { r =>
          val body = new String(r.payload, US_ASCII)
          (r.targetUri.flatMap(_.split("/").lastOption)
            .map(_.toLong).getOrElse(-1L),
            r.warcType, r.contentLength,
            body.contains("WARC/"),
            body.split("\\s+").count(_.nonEmpty).toLong,
            r.valid)
        }
      }
      .toDF("uri_id", "warc_type", "content_length", "has_marker",
        "n_tokens", "valid")
      .orderBy($"uri_id")
  }

  /** `.warc.gz` — the COMPOSITION src_warc_records and
    * src_compressed_text each prove half of, and the layout a real
    * crawl reader hits FIRST (r10 verdict missing #3): Common Crawl
    * ships WARC as concatenated PER-RECORD GZIP MEMBERS, so the
    * reader must walk member boundaries itself (member offsets are
    * the random-access index; one corrupt member must cost one
    * record, not the file). Per %7==5 doc one record in ONE gzip
    * member; members concatenate into 8 multi-member `.warc.gz`
    * objects. The traps: %9==4 members get a byte of their DEFLATE
    * stream flipped — the member fails CRC and the reader must DROP
    * it and resync at the next member magic (an abort-on-error
    * reader loses every later record in the file and hash-fails);
    * %5==0 payloads carry the embedded `WARC/1.1` line — after
    * decompression the Content-Length framing must still carry it.
    *
    * Scale shape: fixture build is one shuffle to the group key +
    * a map-only member write through the Hadoop FS API; the read is
    * `binaryFile` + a map-only per-object member walk — exactly how
    * a 1000-executor job reads a crawl bucket (one task per ~1 GB
    * object; gzip members are NOT splittable, which is WHY crawls
    * ship many medium objects — see src_compressed_text). */
  val srcWarcGz: QueryFn = (s, dir) => {
    import s.implicits._
    import java.nio.charset.StandardCharsets.US_ASCII
    val out = ioDir(dir, "docs_warc_gz")
    val files = Tables.documents(s, dir).where($"doc_id" % 7 === 5)
      .select($"doc_id").as[Long]
      .groupByKey(id => (id / 7) % 8)
      .mapGroups { (g, ids) =>
        val bo = new java.io.ByteArrayOutputStream()
        ids.toSeq.sorted.foreach { id =>
          val payload = (s"uri $id\n" + "tok " * (id % 11).toInt +
            (if (id % 5 == 0) "WARC/1.1 embedded\r\n" else ""))
            .getBytes(US_ASCII)
          val typ = (id % 3) match {
            case 0 => "response"; case 1 => "request"; case _ => "metadata"
          }
          val member = graft.sources.Warc.gzMember(graft.sources.Warc.render(Seq(
            "WARC-Record-ID" -> s"<urn:uuid:$id>",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "WARC-Target-URI" -> s"http://ex.com/$id",
            "WARC-Type" -> typ), payload))
          // the corrupt-member trap: flip a DEFLATE byte (offset 12
          // is inside compressed data — header is 10 bytes) so the
          // member fails its CRC and must be dropped, not aborted on
          if (id % 9 == 4) member(12) = (member(12) ^ 0x5A).toByte
          bo.write(member, 0, member.length)
        }
        (g, bo.toByteArray)
      }
    // write real `.warc.gz` objects through the Hadoop FS API (Spark
    // has no binary-file WRITER; one create per object is exactly
    // what a member-framed sink does on an object store)
    val p = new org.apache.hadoop.fs.Path(out)
    val dfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    dfs.delete(p, true)
    dfs.mkdirs(p)
    files.foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.foreach { case (g, bytes) =>
        val path = new org.apache.hadoop.fs.Path(out, f"part-g$g%02d.warc.gz")
        val os = path.getFileSystem(conf).create(path, true)
        os.write(bytes)
        os.close()
      }
    }
    s.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz").load(out)
      .select($"content").as[Array[Byte]]
      .flatMap { bytes =>
        graft.sources.Warc.parseGz(bytes).map { r =>
          val body = new String(r.payload, US_ASCII)
          (r.targetUri.flatMap(_.split("/").lastOption)
            .map(_.toLong).getOrElse(-1L),
            r.warcType, r.contentLength,
            body.contains("WARC/"),
            body.split("\\s+").count(_.nonEmpty).toLong,
            r.valid)
        }
      }
      .toDF("uri_id", "warc_type", "content_length", "has_marker",
        "n_tokens", "valid")
      .orderBy($"uri_id")
  }

  /** customer → XML (Spark 4's built-in source — the feed format
    * enterprise exports still arrive in) → schema'd read → segment
    * rollup. XML-NATIVE round-trip hazards are made load-bearing:
    * `tagged` embeds ` <&> ` so entity escaping must survive both
    * directions (an unescaped writer produces unparseable rows, a
    * lax reader corrupts the string `min()` lands on); `contact` is
    * a NESTED element (the structure XML has and csv doesn't) whose
    * fields feed two distinct-counts; doubles round-trip through
    * shortest-round-trip decimal text exactly as the csv/json twins.
    * Oracle runs the same rollup over the ORIGINAL parquet. */
  val srcXmlRoundtrip: QueryFn = (s, dir) => {
    import s.implicits._
    val out = ioDir(dir, "customer_xml")
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_mktsegment", $"c_acctbal",
        concat($"c_name", lit(" <&> "), $"c_mktsegment").as("tagged"),
        struct(concat(lit("c"), $"c_custkey" % 97).as("code"),
          $"c_nationkey".as("nation")).as("contact"))
      .write.mode("overwrite").option("rowTag", "customer")
      .format("xml").save(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType),
      StructField("c_acctbal", DoubleType),
      StructField("tagged", StringType),
      StructField("contact", StructType(Seq(
        StructField("code", StringType), StructField("nation", LongType))))))
    s.read.schema(schema).option("rowTag", "customer")
      .format("xml").load(out)
      .where($"c_acctbal" > 0.0)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        rnd(xsum($"c_acctbal"), 2).as("sum_bal"),
        count_distinct($"contact.code").as("n_codes"),
        count_distinct($"contact.nation").as("n_nations"),
        min($"tagged").as("first_tag"))
      .orderBy($"c_mktsegment")
  }

  /** Two parquet generations with different schemas (v2 adds
    * `o_orderpriority`) merged by `mergeSchema` — the schema-
    * evolution read every long-lived 100 TB table eventually needs;
    * v1 rows surface the new column as NULL, and the rollup's NULL
    * group proves the merge didn't invent or drop rows. */
  val srcSchemaEvolution: QueryFn = (s, dir) => {
    import s.implicits._
    val base = Tables.orders(s, dir)
    val v1 = ioDir(dir, "orders_v1")
    val v2 = ioDir(dir, "orders_v2")
    base.where($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_totalprice")
      .write.mode("overwrite").parquet(v1)
    base.where($"o_orderkey" % 2 === 1)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
      .write.mode("overwrite").parquet(v2)
    s.read.option("mergeSchema", "true").parquet(v1, v2)
      .groupBy(coalesce($"o_orderpriority", lit("<v1>")).as("priority"))
      .agg(count(lit(1)).as("n"), rnd(xsum($"o_totalprice"), 2).as("total"))
      .orderBy($"priority")
  }
  /** BUCKETED-table co-located join — the table-LAYOUT lever for
    * repeated fact-fact joins at 100 TB: both lineitem and orders are
    * written `bucketBy(8, key).sortBy(key)` (saveAsTable records the
    * bucket metadata in the catalog; external tables under the
    * per-sfDir tmp path), and the join between the two bucketed reads
    * plans as a SortMergeJoin with NO shuffle on EITHER side — the
    * bucket files ARE the exchange, paid once at write time and
    * amortized over every subsequent join on the key (PlanAudit
    * asserts zero hashpartitioning exchanges under the join and
    * bucketed scans on both sides). `hint("merge")` pins SMJ so the
    * demonstration cannot silently degrade into a broadcast at the
    * small gate SFs — at real scale neither side broadcasts anyway.
    * The DuckDB oracle runs the same join+rollup over the ORIGINAL
    * parquet, so a hash pass proves the bucketed round trip lossless
    * (values AND join cardinality), exactly like the other §2.H
    * sinks. */
  val srcBucketedJoin: QueryFn = (s, dir) => {
    import s.implicits._
    val key = graft.mr.Fs.pathKey(dir).replaceAll("[^A-Za-z0-9_]", "_")
      .toLowerCase
    val lt = s"graft_bl_$key"
    val ot = s"graft_bo_$key"
    // idempotent per corpus: rebuild only when the catalog lacks the
    // tables (overwrite with external paths keeps reruns clean)
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice", $"l_discount")
      .write.mode("overwrite")
      .option("path", ioDir(dir, "bucketed_lineitem"))
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(lt)
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority", $"o_orderdate")
      .write.mode("overwrite")
      .option("path", ioDir(dir, "bucketed_orders"))
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(ot)
    val l = s.table(lt)
    val o = s.table(ot).where(year($"o_orderdate") === 1996)
    o.hint("merge")
      .join(l, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        countDistinct($"o_orderkey").as("n_orders"),
        count(lit(1)).as("n_lines"),
        rnd(xsum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
          .as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** Hadoop SequenceFile round trip — the key-value container every
    * legacy Hadoop estate still holds PBs of (the migration-read
    * case: an engine that can't read the old cluster's SequenceFiles
    * can't replace it). Spoken through the classes Spark itself
    * ships (hadoop-client-api `LongWritable`/`Text` + the
    * `sequenceFile` source / `saveAsSequenceFile` sink — the
    * src_avro_roundtrip posture: no connector needed, the format is
    * self-describing via its header).
    *
    * Format-native hazards made load-bearing:
    *  - PER-FILE CODEC negotiation: even orderkeys write PLAIN
    *    containers, odd ones DEFLATE-compressed — one read glob
    *    spans both and the reader must take each file's codec from
    *    its own header, not an expectation;
    *  - WRITABLE REUSE: the Hadoop record reader recycles ONE
    *    (LongWritable, Text) pair per split — the map copies to
    *    primitives/String immediately, the classic corruption bug
    *    when skipped;
    *  - STRING-ROUNDTRIPPED DOUBLES: totals travel as
    *    `Double.toString` shortest-roundtrip decimals and must parse
    *    back bit-identical, since the oracle aggregates the ORIGINAL
    *    parquet values.
    *
    * Scale shape: write is map-only per partition; SequenceFiles are
    * sync-marker splittable, so the read fans out like any
    * InputFormat; the rollup is one partial+final agg. Judged
    * against the original parquet — the hash proves values AND
    * cardinality survive the container. */
  val srcSequenceFile: QueryFn = (s, dir) => {
    import s.implicits._
    import org.apache.hadoop.io.{LongWritable, Text}
    val outPlain = ioDir(dir, "orders_seq_plain")
    val outDefl = ioDir(dir, "orders_seq_defl")
    Seq(outPlain, outDefl).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val kv = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM-dd").as("odate"))
      .as[(Long, String, Double, String)]
      .rdd.map { case (k, st, tp, od) => (k, st + "|" + tp + "|" + od) }
    kv.filter(_._1 % 2 == 0).repartition(2).saveAsSequenceFile(outPlain)
    kv.filter(_._1 % 2 == 1).repartition(2).saveAsSequenceFile(outDefl,
      Some(classOf[org.apache.hadoop.io.compress.DeflateCodec]))
    val back = s.sparkContext
      .sequenceFile(outPlain + "," + outDefl, classOf[LongWritable], classOf[Text])
      // copy OUT of the reused Writables before the iterator advances
      .map { case (k, v) => (k.get, v.toString) }
      .toDF("okey", "payload")
    back
      .select($"okey", split($"payload", "\\|").as("f"))
      .select($"okey", $"f".getItem(0).as("status"),
        $"f".getItem(1).cast("double").as("total"), $"f".getItem(2).as("odate"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"), xsum($"total").as("total_price"),
        max($"odate").as("last_odate"))
      .orderBy($"status")
  }
}
