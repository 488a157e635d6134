package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}

/** Deterministic scale-stress corpus generator (r6 verdict #1): the
  * official curve stops at sf0.1, a decade short of where the
  * suffix-doubling and NSW-candidate log/band factors start to bite —
  * this replicates+perturbs the sf0.1 `documents`/`embeddings`/
  * `events` tables K× (default 10, ≈ an sf1 decade for the
  * doc/vector/stream families) into a scratch dir, so
  * `tools/bench_stress.py` can extend bench_scaling.json with a
  * fourth point. /root/testdata stays untouched — the stress corpus
  * is self-generated, derived data.
  *
  * Perturbation is pure hash arithmetic (no RNG state), so the corpus
  * is bit-identical across runs and executors:
  *
  *   - documents: replica r keeps doc_id + r·2·10⁷ (clear of the
  *     +10⁷ registry id space queries allocate); replica 0 is
  *     verbatim. For r ≥ 1 every 7th token is rewritten to a
  *     replica-salted variant — shingle Jaccard vs the original drops
  *     below the τ=0.5 near-dup bar, so dup structure grows LINEARLY
  *     (each group of K replicas contributes bounded pairs), while
  *     1-in-16 docs keep replicas verbatim to preserve a true
  *     exact/near-dup population for the dedup family to find.
  *   - embeddings: replica r keeps vec_id + r·2·10⁷; v′ = 0.8·v +
  *     0.3·u with u ∈ [−1,1] from fnv64(vec_id, r, dim) — vectors of
  *     comparable norm but genuinely different direction, so IVF/NSW
  *     cell occupancy scales like real data rather than K-fold
  *     point-mass duplicates.
  *
  * Usage: runMain graft.StressGen <srcSfDir> <outDir> [K]
  */
object StressGen {
  val IdStride = 20000000L
  /** Replica stride for the smaller key spaces (custkey ≤ 15k,
    * partkey ≤ 20k at sf0.1) — disjoint per replica, clear of any
    * registry-allocated id space. */
  val KeyStride = 1000000L

  /** Deterministic [−1, 1] from (vec_id, replica, dim). */
  private def noise(vecId: Long, r: Int, dim: Int): Float = {
    val h = graft.functions.Hashes.fnv64(s"$vecId:$r:$dim")
    ((h & 0xffffffL).toDouble / 0xffffffL.toDouble * 2.0 - 1.0).toFloat
  }

  def perturbText(text: String, r: Int): String = {
    if (r == 0) text
    else {
      val toks = text.split(" ", -1)
      var i = r % 7
      while (i < toks.length) {
        toks(i) = toks(i) + "~" + r
        i += 7
      }
      toks.mkString(" ")
    }
  }

  def writeStress(spark: SparkSession, srcDir: String, outDir: String, k: Int,
      tables: Set[String] = Set.empty): Unit = {
    import spark.implicits._
    // empty `tables` = everything; a subset (e.g. docs+embeddings for
    // the extra candidate-mass decade) skips the unconsumed facts —
    // a 100x events/lineitem replication nobody reads is pure waste
    def want(t: String): Boolean = tables.isEmpty || tables.contains(t)
    val reps = spark.range(0, k).select($"id".cast("int").as("r"))

    if (want("documents")) {
    val docs = Tables.documents(spark, srcDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .crossJoin(org.apache.spark.sql.functions.broadcast(reps))
      .as[(Long, String, String, String, Int)]
      .map { case (id, text, lang, source, r) =>
        // 1-in-16 docs keep replicas verbatim: the true-dup population
        val t = if (id % 16 == 0) text else perturbText(text, r)
        (id + r * IdStride, t, lang, source, t.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    }

    // events (r8, for the streaming stress rows): replica r shifts
    // event_id AND user_id into disjoint id spaces, so state-bearing
    // streaming keys (dedup key sets, session state, join state) grow
    // LINEARLY — the bounded-state measurement needs real key growth,
    // not densified duplicates of the same 1.5k users. Timestamps are
    // untouched: the pane count stays constant while per-pane density
    // and watermark-window state grow 10×, exactly the 100 TB/day
    // topology's stress axis. Raw-schema read/write (no Tables.events
    // normalization) so the landing-dir streaming source sees the
    // same dtypes as the official corpora.
    if (want("events")) {
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("r") * IdStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("r") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    ev.repartition(16).write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }

    // TPC-H fact tables (r9, r8 verdict #1 — the relational/graph
    // stress axis): replicate with DISJOINT key spaces per replica,
    // the events pattern — orderkey shifts by IdStride, custkey and
    // partkey by KeyStride — so join/agg key cardinality, the
    // co-purchase part graph (10 disjoint copies of sf0.1's graph:
    // linear candidate/wedge growth, the honest decade), and the
    // customer dimension all grow 10× FOR REAL. supplier/part/nation/
    // region copy VERBATIM: at real scale fact tables grow 10× while
    // dims barely move, the graph family derives its node sets from
    // the facts (partkey-keyed queries never join `part`), and the
    // nation-level trade graph keeps its 25 nodes with 10× edge mass.
    if (want("lineitem")) {
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("l_orderkey") + col("r") * IdStride).as("l_orderkey"),
        (col("l_partkey") + col("r") * KeyStride).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    li.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")
    }

    if (want("orders")) {
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("o_orderkey") + col("r") * IdStride).as("o_orderkey"),
        (col("o_custkey") + col("r") * KeyStride).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    ord.repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
    }

    if (want("customer")) {
    val cust = spark.read.parquet(s"$srcDir/customer.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("c_custkey") + col("r") * KeyStride).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    cust.repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/customer.parquet")
    }

    Seq("supplier", "part", "nation", "region").filter(want).foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    if (want("embeddings")) {
    val embs = Tables.embeddings(spark, srcDir)
      .select($"vec_id", $"embedding", $"label")
      .crossJoin(org.apache.spark.sql.functions.broadcast(reps))
      .as[(Long, Array[Float], Int, Int)]
      .map { case (id, v, label, r) =>
        val out =
          if (r == 0) v
          else Array.tabulate(v.length)(i => 0.8f * v(i) + 0.3f * noise(id, r, i))
        (id + r * IdStride, out, label)
      }
      .toDF("vec_id", "embedding", "label")
    embs.repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft-stress/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated table subset
    val tables = if (args.length > 3)
      args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
    else Set.empty[String]
    val spark = Driver.session()
    writeStress(spark, src, out, k, tables)
    def cnt(t: String): Long =
      if (tables.isEmpty || tables.contains(t))
        spark.read.parquet(s"$out/$t.parquet").count()
      else -1L
    println(s"""{"stress_dir":"$out","k":$k,"documents":${cnt("documents")},"embeddings":${cnt("embeddings")},"events":${cnt("events")},"lineitem":${cnt("lineitem")}}""")
    spark.stop()
  }
}
