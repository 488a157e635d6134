package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Candidate-mass counter for the banded dedup/ANN families (r9
  * verdict #7): counts the PRE-verify candidate pairs each banded
  * index admits on a corpus — the quantity whose growth IS the
  * collision floor — so the stress bench records the floor's arrival
  * directly (candidates per doc across a data decade) instead of
  * inferring it from wall ratios, which machine steal can mask in
  * either direction.
  *
  * One JSON line per corpus:
  *   {"sf_dir":..., "n_docs":N, "n_vecs":N, "n_arrivals":N,
  *    "geometry":{"embedding":"p:b","lsh":"p:b"},
  *    "candidates":{"minhash":N,"simhash":N,"embedding":N,
  *                  "nsw_attach":N,"phash":N},
  *    "per_doc":{...}}
  *
  * Counts honor the live geometry resolution: a pinned dial
  * (override/env) wins, else the hyperplane families use the n-AWARE
  * schedule ([[operators.AnnOps.scheduledGeometry]], r10 verdict #2)
  * — so a no-env stress run measures exactly the geometry the engine
  * would deploy on that corpus, and the recorded "geometry" field is
  * the audit trail. Denominators: doc-banded families divide by
  * document count, vector families by vector count (nsw_attach by
  * the arrival split's size — its mass is per ARRIVAL, the
  * streaming-cost unit).
  *
  * Callable in-process ([[measure]]) so the stress harness reads the
  * counters from the bench JVM instead of paying two extra sbt/Spark
  * cold starts (r10 verdict #7). */
object CandidateMass {

  /** Compute the counters for one corpus on an existing session;
    * returns the JSON line. */
  def measure(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val nDocs = docs.count()
    val nVecs = emb.count()

    val shingled = operators.DedupOps.docShingles(spark, sfDir)
      .transform(operators.Checkpoints.cut)
    val minhash = operators.DedupOps.minhashCandidates(shingled).count()

    val simGeo = operators.DedupOps.simhashGeometryFor(spark, sfDir)
    val simSigs = operators.DedupOps
      .simhashSigs(docs.select($"doc_id", $"text"), simGeo)
      .transform(operators.Checkpoints.cut)
    val simhash = operators.DedupOps.simhashCandidates(simSigs, simGeo).count()

    // per-corpus geometry (n-aware unless a dial pins it) — the same
    // resolution the dedup/attach serve paths use, so the counters
    // measure the geometry the engine would actually deploy here
    val embGeo = operators.DedupOps.embGeometryFor(spark, sfDir)
    val embSigs = operators.DedupOps.embSigs(emb, embGeo).transform(operators.Checkpoints.cut)
    val embedding = operators.DedupOps.embCandidates(embSigs, embGeo).count()

    // the streaming attach face: candidates the arrival split pays
    // against the frozen base (the per-arrival cost unit) — served
    // at the attach path's schedule-floor dial (r12 verdict #1),
    // recorded separately from the graph-build "lsh" dial below
    val lshGeo = operators.AnnOps.lshGeometryFor(spark, sfDir)
    val attachGeo = operators.HnswOps.attachGeometryFor(spark, sfDir)
    val arrivals = emb.where($"vec_id" % 10 === 0)
      .select($"vec_id", $"embedding")
    val nArrivals = arrivals.count()
    val nsw = operators.HnswOps.attachCandidates(spark, sfDir)(arrivals).count()

    // MEASURED plant recall at the corpus's own dial (r12 next-round
    // #4: the multi-word tier's recall@cos 0.99 was asserted from the
    // banding closed form, never measured on plants at the decade):
    // a deterministic sample of base vectors is jittered to
    // cos ≈ 0.996 copies (hash noise, no RNG state) and pushed
    // through the REAL banded attach path against the full corpus —
    // recall = the fraction of plants whose candidate set contains
    // their own source. Eligibility is the MEASURED plant cosine
    // (≥ 0.99), so the recorded number is exactly "recall@cos 0.99
    // at this dial on this corpus".
    val plantRecall = {
      val eps = 0.02f
      val jitter = udf { (id: Long, v: Seq[Float]) =>
        Array.tabulate(v.length) { i =>
          val h = graft.functions.Hashes.fnv64(s"plant:$id:$i")
          val u = ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
          v(i) + eps * u.toFloat
        }
      }
      val stride = 1L << 40
      val plants = emb.where($"vec_id" % 101 === 7)
        .select($"vec_id".as("src"), $"embedding".as("orig"),
          jitter($"vec_id", $"embedding").as("pv"))
        .withColumn("cos",
          graft.functions.VectorExpressions.cosine_sim($"orig", $"pv"))
        .where($"cos" >= 0.99)
        .transform(operators.Checkpoints.cut)
      val nElig = plants.count()
      val arrivals = plants
        .select(($"src" + stride).as("vec_id"), $"pv".as("embedding"))
      val found = operators.HnswOps
        .attachCandidatesAgainst(emb.select($"vec_id", $"embedding"), attachGeo)(arrivals)
        .where($"nbr" === $"vec_id" - stride)
        .select($"vec_id").distinct().count()
      val recall =
        if (nElig == 0) -1.0
        else math.floor(found.toDouble / nElig * 10000 + 0.5) / 10000
      (nElig, found, recall)
    }

    // phash registry = the mm_phash_neardup fixture (base + derived)
    val base = docs.where(length($"text") >= 64)
      .select($"doc_id".as("media_id"), $"text".as("t"))
    val dirty = docs.where(length($"text") >= 64 && $"doc_id" % 11 === 5)
      .select(($"doc_id" + 10000000L).as("media_id"),
        concat(upper(substring($"text", 1, 10)),
          $"text".substr(lit(11), length($"text") - 20),
          upper($"text".substr(length($"text") - 9, lit(10)))).as("t"))
    val phGeo = operators.TextOps.phashGeometryFor(spark, sfDir)
    val phash = operators.TextOps
      .phashCandPairs(base.unionByName(dirty), phGeo).count()

    def rnd(x: Double): Double = math.floor(x * 1000 + 0.5) / 1000
    val perDoc = Map(
      "minhash" -> rnd(minhash.toDouble / nDocs),
      "simhash" -> rnd(simhash.toDouble / nDocs),
      "embedding" -> rnd(embedding.toDouble / nVecs),
      "nsw_attach" -> rnd(nsw.toDouble / math.max(1L, nArrivals)),
      "phash" -> rnd(phash.toDouble / nDocs))
    def j(m: Map[String, Any]): String =
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"sf_dir":"$sfDir","n_docs":$nDocs,"n_vecs":$nVecs,""" +
      s""""n_arrivals":$nArrivals,""" +
      s""""geometry":{"embedding":"${embGeo._1}:${embGeo._2}",""" +
      s""""lsh":"${lshGeo._1}:${lshGeo._2}",""" +
      s""""nsw_attach":"${attachGeo._1}:${attachGeo._2}",""" +
      s""""simhash":"${simGeo._1}:${simGeo._2}:${simGeo._3}",""" +
      s""""phash":"${phGeo._1}:${phGeo._2}:${phGeo._3}"},""" +
      s""""candidates":${j(Map("minhash" -> minhash, "simhash" -> simhash,
        "embedding" -> embedding, "nsw_attach" -> nsw, "phash" -> phash))},""" +
      s""""per_doc":${j(perDoc)},""" +
      s""""plant_recall":{"lsh":{"geometry":"${attachGeo._1}:${attachGeo._2}",""" +
      s""""n_eligible":${plantRecall._1},"n_found":${plantRecall._2},""" +
      s""""recall":${plantRecall._3}}}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = Driver.session()
    println(measure(spark, sfDir))
    spark.stop()
  }
}
