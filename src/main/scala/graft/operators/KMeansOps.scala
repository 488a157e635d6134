package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols.{asDouble, rnd, xsum}

/** Distributed Lloyd's k-means over the embeddings table — the
  * clustering pass a curation pipeline runs for topic bucketing /
  * diversity sampling (and the training step behind the IVF index in
  * [[AnnOps]]).
  *
  * Scale shape per iteration (the classic Spark k-means, same as
  * MLlib's): centroids are k×dim doubles — broadcast-small — so
  * ASSIGNMENT is a map-side argmin over literal centroid arrays (zero
  * shuffle, whole corpus streamed once), and RECOMPUTE is one
  * partial+final aggregation on (cluster, dim) — 512 keys — whose
  * result is collected to the driver (k×dim values, not corpus data)
  * to become the next round's literals. Nothing corpus-sized ever
  * moves; 3 fixed iterations = 3 corpus scans.
  *
  * Determinism (the reason this has a SQL oracle, unlike most k-means
  * implementations): init is vec_id < k, iteration count is fixed,
  * distances accumulate per-dim squares in DECIMAL(38,10) (exact, so
  * partial-agg order can't flip an argmin), ties break to the lower
  * cluster id, and centroid means divide the exact decimal sum in
  * double. Both engines therefore compute bit-identical centroids and
  * assignments at every round.
  */
object KMeansOps {
  import graft.SparkEntry.QueryFn

  /** Cluster count. k ≈ corpus / target cell size keeps the
    * semantic-dedup pair space Σnᵢ² ≈ n · target as the corpus grows
    * (r9 verdict #2: constant k was the first of dedup_semantic's
    * three scale-killers). The oracle unroll interpolates THIS
    * accessor (`vec_id < k` init is k-generic), so a spec that sets
    * the test-visible override (same as [[AnnOps.overrideNumProbes]])
    * stays hash-green; 8 is the gate value. */
  @volatile var overrideK: Option[Int] = None
  def K: Int = overrideK.getOrElse(8)
  val Iters = 3

  /** Map-side argmin over the literal centroids: lowest exact
    * decimal-accumulated squared L2, ties to the lowest cluster id.
    * The result is the winning (distance, cluster) as a tuple struct
    * (`_1`, `_2`): Spark's generated projection compiles a tuple
    * encoder, where a case class nested in this object fails to
    * compile and drops the UDF to interpreted evaluation.
    *
    * r13 optimization (guide §1.2 "per-task work", the
    * [[AnnOps]] pqEncode precedent): the former
    * `array_min(array(struct(aggregate(zip_with(...)))))` form
    * evaluated INTERPRETED — higher-order functions never enter
    * whole-stage codegen, and each row paid k × dim Catalyst
    * Decimal allocations. This tight loop computes the identical
    * quantity: per-dim squared difference as a double (bit-identical
    * in any engine), rounded to DECIMAL scale 10 by the exact
    * `BigDecimal.valueOf` (shortest-repr, HALF_UP — the same path
    * Spark's double→DECIMAL(27,10) cast takes), accumulated exactly
    * (scale-10 additions are exact at these magnitudes, matching the
    * DECIMAL(38,10) fold), final `doubleValue` = Decimal.toDouble.
    * Hash-equivalence is re-proven by the sf0.001/sf0.01 oracle gate
    * and the planted-cluster specs; the plan keeps the audit shape
    * (no join, partial agg only). */
  private def assign(emb: Column, cents: Array[Array[Double]]): Column = {
    val fn = udf { (v: Seq[Double]) =>
      val x = v.toArray
      // r14 ADVICE: a NaN/Infinite per-dim square would throw in
      // BigDecimal.valueOf and fail the whole job where the old
      // double→DECIMAL(27,10) Catalyst cast degraded to null; a
      // non-finite distance now degrades to +∞ — the centroid never
      // wins and a fully non-finite row lands deterministically in
      // cluster 0 (gate corpora are finite, so hashes are untouched)
      var bestD = Double.PositiveInfinity
      var bestC = 0
      var ci = 0
      while (ci < cents.length) {
        val c = cents(ci)
        var acc = java.math.BigDecimal.ZERO
        var bad = false
        var i = 0
        while (i < c.length) {
          val diff = x(i) - c(i)
          val sq = diff * diff
          if (!java.lang.Double.isFinite(sq)) bad = true
          else acc = acc.add(java.math.BigDecimal.valueOf(sq)
            .setScale(10, java.math.RoundingMode.HALF_UP))
          i += 1
        }
        val d = if (bad) Double.PositiveInfinity else acc.doubleValue()
        if (d < bestD) { bestD = d; bestC = ci }
        ci += 1
      }
      (bestD, bestC)
    }
    fn(emb)
  }

  /** The fitted centroids after `iters` exact Lloyd's iterations —
    * k×dim doubles, the broadcastable model other operators build on
    * ([[DedupOps.dedupSemantic]] buckets its pairwise pass with them). */
  def fitCentroids(s: SparkSession, dir: String,
      k: Int = K, iters: Int = Iters): Array[Array[Double]] = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", asDouble($"embedding").as("emb"))

    // init: the first k vectors by vec_id (k×dim doubles on the driver
    // — the broadcast payload, not corpus data)
    var cents: Array[Array[Double]] = emb
      .where($"vec_id" < k).orderBy($"vec_id")
      .select($"emb").as[Seq[Double]].collect().map(_.toArray)
    require(cents.length == k, s"need $k init vectors")

    for (_ <- 1 until iters) {
      val assigned = emb.select($"vec_id", $"emb", assign($"emb", cents).as("a"))
      // recompute: one (cluster, dim) aggregation — 512 keys, partial
      // agg before the shuffle; collect is k×dim, never corpus-sized
      val sums = assigned
        .select($"a._2".as("cluster"), posexplode($"emb").as(Seq("dim", "v")))
        .groupBy($"cluster", $"dim")
        .agg(xsum($"v").as("sv"), count(lit(1)).as("n"))
        .collect()
      val next = Array.fill(k)(new Array[Double](cents(0).length))
      val seen = Array.fill(k)(false)
      sums.foreach { r =>
        val c = r.getInt(0); seen(c) = true
        next(c)(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
      }
      require(seen.forall(identity), "empty cluster — lower k or reseed")
      cents = next
    }
    cents
  }

  /** (vec_id, embedding, cluster_id, d2) for every vector under the
    * fitted model — assignment is the same zero-shuffle map-side
    * argmin over literal centroids as the training rounds. */
  def assignments(s: SparkSession, dir: String,
      k: Int = K, iters: Int = Iters): DataFrame = {
    import s.implicits._
    val cents = fitCentroids(s, dir, k, iters)
    Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding",
        assign(asDouble($"embedding"), cents).as("a"))
      .select($"vec_id", $"embedding",
        $"a._2".cast("long").as("cluster_id"), $"a._1".as("d2"))
  }

  def kmeans(s: SparkSession, dir: String, k: Int = K, iters: Int = Iters): DataFrame = {
    import s.implicits._
    assignments(s, dir, k, iters)
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_vecs"), rnd(xsum($"d2") / count(lit(1)), 4).as("mean_d2"))
      .orderBy($"cluster_id")
  }

  /** Cluster-size + within-cluster-spread report after 3 exact Lloyd's
    * iterations (init = vec_id < 8). */
  val embKmeans: QueryFn = (s, dir) => kmeans(s, dir)
}
