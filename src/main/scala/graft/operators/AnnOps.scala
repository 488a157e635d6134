package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._
import graft.functions.Hashes._
import graft.functions.VectorExpressions.{cell_argmax, cosine_sim}

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY.md §2.D).
  *
  * Scale shape: the probe set is always the small side — broadcast it;
  * the corpus side streams map-side. Ranking is rank-within-probe
  * (`row_number` partitioned by probe), so the shuffle is O(probes ×
  * candidates), never a global sort. Ties are broken on a *rounded*
  * similarity (1e-6) then vec_id, so rank order is stable across
  * engines and float-association noise.
  */
object AnnOps {
  import graft.SparkEntry.QueryFn

  /** Serve-k and probe-set size. Every serve path, recall panel and
    * oracle SQL reads these accessors, so a spec that dials the
    * test-visible overrides widens them all together. Every oracle
    * string in SparkEntry is a `def`, rebuilt at each oracleSql
    * materialization, so engine and oracle can never desync even if
    * an override moves mid-JVM (the r5 lazy-val freeze). The
    * constants are the gate values. */
  @volatile var overrideK: Option[Int] = None
  @volatile var overrideNumProbes: Option[Int] = None
  def K: Int = overrideK.getOrElse(5)
  def NumProbes: Int = overrideNumProbes.getOrElse(10)

  private def probes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .where($"vec_id" < NumProbes)
      .select($"vec_id".as("pid"), $"embedding".as("pe"))
  }

  private def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    // heavy phase: native TopKPerKey (bounded heaps, ≤k rows per
    // (partition, probe) shuffled) instead of a window sort over
    // every candidate; the row_number afterwards only ranks the
    // k·probes survivors
    val topped = graft.plans.TopK.perKey(
      cands.withColumn("sim_r", rnd(col("sim"), 6)),
      keyCols = Seq("pid"),
      orderCols = Seq("sim_r" -> false, "nid" -> true),
      k = k)
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("sim_r").desc, col("nid").asc)
    topped
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("pid"), col("rnk"), col("nid"), rnd(col("sim"), 4).as("sim"))
      .orderBy(col("pid"), col("rnk"))
  }

  /** Exact top-k by brute force: the correctness baseline (and the
    * oracle for the approximate variants' recall specs). */
  val annBruteforceTopk: QueryFn = (s, dir) => {
    import s.implicits._
    val cands = Tables.embeddings(s, dir)
      .join(broadcast(probes(s, dir)), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"), cosine_sim($"pe", $"embedding").as("sim"))
    rankTopK(cands, K)
  }

  /** Hyperplane-LSH band geometry `(planes, bandBits)`. The family
    * default `(48, 4)` is the historical 48-plane signature in twelve
    * 4-bit bands. The 4-bit keys mean every band bucket holds ≈
    * corpus/16: candidate mass is n²·12/16 on a corpus with NO near
    * structure, and the NSW attach path pays corpus/16 PER ARRIVAL —
    * linear in the base corpus, the scale-killer the stress decade
    * measures. The wide geometry `(64, 16)` (four 16-bit bands of a
    * 64-plane signature) pushes the random floor to n²·4/2¹⁶ — three
    * orders down — while TRUE near neighbors (the structure a real
    * corpus has; the test embeddings are near-random) still collide:
    * at cos ≈ 0.99 a bit agrees w.p. ≈ 0.955, a 16-bit band w.p. ≈
    * 0.48, some band of 4 w.p. ≈ 0.93. The n-aware schedule
    * ([[scheduledGeometry]]) widens the geometry toward it as the
    * measured corpus grows; specs pin a geometry through the
    * test-visible override. Every
    * consumer — the flat LSH serve, the radius search, the NSW
    * build, the streaming attach — and every oracle interpolates
    * these accessors, so engine and replay move together.
    * planes ≤ 64 (one sig word), bandBits | planes, bandBits ≤ 32
    * (band values stay positive BIGINTs in both engines). */
  @volatile var overrideLshGeometry: Option[(Int, Int)] = None

  /** The hyperplane-geometry contract (lsh and emb families):
    * one-word (planes ≤ 64, bandBits | planes) or multi-word (planes
    * a multiple of 64 up to [[MultiWordPlanes]] ceiling ×2, 32-bit
    * bands — bands must tile words so the engine's per-word
    * extraction equals the oracle's global `(p-1)//bits` rule).
    * GeometryScheduleSpec holds the scheduled points to it. */
  private[operators] def requireHyperplaneGeometry(
      p: Int, b: Int, fam: String): Unit =
    if (p <= 64) {
      require(p >= 1, s"$fam planes must be >= 1, got $p")
      require(b >= 1 && b <= 32 && p % b == 0,
        s"$fam bandBits must divide planes and be <= 32, got $b for $p planes")
    } else {
      require(p % 64 == 0 && p <= 2 * MultiWordPlanes,
        s"$fam multi-word planes must be a multiple of 64 <= ${2 * MultiWordPlanes}, got $p")
      require(b == 32, s"$fam multi-word bandBits must be 32, got $b")
    }
  def lshGeometry: (Int, Int) =
    GeometryContext.resolve(overrideLshGeometry.getOrElse((48, 4)))(lshGeometryFor)
  def LshPlanes: Int = lshGeometry._1
  def LshBandBits: Int = lshGeometry._2
  def LshBands: Int = LshPlanes / LshBandBits

  /** n-AWARE band-geometry schedule (r10 verdict #2 — scale safety
    * must not depend on a human re-pinning the geometry one decade
    * before the candidate-mass guard trips): unless a spec override
    * pins the geometry, the hyperplane families choose
    * (planes, bandBits) from the MEASURED corpus size at index-build
    * time.
    *
    *   - n < [[ScheduleMinN]]: the family default — every gate
    *     corpus and spec fixture lands here, so the static accessors
    *     the DuckDB oracles interpolate keep matching the engine and
    *     the hashes are untouched;
    *   - n ≥ ScheduleMinN: four bands of
    *     `bandBits = clamp(⌈log₂(n·bands)⌉, 12, 16)` — the widest
    *     key that still fits a 64-plane one-BIGINT signature both
    *     engines replay. The bits budget targets ≤ ~1 RANDOM
    *     band-collision candidate per item from independent
    *     signatures (n·bands/2^bits ≤ 1 until the 16-bit cap); past
    *     the cap the random floor is bands/2^bits = 4/2¹⁶ ≈ 6·10⁻⁵
    *     of the corpus per item — 80× under the stress guard's 0.5%
    *     ceiling at ANY n, so the schedule never needs a human. The
    *     moderate-cosine mass real corpora add on top (p_bit^bits per
    *     band) is what CandidateMass measures at the stress decades.
    *
    * The chosen geometry lands in the persisted index keys and their
    * `_META` (IndexStore), so "which geometry built this index" is
    * recorded, and a re-schedule (corpus grew a decade) rebuilds
    * rather than serving stale bands. */
  val ScheduleMinN = 8192L
  val ScheduleBands = 4

  /** The words ≥ 2 tier (r11 what's-missing #2, the schedule's
    * documented exit): ten 32-bit bands over a 5×64-plane signature.
    * Some-band recall at cos 0.99 is 1−(1−p³²)¹⁰ ≈ 0.925 with
    * p = 1−θ/π ≈ 0.955 — RESTORED above the one-word 4×16 dial's
    * 0.93 and far above the r11 shed tiers (0.86 at 3 bands, 0.73
    * at 2); the random floor is 10/2³² ≈ 2.3·10⁻⁹ of corpus per
    * item — ~2 candidates/item at n = 10⁹, under the 0.5% guard by
    * six orders at every n, so the schedule never sheds again. The
    * 5× signature compute is map-side and amortizes into the scan. */
  val MultiWordPlanes = 320
  val MultiWordBandBits = 32

  def scheduledGeometry(n: Long, default: (Int, Int)): (Int, Int) =
    if (n < ScheduleMinN) default
    else {
      val bits = math.min(16, math.max(12,
        math.ceil(math.log(n.toDouble * ScheduleBands) / math.log(2)).toInt))
      if (bits < 16) (ScheduleBands * bits, bits)
      // One-word exhaustion point: 16-bit bands are the widest key a
      // BIGINT signature tiles, and ⌊12·2¹⁶/n⌋ < 4 (n > 196608) is
      // where r11's band-shedding began trading recall for mass
      // (0.93 → 0.86 → 0.73 at cos 0.99). The schedule now jumps to
      // the multi-word tier there instead: deeper keys, MORE bands,
      // recall restored, floor six orders under the guard (above).
      else if ((12.0 * (1L << 16).toDouble / n.toDouble).toInt >= ScheduleBands)
        (ScheduleBands * 16, 16)
      else (MultiWordPlanes, MultiWordBandBits)
    }

  /** The Hamming families' (simhash, phash) n-aware form of the same
    * schedule: their geometry is (words, bandBits, tau) over a
    * words×64-bit signature. Below [[HammingMinN]] — where the
    * default's random floor n·4/2¹⁶ stays under ~2 candidates per
    * item — the family default (gate hashes untouched); above it the
    * doubled signature in 32-bit bands (same band count, 2¹⁶× deeper
    * keys) with tau scaled to the signature so the semantic bar —
    * flipped-bit FRACTION — is unchanged. Discrete, not continuous:
    * Hamming bands must tile 64-bit words, so the only widths are
    * 8/16/32/64 and the schedule is a threshold, not a formula. */
  val HammingMinN = 32768L

  def scheduledHammingGeometry(
      n: Long, default: (Int, Int, Int)): (Int, Int, Int) =
    if (n < HammingMinN) default
    else (2 * default._1, 32, 2 * default._3)

  /** The corpus dir plus the (name, size, mtime) fingerprint of its
    * embeddings: a regenerated corpus never keys stale state. */
  private[operators] def corpusKey(dir: String): String =
    dir + graft.mr.Fs.fingerprint(dir + "/embeddings.parquet")

  /** Corpus vector count, memoized per corpus fingerprint (one
    * metadata-cheap count job per corpus per session). */
  private val nVecsMemo = new Memo[java.lang.Long]()
  private[graft] def nVecs(s: SparkSession, dir: String): Long =
    nVecsMemo.getOrElseUpdate(s, corpusKey(dir),
      java.lang.Long.valueOf(Tables.embeddings(s, dir).count())).longValue()

  /** The geometry the hyperplane-LSH serve/build paths USE for this
    * corpus: the override if set, else the n-aware schedule. */
  def lshGeometryFor(s: SparkSession, dir: String): (Int, Int) =
    overrideLshGeometry.getOrElse(scheduledGeometry(nVecs(s, dir), (48, 4)))

  /** The schedule's choice at the SCHEDULE FLOOR for this corpus:
    * `scheduledGeometry(max(n, ScheduleMinN))`. Every gate corpus
    * sits below [[ScheduleMinN]] by design (hash stability), so the
    * n-aware path the 100 TB safety argument rides was never under
    * rows+schema+hash (r11 what's-missing #1); `ann_lsh_scheduled_
    * mass` serves THIS geometry — the schedule's first scheduled
    * point, (60, 15), NOT the (48, 4) family default — at every
    * corpus, and above the threshold it coincides with
    * [[lshGeometryFor]] exactly. */
  def lshScheduleFloorGeometryFor(s: SparkSession, dir: String): (Int, Int) =
    scheduledGeometry(math.max(nVecs(s, dir), ScheduleMinN), (48, 4))

  /** Static-accessor face of [[lshScheduleFloorGeometryFor]] for the
    * oracle strings: context-resolved when Verify has published the
    * corpus ([[GeometryContext]]), else the floor point itself —
    * which is also what the *For path returns on every sub-threshold
    * corpus, so oracle and engine agree everywhere. */
  def lshScheduleFloorGeometry: (Int, Int) =
    GeometryContext.resolve(scheduledGeometry(ScheduleMinN, (48, 4)))(
      lshScheduleFloorGeometryFor)

  /** Signature UDF for a hyperplane geometry: the historical BIGINT
    * form below 65 planes (hash-stable — every gate dial), the
    * BIGINT-array words form above ([[MultiWordPlanes]] tier). */
  private[operators] def sigUdfFor(planes: Int) =
    if (planes <= 64) hyperplaneSig(hyperplanes(planes, 64))
    else hyperplaneSigWords(hyperplanes(planes, 64))

  /** Numeric key of band `b` under `geo` from a signature column:
    * GLOBAL plane bits [b·bits, (b+1)·bits) — one-word via shift,
    * multi-word via per-word shift (bands never straddle words:
    * planes%64 == 0 and bits | 64 there). The same global-bit rule
    * the oracle SQL's `(p-1)//bits` replay uses at ANY geometry, so
    * engine and DuckDB partition items identically under every dial.
    * Mask, not mod: bit 63 makes a full word negative. */
  private[operators] def bandKeyNum(
      sigCol: Column, geo: (Int, Int), b: Int): Column = {
    val (planes, bb) = geo
    val mask = lit(if (bb == 64) -1L else (1L << bb) - 1)
    if (planes <= 64) shiftrightunsigned(sigCol, b * bb).bitwiseAND(mask)
    else {
      require(planes % 64 == 0 && 64 % bb == 0,
        s"multi-word geometry must tile words: $geo")
      shiftrightunsigned(element_at(sigCol, b * bb / 64 + 1), (b * bb) % 64)
        .bitwiseAND(mask)
    }
  }

  /** The `band:key` string columns every banded consumer explodes —
    * shared by the flat LSH serve, the NSW build/attach, and the
    * embedding-dedup face so no two paths can drift geometries. */
  private[operators] def bandKeyCols(
      sigCol: Column, geo: (Int, Int)): Seq[Column] =
    (0 until geo._1 / geo._2).map(b =>
      concat_ws(":", lit(b), bandKeyNum(sigCol, geo, b)))

  /** LSH-bucketed top-k: candidates share >= 1 of twelve 4-bit bands
    * of a 48-plane sign signature; exact cosine only within
    * candidates. The scale path — candidate count per probe is
    * corpus_fraction × bucket collision rate, not the whole corpus.
    * Band count is tuned for recall@5 ≥ 0.6 on the (near-random) test
    * embeddings — real corpora with true near-dup structure get far
    * better recall at the same band budget. */
  val annLshTopk: QueryFn = (s, dir) => {
    import s.implicits._
    rankTopK(lshCandidates(s, dir)
      .select($"pid", $"nid", cosine_sim($"pe", $"embedding").as("sim")), K)
  }

  /** The banded LSH candidate pairs (pid, nid, pe, embedding) behind
    * [[annLshTopk]] and [[annRadiusSearch]] — candidates share ≥ 1 of
    * twelve 4-bit bands of the 48-plane sign signature. */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val geo = lshGeometryFor(s, dir)
    val sig = sigUdfFor(geo._1)
    val corpus = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", sig($"embedding").as("sig"))
    def banded(df: DataFrame, idCol: String, embCol: String) = df
      .select(col(idCol), col(embCol),
        explode(array(bandKeyCols(col("sig"), geo): _*)).as("key"))
    val p = banded(probes(s, dir).withColumn("sig", sig($"pe")), "pid", "pe")
    val c = banded(corpus, "vec_id", "embedding")
    p.join(c, Seq("key"))
      .where($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"), $"pe", $"embedding").distinct()
  }

  /** Band-occupancy audit of the index built at the SCHEDULED
    * geometry (r11 what's-missing #1: the n-aware schedule carried
    * the 100 TB safety argument but no hashed gate row ever ran it —
    * every gate corpus sits below ScheduleMinN, so the scheduled
    * path was covered only by specs and the unhashed stress
    * decades). This row signs the corpus at
    * [[lshScheduleFloorGeometryFor]] — the schedule's own choice at
    * max(n, ScheduleMinN), (60, 15) at the gate, never the (48, 4)
    * family default — persists the signature index through
    * [[IndexStore]] (its `_META` records the schedule-chosen dial),
    * and reports per band: distinct keys, items, the deepest bucket,
    * and the admitted candidate-pair mass Σ C(bucket, 2) — the exact
    * quantity the stress guard bounds at 0.5% of corpus per item,
    * now under rows+schema+hash. A top-k serve at this dial would be
    * vacuously empty on the near-random gate embeddings (no pair
    * clears a 15-bit band); the mass audit is non-vacuous at every
    * corpus and is the schedule's load-bearing output anyway. */
  val annLshScheduledMass: QueryFn = (s, dir) =>
    lshMassAudit(s, dir, lshScheduleFloorGeometryFor(s, dir), "lsh_sched_sig")

  /** The same audit at the schedule's MULTI-WORD tier —
    * ([[MultiWordPlanes]], [[MultiWordBandBits]]) = (320, 32), the
    * dial `scheduledGeometry` exits to past the one-word exhaustion
    * point (n > 196 608) and the one that carried the sf10 stress
    * decade (r12 what's-missing #1: the tier that holds the
    * n ≥ 10⁶ claim was exercised only by the env-free stress run
    * and spec validation — no HASHED row ever extracted a band from
    * a words ≥ 2 signature). This row signs the corpus with the
    * 5×64-plane BIGINT-ARRAY signature, persists it through
    * [[IndexStore]] (`_META` records the dial), and hash-verifies
    * the per-word band extraction against the oracle's global
    * `(p-1)//bits` replay — the exact word/shift/mask arithmetic
    * the multi-word tier rides at the decade, now under
    * rows+schema+hash at every gate SF. */
  val annLshMultiwordMass: QueryFn = (s, dir) =>
    lshMassAudit(s, dir, (MultiWordPlanes, MultiWordBandBits), "lsh_mw_sig")

  /** Shared body of the mass-audit rows: build (or load) the
    * persisted signature index at `geo`, then per band report
    * distinct keys, items, deepest bucket, and the admitted
    * candidate-pair mass Σ C(bucket, 2) — the exact quantity the
    * stress guard bounds at 0.5% of corpus per item — plus the
    * min/max/sum of the distinct KEY VALUES themselves: on a
    * near-random gate corpus every deep-key bucket is a singleton,
    * so occupancy counts alone would pass any wrong-but-INJECTIVE
    * band extraction — the key statistics pin the actual extracted
    * values against the oracle's global `(p-1)//bits` arithmetic
    * (key_sum ≤ n·2³², inside BIGINT to n ≈ 2³⁰ per band; both
    * engines sum exact integers). Two stacked partial+final aggs
    * over the index, no join, no window (PlanAudit pins that shape
    * for both rows). */
  private def lshMassAudit(s: SparkSession, dir: String,
      geo: (Int, Int), store: String): DataFrame = {
    import s.implicits._
    val (planesN, bandBits) = geo
    val bands = planesN / bandBits
    val fp = graft.mr.Fs.fingerprint(dir + "/embeddings.parquet")
    val sigDf = IndexStore.frame(s, store,
      s"$fp:planes=$planesN:bits=$bandBits") {
      val sig = sigUdfFor(planesN)
      Tables.embeddings(s, dir).select($"vec_id", sig($"embedding").as("sig"))
    }
    val keyCols = (0 until bands).map { b =>
      struct(lit(b).cast("long").as("band"),
        bandKeyNum($"sig", (planesN, bandBits), b).as("k"))
    }
    sigDf
      .select(explode(array(keyCols: _*)).as("bk"))
      .groupBy($"bk.band".as("band"), $"bk.k".as("k"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_keys"),
        sum($"c").cast("long").as("n_items"),
        max($"c").as("max_bucket"),
        // integer DIV keeps the pair count exact past 2^53 (a double
        // /2 would round on billion-deep skew buckets)
        sum(expr("c * (c - 1) DIV 2")).cast("long").as("pair_mass"),
        min($"k").as("key_min"),
        max($"k").as("key_max"),
        sum($"k").cast("long").as("key_sum"))
      .orderBy($"band")
  }

  /** Radius threshold for [[annRadiusSearch]] — chosen so the report
    * is non-vacuous on the near-random test embeddings (a few dozen
    * pairs at every SF); real corpora tune this per modality. */
  val RadiusTau = 0.3

  /** Radius (range) search — ALL neighbors within cosine ≥ τ of each
    * probe, the other half of the ANN serving API (Faiss
    * `range_search` next to `search`): dedup wants "everything closer
    * than τ", not "the 5 closest". Same banded-LSH candidate
    * generation as [[annLshTopk]] — the scale path is identical
    * (candidates per probe ≈ corpus × collision rate, never the
    * corpus) — then an exact cosine filter. No top-k heap at all: the
    * output is the filtered set itself, so the only shuffle after the
    * band join is the final order. The oracle replays the same index,
    * so the report is hash-verified; recall vs the brute-force radius
    * is the spec's job (the LSH recall dial, as in ann_lsh_topk). */
  val annRadiusSearch: QueryFn = (s, dir) => {
    import s.implicits._
    lshCandidates(s, dir)
      .select($"pid", $"nid", cosine_sim($"pe", $"embedding").as("sim"))
      .where($"sim" >= RadiusTau)
      .select($"pid", $"nid", rnd($"sim", 4).as("sim"))
      .orderBy($"pid", $"nid")
  }

  /** SQ8 top-k: the corpus is scalar-quantized to 8 bits per dimension
    * (per-dim min/max affine code — 4× memory vs float32, the standard
    * first compression step for a billion-vector index), then scored
    * asymmetrically: full-precision probes against dequantized corpus
    * vectors (ADC). Quantize and dequantize are both map-side
    * transforms — zero extra shuffle vs the brute-force scan, and at
    * real scale the int8 codes are what you'd persist/bucket (compose
    * with the IVF cell routing above for the full IVF+SQ index). The
    * per-dim min/max bounds are a 64-row aggregate collected as
    * literals, exactly like the IVF centroids. */
  val annSq8Topk: QueryFn = (s, dir) => {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val bounds = emb
      .select(posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"pos")
      .agg(min($"x".cast("double")).as("lo"), max($"x".cast("double")).as("hi"))
      .orderBy($"pos").collect()
    val lo = bounds.map(_.getDouble(1))
    val scale = bounds.map(r => math.max(r.getDouble(2) - r.getDouble(1), 1e-12))
    val loLit = typedLit(lo.toSeq); val scaleLit = typedLit(scale.toSeq)
    // encode (what a real index stores), then decode — separate
    // selects so neither array expression is inlined into the other
    val codes = emb.select($"vec_id",
      transform($"embedding", (x, i) =>
        round((x.cast("double") - element_at(loLit, i + 1)) /
          element_at(scaleLit, i + 1) * 255).cast("int")).as("q"))
    val recon = codes.select($"vec_id",
      transform($"q", (v, i) =>
        element_at(loLit, i + 1) +
          v.cast("double") / 255.0 * element_at(scaleLit, i + 1)).as("emb_hat"))
    val cands = recon
      .join(broadcast(probes(s, dir)), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"), cosine_sim($"pe", $"emb_hat").as("sim"))
    rankTopK(cands, K)
  }

  val PqSubspaces = 16  // 64 dims → 16 sub-vectors of 4 dims
  /** PQ codebook, indexed (subspace)(code)(dim). */
  type Codebook = Array[Array[Array[Double]]]
  val PqCodes = 16      // 4-bit codes: 16 × 4 bits = 8 bytes per vector
  val PqShortlist = 50  // ADC shortlist per probe, re-ranked exactly

  /** (vec_id, embedding, emb): the embeddings with their normalized
    * double-array view `emb`. PQ quantizes the NORMALIZED vector —
    * cosine ranking only cares about direction, so spending codebook
    * resolution on magnitude wastes bits (visible on these random
    * vectors: +0.2 recall@5). */
  private def normalizedEmb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", asDouble($"embedding").as("raw"))
      .select($"vec_id", $"embedding", $"raw", l2norm($"raw").as("nrm")) // materialize:
      // the norm would otherwise inline (and re-run) per element below
      .select($"vec_id", $"embedding", transform($"raw", x => x / $"nrm").as("emb"))
  }

  /** PQ encode: per-subspace L2 argmin against the codebook, as a
    * primitive-array UDF with the codebook in closure (ties break to
    * the lower code). The declarative forms both lose badly here:
    * r2's unrolled per-code struct array × per-subspace when-chain
    * was a codegen pressure bomb (14.7 s at sf0.1), and the
    * data-driven transform×aggregate×zip_with nesting evaluates
    * interpreted at ~60 ms/row (measured 118 s for 2000 rows) — a
    * tight while-loop over primitive arrays is the same pattern as
    * [[graft.functions.Hashes.simhash64]] and runs the whole corpus
    * map-side in milliseconds. */
  private def pqEncode(cb: Codebook, subDim: Int) =
    udf { (emb: Seq[Double]) =>
      val v = emb.toArray
      Array.tabulate(cb.length) { m =>
        val codes = cb(m)
        var best = 0; var bestD = Double.MaxValue; var j = 0
        while (j < codes.length) {
          val c = codes(j); var d = 0.0; var i = 0
          while (i < subDim) { val x = v(m * subDim + i) - c(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        best
      }
    }

  /** PQ decode: codes → codebook reconstruction (the ADC scan reads
    * this map-side; nothing is shuffled). */
  private def pqDecode(cb: Codebook, subDim: Int) =
    udf { (codes: Seq[Int]) =>
      val out = new Array[Double](cb.length * subDim)
      var m = 0
      while (m < cb.length) {
        System.arraycopy(cb(m)(codes(m)), 0, out, m * subDim, subDim)
        m += 1
      }
      out
    }

  /** FNV-1a of a column's string form — the sampling/ordering hash
    * for PQ training. FNV (not xxhash64) so the DuckDB oracle can
    * replay the sample selection and the spread init exactly (same
    * reasoning as the dedup shingle hash); a sampling hash needs
    * dispersion, not cryptographic strength. */
  private val fnvOf = udf((x: String) => graft.functions.Hashes.fnv64(x))

  /** PQ codebook training over a (vec_id, emb) frame: [[Quantizer]]
    * trains `pq` on the normalized vectors and `pq_residual` on the
    * (vector − cell direction) residuals, once per corpus, so the
    * query-time cost is encode+scan, not training. Scale-shaped: it
    * fits on a deterministic ~25% hash sample (a billion-vector
    * corpus trains codebooks on a sliver), init spreads over the
    * sample by hash order instead of r2's first-16-rows, and each of
    * the 3 Lloyd rounds is one map-side argmin + one (sub, code, pos)
    * agg of 16×16×4 keys — nothing corpus-sized reaches the driver. */
  private def trainPqOn(s: SparkSession, vecs: DataFrame): Codebook = {
    import s.implicits._
    val subDim = 64 / PqSubspaces
    val quarter = vecs
      .where(fnvOf($"vec_id".cast("string")).bitwiseAND(lit(3L)) === 0)
    // tiny corpora (specs) train on everything; the sample path is
    // the one that matters at scale
    val sample =
      Checkpoints.cut(if (quarter.count() >= PqCodes * 2L) quarter else vecs)
    var cb: Codebook = sample
      .orderBy(fnvOf(concat(lit("i"), $"vec_id".cast("string")))
        .bitwiseAND(lit((1L << 20) - 1)), $"vec_id")
      .limit(PqCodes)
      .select($"emb").as[Seq[Double]].collect()
      .map(v => (0 until PqSubspaces).map(m =>
        v.slice(m * subDim, (m + 1) * subDim).toArray).toArray)
      .transpose // (code)(sub)(dim) → (sub)(code)(dim)
    for (_ <- 1 to 3) {
      // one map-side encode + one (sub, code, pos) agg of 16×16×4
      // keys per Lloyd round; generators can't share a select, so
      // the two posexplodes chain through an intermediate projection.
      // The mean is decimal-exact (like the IVF centroids): plain
      // avg() would expose partial-aggregation float association
      // and no second engine could reproduce the codebooks
      val sums = sample
        .select($"emb", posexplode(pqEncode(cb, subDim)($"emb")).as(Seq("sub", "code")))
        .select($"sub", $"code",
          posexplode(slice($"emb", $"sub" * subDim + 1, lit(subDim))).as(Seq("pos", "v")))
        .groupBy($"sub", $"code", $"pos")
        .agg((sum($"v".cast("decimal(27,10)")).cast("double") / count(lit(1))).as("m"))
        .collect()
      val next = Array.tabulate(PqSubspaces)(m => cb(m).map(_.clone()))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      cb = next
    }
    cb
  }

  /** PQ top-k: product quantization — the corpus is stored as
    * `PqSubspaces` small codebook indices (4 bits each: 32× less
    * memory than float32, the standard billion-vector main store,
    * composable with the IVF routing above for IVF-PQ). Serving is
    * the standard two-stage plan: ADC scan (full-precision probe vs
    * map-side codebook reconstruction, zero extra shuffle) ranks a
    * `PqShortlist` per probe through the native TopKPerKey operator,
    * then ONLY the shortlist is re-ranked with exact cosine against
    * the full-precision vectors — at 100 TB that second stage touches
    * probes × 50 rows, so the recall/cost knob is the shortlist
    * size, not the corpus scan. */
  val annPqTopk: QueryFn = (s, dir) => {
    import s.implicits._
    val subDim = 64 / PqSubspaces
    val cb = Quantizer.open(s, dir).pq
    val emb = normalizedEmb(s, dir)

    // encode (the 8-byte payload a real index persists), then
    // reconstruct + ADC-score asymmetrically — decode stays map-side
    val codes = emb.select($"vec_id", pqEncode(cb, subDim)($"emb").as("codes"))
    val recon = codes.select($"vec_id", pqDecode(cb, subDim)($"codes").as("emb_hat"))
    pqRerank(s, dir, recon
      .join(broadcast(probes(s, dir)), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"),
        cosine_sim($"pe", $"emb_hat").as("sim")))
  }

  /** The PQ serve paths' second stage: the [[PqShortlist]] best ADC
    * candidates (pid, nid, sim) per probe through the native
    * TopKPerKey, then the exact re-rank of that tiny shortlist
    * (probes × PqShortlist rows) against the full-precision vectors. */
  private def pqRerank(s: SparkSession, dir: String, adc: DataFrame): DataFrame = {
    import s.implicits._
    val shortlist = graft.plans.TopK.perKey(
      adc.withColumn("sim_r", rnd($"sim", 6)),
      keyCols = Seq("pid"),
      orderCols = Seq("sim_r" -> false, "nid" -> true),
      k = PqShortlist).select($"pid", $"nid")
    val rerank = shortlist
      .join(Tables.embeddings(s, dir).select($"vec_id".as("nid"), $"embedding".as("ne")), "nid")
      .join(broadcast(probes(s, dir)), "pid")
      .select($"pid", $"nid", cosine_sim($"pe", $"ne").as("sim"))
    rankTopK(rerank, K)
  }

  /** PQ reconstruction-DISTORTION panel — the third leg of ANN
    * quality monitoring (drift says the corpus moved, recall says
    * serving slipped; THIS says the codebook itself is losing
    * geometry): per-vector cosine between the original and its
    * 8-byte PQ reconstruction, folded into fidelity bands with
    * per-band mean/min. A codebook trained on stale data shows up
    * here as mass sliding into the low bands BEFORE recall visibly
    * degrades. Cosine is scale-invariant, so the raw vector vs the
    * normalized-space reconstruction is the right comparison (and
    * the oracle computes the identical pairs from its own replayed
    * index including training). Map-side encode/decode, one band
    * fold — 4 rows out of any corpus. */
  val embPqDistortion: QueryFn = (s, dir) => {
    import s.implicits._
    val subDim = 64 / PqSubspaces
    val cb = Quantizer.open(s, dir).pq
    val codes = normalizedEmb(s, dir)
      .select($"vec_id", pqEncode(cb, subDim)($"emb").as("codes"))
    val recon = codes.select($"vec_id", pqDecode(cb, subDim)($"codes").as("hat"))
    val dist = recon
      .join(Tables.embeddings(s, dir).select($"vec_id", $"embedding"), "vec_id")
      .select(cosine_sim($"embedding", $"hat").as("c"))
    dist.select($"c",
        when($"c" >= 0.9, "a_ge_090").when($"c" >= 0.8, "b_080_090")
          .when($"c" >= 0.7, "c_070_080").otherwise("d_lt_070").as("band"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_vecs"),
        rnd(xsum($"c") / count(lit(1)), 6).as("mean_cos"),
        rnd(min($"c"), 6).as("min_cos"))
      .orderBy($"band")
  }

  val IvfProbeCells = 6

  /** Coarse-quantizer (cell, centroid) rows of `vecs`: per-label
    * elementwise mean, decimal-exact (per-element float→double is
    * bit-identical across engines and decimal accumulation is
    * order-independent, so a DuckDB oracle recomputes the SAME
    * centroids — plain avg() would expose partial-agg float
    * association). Tiny by construction → collected and embedded as
    * literals. */
  private def centroidRows(vecs: DataFrame): DataFrame =
    vecs
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("x").cast("decimal(27,10)")).cast("double") / count(lit(1))).as("m"))
      .groupBy(col("label")).agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label").cast("int").as("cell"),
        transform(col("pm"), p => p.getField("m")).as("centroid"))

  /** The persisted `cent` part of an index attempt, by cell. */
  private def readCentroids(s: SparkSession, idx: String): Seq[(Int, Seq[Double])] =
    s.read.parquet(s"$idx/cent").collect().toSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)

  /** Per-cell (sim, cell) structs for one embedding column. Always
    * materialize the result in its own select before any multi-use
    * consumer (the r1 inlining trap). */
  private def cellScores(cellsLit: Column)(embCol: Column) =
    transform(cellsLit, c => struct(
      rnd(cosine_sim(embCol, c.getField("_2")), 6).as("sim"),
      c.getField("_1").as("cell")))

  /** A coarse quantizer's centroids, embedded as LITERALS, and the
    * map-side routing every IVF path does with them: a vector's
    * nearest cell is an argmax inside one projection — zero Exchange
    * between the corpus scan and the cell key (r1 used crossJoin + a
    * window partitioned by vec_id, which shuffled the whole corpus ×
    * cells; PlanAudit asserts the shuffle-free shape now). Shared by
    * the full-corpus [[Quantizer]] and the base-corpus [[IvfIndex]]. */
  private[operators] sealed trait Cells {
    def cents: Seq[(Int, Seq[Double])]

    /** Native argmax-cell for the CORPUS-scale assignment scans (r13,
      * guide §1.2 "per-task work" — the
      * [[graft.functions.MinHashSigExpr]] precedent): a declarative
      * [[cellScores]] + aggregate fold evaluates interpreted
      * (higher-order functions never enter whole-stage codegen), so
      * every corpus row would pay |cells| interpreted expression trees
      * plus struct-array allocation. The
      * [[graft.functions.CellArgmax]] expression computes per-cell
      * cosine in [[cosine_sim]]'s exact left-to-right double
      * accumulation, the same floor(x·10⁶ + 0.5)/10⁶ rounding as
      * [[cellScores]], argmax by (sim desc, cell asc) under Spark's SQL
      * double ordering — in one codegen loop, with no array cast or
      * boxing (floats read in place). The tiny PROBE-side top-nprobe
      * sort ([[probeCells]]) keeps [[cellScores]]: it runs on
      * [[NumProbes]] rows, not the corpus. Bit-equality is re-proven by
      * the sf0.001/sf0.01 oracle gate on every IVF-family row. */
    def assign(emb: Column): Column = cell_argmax(emb, cents)

    /** Probes exploded to their top `nprobe` cells (sort the tiny
      * scored array per row, slice, explode) — map-side. */
    def probeCells(s: SparkSession, dir: String,
        nprobe: Int = IvfProbeCells): DataFrame = {
      import s.implicits._
      probes(s, dir)
        .select($"pid", $"pe", cellScores(typedLit(cents))($"pe").as("scored"))
        .select($"pid", $"pe", explode(slice(array_sort($"scored",
          (l, r) => when(l.getField("sim") > r.getField("sim"), -1)
            .when(l.getField("sim") < r.getField("sim"), 1)
            .when(l.getField("cell") < r.getField("cell"), -1)
            .when(l.getField("cell") > r.getField("cell"), 1)
            .otherwise(0)), 1, nprobe)).as("sc"))
        .select($"pid", $"pe", $"sc.cell".as("cell"))
    }
  }

  /** The trained quantizer of one corpus: the full-corpus centroids
    * (`cent`) and two [[trainPqOn]] codebooks, `pq` over the
    * normalized vectors and `pq_residual` over [[residuals]]. One
    * build commits the three parts to one [[IndexStore]] attempt
    * keyed like [[IvfIndex]] by the corpus fingerprint; each session
    * collects them once. Every IVF serve path, the flat PQ paths and
    * the NSW medoid entries read centroids and codebooks only from
    * here, so a warm request trains nothing (Faiss-style IVF: train
    * once, then add and search). Parquet keeps doubles exactly. */
  private[operators] final case class Quantizer(cents: Seq[(Int, Seq[Double])],
      pq: Codebook, pqResidual: Codebook) extends Cells

  private[operators] object Quantizer {
    val Name = "quantizer"
    private val Version = "v1"

    def key(dir: String): String = Version + ":" + corpusKey(dir)

    def open(s: SparkSession, dir: String): Quantizer = {
      import s.implicits._
      IndexStore.open(s, Name, key(dir)) { out =>
        centroidRows(Tables.embeddings(s, dir)).write.parquet(s"$out/cent")
        val cents = readCentroids(s, out)
        Seq("pq" -> normalizedEmb(s, dir), "pq_residual" -> residuals(s, dir, cents))
          .foreach { case (part, vecs) =>
            val cb = trainPqOn(s, vecs.select($"vec_id", $"emb"))
            Seq(cb.map(_.map(_.toSeq).toSeq).toSeq).toDF("cb").write.parquet(s"$out/$part")
          }
      } { a =>
        def cb(part: String): Codebook = s.read.parquet(s"$a/$part")
          .as[Seq[Seq[Seq[Double]]]].head().map(_.map(_.toArray).toArray).toArray
        Quantizer(readCentroids(s, a), cb("pq"), cb("pq_residual"))
      }
    }
  }

  /** The IVF serve path at a caller-chosen probe width — the
    * recall/cost dial every real deployment tunes (`nprobe` in
    * Faiss): more probed cells = more of the corpus scanned = higher
    * recall, linearly more ADC work. The gate query pins
    * nprobe = [[IvfProbeCells]]; DedupAnnSpec sweeps the dial and
    * asserts recall is monotone non-decreasing in nprobe and exact
    * at nprobe = n_cells (full scan ⇒ brute-force parity). */
  /** The IVF candidate stream (pid, nid, sim) for a probe budget —
    * shared by the top-k serve path and [[annRecallPanel]]. */
  private def ivfCandidates(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val q = Quantizer.open(s, dir)
    val assigned = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", q.assign($"embedding").as("cell"))
    q.probeCells(s, dir, nprobe).join(assigned, Seq("cell"))
      .where($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"), cosine_sim($"pe", $"embedding").as("sim"))
  }

  def ivfTopkWithProbes(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    rankTopK(ivfCandidates(s, dir, nprobe), K)

  val annIvfTopk: QueryFn = (s, dir) => ivfTopkWithProbes(s, dir, IvfProbeCells)

  /** Recall@k curve depth. */
  val RecallPanelK = 10

  /** ANN recall@k EVALUATION panel — the index what q_model_gains is
    * to the classifier: for every k ≤ [[RecallPanelK]], the IVF
    * serve path's recall against the exact ranking, as a QUERY (the
    * recall specs assert single points; this materializes the whole
    * curve, which is what an index tuning review reads). Both
    * rankings are deterministic (rounded-sim, nid tiebreak), their
    * intersection is exact integer counting, and recall is one
    * division — the curve hash-verifies, unusual for an eval
    * artifact. The k-fold runs on the ≤k·probes matched pairs — the
    * corpus work is the two candidate streams it already shares
    * with the serve paths. */
  val annRecallPanel: QueryFn = (s, dir) => {
    import s.implicits._
    val iv = rankTopK(ivfCandidates(s, dir, IvfProbeCells), RecallPanelK)
      .select($"pid", $"nid", $"rnk".as("ri"))
    val ex = rankTopK(
      Tables.embeddings(s, dir)
        .join(broadcast(probes(s, dir)), $"vec_id" =!= $"pid")
        .select($"pid", $"vec_id".as("nid"), cosine_sim($"pe", $"embedding").as("sim")),
      RecallPanelK)
      .select($"pid", $"nid", $"rnk".as("re"))
    val matched = iv.join(ex, Seq("pid", "nid")).transform(Checkpoints.cut)
    val ks = (1 to RecallPanelK).toDF("k")
    ks.crossJoin(matched)
      .groupBy($"k")
      .agg(sum(when($"ri" <= $"k" && $"re" <= $"k", 1L).otherwise(0L)).as("n_hits"))
      .select($"k".cast("long").as("k"), $"n_hits",
        rnd($"n_hits".cast("double") / ($"k" * NumProbes).cast("double"), 6).as("recall"))
      .orderBy($"k")
  }

  /** The SAME exact top-k, but written as a SQL STRING against the
    * registered custom expression — the API-surface proof that a
    * `spark.sql` user gets the native codegen [[graft.functions
    * .CosineSim]] without touching the Scala DSL (the
    * `GraftExtensions` injection path, exercised imperatively so a
    * plain gate session works; on a clone of `s`). Shares
    * `ann_bruteforce_topk`'s oracle verbatim: same plan class, same
    * result, different front door. */
  val qSqlCosineTopk: QueryFn = (s, dir) => {
    val child = org.apache.spark.sql.graft.ColumnBridge.cloneSession(s)
    graft.functions.VectorExpressions.register(child)
    Tables.embeddings(child, dir).createOrReplaceTempView("emb_v")
    child.sql(
      s"""WITH probes AS (SELECT vec_id AS pid, embedding AS pe FROM emb_v WHERE vec_id < ${NumProbes}),
         |cands AS (
         |  SELECT pid, e.vec_id AS nid, cosine_sim(pe, e.embedding) AS sim
         |  FROM probes JOIN emb_v e ON e.vec_id <> pid),
         |rk AS (SELECT pid, nid, sim,
         |  row_number() OVER (PARTITION BY pid
         |    ORDER BY floor(sim*1000000 + 0.5)/1000000 DESC, nid) AS rnk
         |  FROM cands)
         |SELECT pid, CAST(rnk AS BIGINT) AS rnk, nid,
         |  floor(sim*10000 + 0.5)/10000 AS sim
         |FROM rk WHERE rnk <= $K ORDER BY pid, rnk""".stripMargin)
  }

  /** IVF-PQ: the composed billion-vector index — coarse IVF routing
    * (map-side argmax over centroid literals) over PQ-compressed
    * vectors (8 B/vector), exactly the memory/scan layout a real
    * large-scale index persists. One projection computes BOTH the
    * cell and the PQ codes for every vector (no join between the two
    * index structures), the probed cells restrict the ADC scan to
    * `IvfProbeCells / n_cells` of the corpus (vs [[annPqTopk]]'s full
    * scan), and the 50-candidate shortlist is exact-re-ranked like
    * the flat PQ path. Refinement at real scale: encode residuals
    * (vector − cell centroid) instead of raw vectors for tighter
    * codebooks; the plumbing is identical. */
  val annIvfPqTopk: QueryFn = (s, dir) => {
    import s.implicits._
    val subDim = 64 / PqSubspaces
    val q = Quantizer.open(s, dir)
    // one map-side pass: cell assignment + PQ encode + ADC decode
    val corpus = normalizedEmb(s, dir)
      .select($"vec_id", q.assign($"embedding").as("cell"),
        pqEncode(q.pq, subDim)($"emb").as("codes"))
      .select($"vec_id", $"cell",
        pqDecode(q.pq, subDim)($"codes").as("emb_hat"))
    pqRerank(s, dir, q.probeCells(s, dir).join(corpus, Seq("cell"))
      .where($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"), cosine_sim($"pe", $"emb_hat").as("sim")))
  }

  /** Per-cell unit DIRECTION of each IVF centroid, as a map literal —
    * the anchor the residual index encodes against. The norm is a
    * left-to-right sum of squares, so the oracle's list_reduce
    * reproduces every division bit-for-bit. */
  private def cellDirLit(cells: Seq[(Int, Seq[Double])]): org.apache.spark.sql.Column =
    typedLit(cells.map { case (c, v) =>
      var ss = 0.0
      v.foreach(x => ss += x * x)
      val n = math.sqrt(ss)
      c -> v.map(_ / n)
    }.toMap)

  /** Residual-encoded IVF-PQ (the Faiss `IVFxx,PQyy` layout, SURVEY §7
    * r4 item): instead of PQ-coding the vector itself, code the
    * RESIDUAL (normalized vector − its cell's unit direction). Within
    * one cell the residuals span a far tighter cloud than the raw
    * corpus, so the same 16×16 codebook budget quantizes with less
    * error — on clustered real embeddings this is the difference
    * between a usable and a wasted 8-byte code. Serve-side identical
    * to [[annIvfPqTopk]]: probed-cell ADC scan (reconstruction =
    * cell direction + decoded residual), 50-candidate shortlist
    * through the native TopKPerKey, exact re-rank. Same plan shape,
    * same shuffles — the residual subtraction/addition are free
    * map-side arithmetic. Oracle: the ENTIRE index is replayed in
    * DuckDB, residual codebook training included. */
  val annIvfPqResidualTopk: QueryFn = (s, dir) => {
    import s.implicits._
    val subDim = 64 / PqSubspaces
    val q = Quantizer.open(s, dir)
    val corpus = residuals(s, dir, q.cents)
      .select($"vec_id", $"cell", pqEncode(q.pqResidual, subDim)($"emb").as("codes"))
      .select($"vec_id", $"cell",
        zip_with(pqDecode(q.pqResidual, subDim)($"codes"),
          element_at(cellDirLit(q.cents), $"cell"), (r, c) => r + c).as("emb_hat"))
    pqRerank(s, dir, q.probeCells(s, dir).join(corpus, Seq("cell"))
      .where($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"), cosine_sim($"pe", $"emb_hat").as("sim")))
  }

  /** (vec_id, cell, emb): each normalized vector minus the unit
    * direction of its cell — the frame the `pq_residual` codebook
    * trains on and [[annIvfPqResidualTopk]] encodes. */
  private def residuals(s: SparkSession, dir: String,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import s.implicits._
    normalizedEmb(s, dir)
      .select($"vec_id", $"emb", cell_argmax($"embedding", cents).as("cell"))
      .select($"vec_id", $"cell",
        zip_with($"emb", element_at(cellDirLit(cents), $"cell"), (a, b) => a - b).as("emb"))
  }

  /** Per-dimension embedding-corpus QA panel — the health check run
    * BEFORE any index build: per dim, mean / variance / range over
    * the whole corpus (dead dims → variance ≈ 0 kill PQ subspaces;
    * scale-skewed dims distort SQ8 bounds; range blowouts flag
    * ingestion bugs). Shape: one posexplode + one (dim)-keyed
    * partial+final agg — 64 output rows at any corpus size.
    * Determinism: decimal-exact Σx and Σx², variance derived as
    * Σx²/n − (Σx/n)² from those exact sums with identical IEEE steps
    * both engines; min/max are exact. */
  /** IVF cell-occupancy BALANCE — the serving-health panel a
    * cell-partitioned vector index is operated by: probe cost and
    * tail latency follow the HOTTEST probed cell, and a drifting
    * corpus concentrates mass until "retrain the quantizer" is the
    * action ([[annIncrementalTopk]]'s doc: "periodic retrain only
    * when cell occupancy drifts" — this is the panel that decision
    * reads). The whole corpus routes through the persisted frozen
    * quantizer (map-side, zero shuffle — the same projection the
    * streaming ingest face uses), one partial+final agg histograms
    * the cells, and each cell reports its load factor n·K/N (1.0 =
    * perfectly even; the max row is the tail-latency multiplier).
    * The oracle replays quantizer training AND assignment (the
    * ann_ivf_topk CTEs) plus the histogram, so a routing slip or a
    * drifted persisted index hash-fails. */
  val embIvfBalance: QueryFn = (s, dir) => {
    import s.implicits._
    val k = IvfIndex.open(s, dir).cents.length
    val assigned = routeWithFrozenQuantizer(s, dir)(
      Tables.embeddings(s, dir).select($"vec_id", $"embedding"))
    val counts = assigned.groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
      .transform(Checkpoints.cut) // two consumers: the total probe + output
    val tot = counts.agg(sum($"n_vecs")).head.getLong(0)
    counts.select($"cell".cast("long").as("cell"), $"n_vecs",
        rnd($"n_vecs".cast("double") * k / tot, 4).as("load"))
      .orderBy($"cell")
  }

  /** Embedding QUARANTINE — the ingest hygiene gate in front of
    * every index build: vectors with NaN components, zero norm, or
    * out-of-range magnitudes corrupt centroids and cosine rankings
    * silently (NaN poisons every dot product it touches), so a real
    * pipeline rejects them before `add`. The synthetic corpus is
    * clean, so — the PII-fixture discipline — BOTH engines inject
    * the same deterministic defects (doc-id-derived NaN / zeroed /
    * exploded vectors) and the gate's classification is verified on
    * known-nonzero quarantine classes. First-match priority
    * nan > zero_norm > out_of_range keeps multi-defect vectors
    * deterministic. Map-only scan + a ≤4-row fold. */
  val embQuarantine: QueryFn = (s, dir) => {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val fixed = emb.select($"vec_id",
      when($"vec_id" % 23 === 0,
        transform($"embedding", (x, i) =>
          when(i === ($"vec_id" % 64).cast("int"),
            lit(Float.NaN)).otherwise(x)))
        .when($"vec_id" % 29 === 0,
          transform($"embedding", _ => lit(0.0f)))
        .when($"vec_id" % 31 === 0,
          transform($"embedding", (x, i) =>
            when(i === ($"vec_id" % 64).cast("int"),
              lit(1.0e30f)).otherwise(x)))
        .otherwise($"embedding").as("e"))
    val reason =
      when(exists($"e", x => isnan(x.cast("double"))), "nan")
        .when(aggregate($"e", lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")) === 0.0, "zero_norm")
        .when(exists($"e", x => abs(x.cast("double")) > 1e6), "out_of_range")
        .otherwise("pass")
    fixed.select($"vec_id", reason.as("reason"))
      .groupBy($"reason")
      .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("first_vec"))
      .orderBy($"reason")
  }

  val embDimStats: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select(posexplode($"embedding").as(Seq("pos", "xf")))
      .select($"pos".cast("long").as("pos"), $"xf".cast("double").as("x"))
      .groupBy($"pos")
      .agg(count(lit(1)).as("n"),
        xsum($"x").as("sx"), xsum($"x" * $"x").as("sxx"),
        min($"x").as("mn"), max($"x").as("mx"))
      .select($"pos", $"n",
        rnd($"sx" / $"n", 6).as("mean"),
        rnd($"sxx" / $"n" - ($"sx" / $"n") * ($"sx" / $"n"), 9).as("variance"),
        rnd($"mn", 6).as("min_x"), rnd($"mx", 6).as("max_x"))
      .orderBy($"pos")
  }

  /** Hamming-shortlist size for [[annBqTopk]] — candidates per probe
    * that survive the 1-bit stage and pay the exact rerank. */
  val BqShortlist = 64

  /** BINARY-QUANTIZATION top-k — the 1-bit-per-dimension serving path
    * (64× smaller than float32: the whole signature of a 64-dim
    * vector is ONE machine word, and at 10⁹ vectors the index drops
    * from 256 GB to 8 GB — RAM-resident on one box). Stage 1 ranks by
    * Hamming distance between sign signatures (bit i = dimension i
    * > 0 — data dims directly, unlike the LSH family's random
    * hyperplanes); stage 2 reranks the [[BqShortlist]] survivors with
    * exact cosine. This asymmetric shape (cheap bit scan → exact
    * rerank of a bounded shortlist) is the standard modern layout
    * (binary/RaBitQ-style quantization in Faiss/Milvus serving).
    *
    * Exactness: signatures live as TWO 32-bit halves in BIGINT-safe
    * range — a single 64-bit word would set bit 63 and the engines
    * disagree on signed overflow (Spark Long wraps, DuckDB list_sum
    * widens to HUGEINT); Hamming = popcount(xor) per half, summed.
    * Shortlist ties break (hamming asc, vec_id asc); rerank ties on
    * the 1e-6-rounded sim then nid — fully replayed by the oracle.
    *
    * Scale shape: signature build is one map-side pass; the Hamming
    * stage shuffles ≤ shortlist rows per (partition, probe) through
    * TopK.perKey's bounded heaps; only shortlist-sized frames reach
    * the float rerank. */
  /** One 32-bit half of the 64-dim sign signature — Horner fold,
    * MSB-first: acc·2 + bit, pure Long arithmetic, value =
    * Σ bit_j·2^j ≤ 2^32 (shiftleft needs a literal count). Shared by
    * [[annBqTopk]], [[annIvfBqTopk]] and [[annIvfBqRecall]]. */
  private def sigHalf(e: org.apache.spark.sql.Column, base: Int) =
    aggregate(
      sequence(lit(base + 31), lit(base), lit(-1)),
      lit(0L),
      (a, j) => a * 2 +
        when(element_at(e, j + 1) > 0.0f, lit(1L)).otherwise(lit(0L)))

  val annBqTopk: QueryFn = (s, dir) => {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding",
        sigHalf($"embedding", 0).as("lo"), sigHalf($"embedding", 32).as("hi"))
      .transform(Checkpoints.cut)
    val p = emb.where($"vec_id" < NumProbes)
      .select($"vec_id".as("pid"), $"embedding".as("pe"),
        $"lo".as("plo"), $"hi".as("phi"))
    val ham = emb.join(broadcast(p), $"vec_id" =!= $"pid")
      .select($"pid", $"pe", $"vec_id".as("nid"), $"embedding",
        (bit_count($"lo".bitwiseXOR($"plo")) +
          bit_count($"hi".bitwiseXOR($"phi"))).cast("long").as("hamming"))
    val shortlist = graft.plans.TopK.perKey(ham,
      keyCols = Seq("pid"),
      orderCols = Seq("hamming" -> true, "nid" -> true),
      k = BqShortlist)
    rankTopK(shortlist
      .select($"pid", $"nid", $"hamming",
        cosine_sim($"pe", $"embedding").as("sim"))
      .select($"pid", $"nid", $"sim"), K)
  }

  /** IVF × BQ — the composed 10⁹-vector SERVING layout (r8 verdict
    * #6): coarse-quantize the corpus into the IVF cells, store the
    * 1-bit sign signatures IN-LIST, Hamming-scan only the probed
    * lists, exact-rerank the survivors. Where [[annBqTopk]] bit-scans
    * the WHOLE corpus (8 GB of signatures at 10⁹ vectors — RAM-
    * resident but still a full pass per probe), this touches
    * `nprobe / n_cells` of the signature store — the memory layout of
    * bq with the scan discipline of IVF, which is what production
    * binary-quantized indexes (Faiss IVF+RaBitQ-class) actually
    * deploy.
    *
    * Plan shape: ONE map-side projection computes each vector's cell
    * (argmax over centroid literals) AND its signature halves — no
    * join between the two index structures; probes explode to their
    * top-6 cells and broadcast; the Hamming stage shuffles ≤
    * [[BqShortlist]] rows per (partition, probe) through TopKPerKey
    * bounded heaps; only shortlist-sized frames reach the float
    * rerank. A corpus vector lives in exactly one cell, so the cell
    * join yields each (probe, candidate) pair at most once — no
    * distinct. Exactness: same two-32-bit-half signature discipline
    * as [[annBqTopk]]; the oracle replays the ENTIRE composed index
    * (centroid training included). */
  val annIvfBqTopk: QueryFn = (s, dir) => {
    import s.implicits._
    val q = Quantizer.open(s, dir)
    val corpus = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", q.assign($"embedding").as("cell"),
        sigHalf($"embedding", 0).as("lo"), sigHalf($"embedding", 32).as("hi"))
    val pc = q.probeCells(s, dir)
      .select($"pid", $"pe", $"cell",
        sigHalf($"pe", 0).as("plo"), sigHalf($"pe", 32).as("phi"))
    val ham = corpus.join(broadcast(pc), Seq("cell"))
      .where($"vec_id" =!= $"pid")
      .select($"pid", $"pe", $"vec_id".as("nid"), $"embedding",
        (bit_count($"lo".bitwiseXOR($"plo")) +
          bit_count($"hi".bitwiseXOR($"phi"))).cast("long").as("hamming"))
    val shortlist = graft.plans.TopK.perKey(ham,
      keyCols = Seq("pid"),
      orderCols = Seq("hamming" -> true, "nid" -> true),
      k = BqShortlist)
    rankTopK(shortlist
      .select($"pid", $"nid", cosine_sim($"pe", $"embedding").as("sim")), K)
  }

  /** EQUAL-BUDGET recall panel for the binary-quantized serving
    * layouts (the second half of r8 verdict #6): bq-only (full-corpus
    * Hamming scan), ivf-only (probed-cell scan in LIST ORDER — the
    * early-termination budget cut a scan-until-budget IVF pays), and
    * ivf×bq (probed-cell Hamming) each admit AT MOST [[BqShortlist]]
    * candidates per probe into the exact rerank, and the panel
    * reports each method's recall@[[K]] against the brute-force
    * truth at that identical candidate budget — the apples-to-apples
    * number an index reviewer actually needs (raw recall comparisons
    * across methods with different candidate masses say nothing
    * about the layout).
    *
    * Everything is deterministic (integer Hamming, nid tiebreaks,
    * 1e-6-rounded rerank), so the panel hash-verifies with the full
    * index replay — including the centroid training — in the oracle.
    * Scale shape: three bounded-heap shortlists over streams the
    * serve paths already compute; the final fold is 3 rows. */
  val annIvfBqRecall: QueryFn = (s, dir) => {
    import s.implicits._
    val q = Quantizer.open(s, dir)
    val corpus = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", q.assign($"embedding").as("cell"),
        sigHalf($"embedding", 0).as("lo"), sigHalf($"embedding", 32).as("hi"))
      .transform(Checkpoints.cut)
    val p = corpus.where($"vec_id" < NumProbes)
      .select($"vec_id".as("pid"), $"embedding".as("pe"),
        $"lo".as("plo"), $"hi".as("phi"))
    val pc = q.probeCells(s, dir)
      .select($"pid", $"cell",
        sigHalf($"pe", 0).as("plo"), sigHalf($"pe", 32).as("phi"))
    def hammed(df: org.apache.spark.sql.DataFrame) = df
      .select($"pid", $"vec_id".as("nid"),
        (bit_count($"lo".bitwiseXOR($"plo")) +
          bit_count($"hi".bitwiseXOR($"phi"))).cast("long").as("hamming"))
    // bq-only: full-corpus Hamming, budget-capped
    val bqCands = graft.plans.TopK.perKey(
      hammed(corpus.join(broadcast(p), $"vec_id" =!= $"pid")),
      keyCols = Seq("pid"),
      orderCols = Seq("hamming" -> true, "nid" -> true),
      k = BqShortlist).select($"pid", $"nid")
    val inCells = corpus.join(broadcast(pc), Seq("cell"))
      .where($"vec_id" =!= $"pid")
    // ivf-only: probed cells in LIST ORDER until the budget is spent
    val ivfCands = graft.plans.TopK.perKey(
      inCells.select($"pid", $"vec_id".as("nid")),
      keyCols = Seq("pid"),
      orderCols = Seq("nid" -> true),
      k = BqShortlist).select($"pid", $"nid")
    // ivf×bq: probed-cell Hamming, same budget
    val ivfbqCands = graft.plans.TopK.perKey(
      hammed(inCells),
      keyCols = Seq("pid"),
      orderCols = Seq("hamming" -> true, "nid" -> true),
      k = BqShortlist).select($"pid", $"nid")
    // brute-force truth at the same k
    val ex = rankTopK(
      Tables.embeddings(s, dir)
        .join(broadcast(probes(s, dir)), $"vec_id" =!= $"pid")
        .select($"pid", $"vec_id".as("nid"),
          cosine_sim($"pe", $"embedding").as("sim")), K)
      .select($"pid", $"nid")
      .transform(Checkpoints.cut) // K·probes rows, reused by 3 hit joins
    val vecs = Tables.embeddings(s, dir)
      .select($"vec_id".as("nid"), $"embedding".as("ne"))
    // hnsw-beam at the same budget (r9 verdict #8): candidates = the
    // nodes the fixed-depth beam search actually SCORES (its true
    // cost), capped at the shared shortlist in (hop asc, rounded-sim
    // desc, nid asc) order — "the first `budget` nodes the search
    // touches, best-first within a hop"
    val hnswCands = graft.plans.TopK.perKey(
      HnswOps.beamSearchWithVisited(s, dir)._2
        .where($"nid" =!= $"pid")
        .withColumn("sim_r", rnd($"sim", 6)),
      keyCols = Seq("pid"),
      orderCols = Seq("hop" -> true, "sim_r" -> false, "nid" -> true),
      k = BqShortlist).select($"pid", $"nid")
    // ONE union-with-method-tag job (r10 verdict #6: the per-method
    // panelRow fired ~8 driver actions — per-method cands.count() +
    // hit-join count() — making this diagnostic row the most
    // expensive serve): the four shortlists union under a method
    // tag, the rerank is one TopKPerKey keyed by (method, pid), and
    // n_cands / n_hits / recall come out of two small aggs inside
    // the same served plan.
    val tagged = bqCands.withColumn("method", lit("bq_only"))
      .unionByName(hnswCands.withColumn("method", lit("hnsw_beam")))
      .unionByName(ivfCands.withColumn("method", lit("ivf_only")))
      .unionByName(ivfbqCands.withColumn("method", lit("ivfbq")))
      .transform(Checkpoints.cut) // two consumers: the rerank + n_cands
    val served = graft.plans.TopK.perKey(
      tagged
        .join(vecs, "nid")
        .join(broadcast(probes(s, dir)), "pid")
        .select($"method", $"pid", $"nid",
          rnd(cosine_sim($"pe", $"ne"), 6).as("sim_r")),
      keyCols = Seq("method", "pid"),
      orderCols = Seq("sim_r" -> false, "nid" -> true),
      k = K)
    val nCands = tagged.groupBy($"method").agg(count(lit(1)).as("n_cands"))
    val nHits = served.join(ex, Seq("pid", "nid"))
      .groupBy($"method").agg(count(lit(1)).as("n_hits"))
    nCands.join(nHits, Seq("method"), "left")
      .select($"method", $"n_cands",
        coalesce($"n_hits", lit(0L)).as("n_hits"))
      .withColumn("recall",
        rnd($"n_hits".cast("double") / lit((K.toLong * NumProbes).toDouble), 6))
      .orderBy($"method")
  }

  /** Matryoshka truncation dims for [[embMatryoshkaEval]] — power-of-
    * two prefixes up to the native width, the MRL serving ladder. */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** MATRYOSHKA truncation eval (Kusupati et al. 2022 — MRL): how
    * much top-k quality survives serving only a PREFIX of each
    * embedding. For every dim d in [[MatryoshkaDims]], the exact
    * top-k under cosine over the first d components is compared to
    * the full-width top-k: recall@k (set overlap with the full-dim
    * truth) and the mean FULL-dim similarity of the truncated
    * winners (quality beyond set overlap — a truncated index can
    * miss the argmax yet still return near-ties). This is the panel
    * that decides how far an index can shrink its vectors (memory
    * per vector is THE cost driver at 10⁹ scale) before recall pays.
    *
    * Scale shape: probes broadcast, one corpus-side pass computes the
    * full-dim similarity once per candidate, then the 4-dim explode
    * scores prefix cosines map-side; TopK.perKey bounds the shuffle
    * to k rows per (partition, dim, probe). The final agg is 4 rows.
    * Exactness: ranking ties break on (1e-6-rounded sim, nid); the
    * mean full-sim is a scaled-integer sum (1e-6 grid) with ONE
    * division at the end, so partial-agg order cannot move the hash. */
  val embMatryoshkaEval: QueryFn = (s, dir) => {
    import s.implicits._
    val full = Tables.embeddings(s, dir)
      .join(broadcast(probes(s, dir)), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"), $"pe", $"embedding",
        cosine_sim($"pe", $"embedding").as("fsim"))
    val byDim = full
      .select(explode(typedLit(MatryoshkaDims)).as("d"),
        $"pid", $"nid", $"fsim",
        $"pe", $"embedding")
      .select($"d", $"pid", $"nid", $"fsim",
        cosine_sim(slice($"pe", lit(1), $"d"),
          slice($"embedding", lit(1), $"d")).as("sim"))
    val topd = graft.plans.TopK.perKey(
      byDim.withColumn("sim_r", rnd($"sim", 6)),
      keyCols = Seq("d", "pid"),
      orderCols = Seq("sim_r" -> false, "nid" -> true),
      k = K)
      .select($"d", $"pid", $"nid", $"fsim")
      .transform(Checkpoints.cut)
    val fullTop = topd.where($"d" === MatryoshkaDims.max)
      .select($"pid", $"nid")
    val hits = topd.join(fullTop, Seq("pid", "nid"))
      .groupBy($"d").agg(count(lit(1)).as("h"))
    topd
      .groupBy($"d")
      .agg(count(lit(1)).as("n"),
        sum(floor($"fsim" * 1000000d + 0.5d).cast("long")).as("ssum"))
      .join(hits, Seq("d"), "left") // a dim CAN score zero hits
      .select($"d".cast("long").as("dim"),
        coalesce($"h", lit(0L)).as("n_hits"),
        rnd(coalesce($"h", lit(0L)).cast("double") / (K * NumProbes), 4)
          .as("recall"),
        rnd($"ssum".cast("double") / $"n" / 1000000d, 4).as("mean_full_sim"))
      .orderBy($"dim")
  }

  /** Filter label for [[annFilteredTopk]]. */
  val FilterLabel = 3

  /** METADATA-FILTERED similarity search — the serving problem plain
    * top-k ignores ("nearest products IN THIS CATEGORY", "nearest
    * docs the user may access"): top-k restricted to
    * label = [[FilterLabel]] vectors. This exact path PRE-filters —
    * the predicate reaches the parquet scan (plan-audited
    * PushedFilters), so only ~1/|labels| of the corpus is even
    * scored: with a selective filter, brute force over the filtered
    * set is the RIGHT plan, and the spec quantifies why the naive
    * alternative (post-filtering an unfiltered top-k) is broken —
    * it returns fewer than k when the filter eats the shortlist.
    * At billion scale the same query runs over label-partitioned
    * storage (the `ann_incremental_topk` layout keyed by label
    * instead of cell) with identical semantics. */
  val annFilteredTopk: QueryFn = (s, dir) => {
    import s.implicits._
    val cands = Tables.embeddings(s, dir)
      .where($"label" === FilterLabel)
      .join(broadcast(probes(s, dir)), $"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"), cosine_sim($"pe", $"embedding").as("sim"))
    rankTopK(cands, K)
  }

  /** Embedding-distribution DRIFT check — the monitoring panel that
    * says whether yesterday's index still fits today's corpus: the
    * corpus splits into two deterministic halves (vec_id parity —
    * the stand-in for a batch/date column) and every dimension
    * reports its per-half mean plus the absolute drift. An encoder
    * change, a normalization bug, or a domain shift shows up here
    * BEFORE it silently degrades PQ codebooks and SQ8 bounds
    * (trained on the old distribution). Same exact-moment discipline
    * as [[embDimStats]]: decimal sums, one IEEE division per mean,
    * so the drift panel hash-verifies.
    *
    * Scale shape: one explode + one (dim, half) partial+final agg —
    * 128 rows out of any corpus, join-free until the 64-row pivot. */
  val embDriftCheck: QueryFn = (s, dir) => {
    import s.implicits._
    val halves = Tables.embeddings(s, dir)
      .select(($"vec_id" % 2 === 0).as("even"),
        posexplode($"embedding").as(Seq("pos", "xf")))
      .select($"even", $"pos".cast("long").as("pos"), $"xf".cast("double").as("x"))
      .groupBy($"pos", $"even")
      .agg(count(lit(1)).as("n"), xsum($"x").as("sx"))
    val a = halves.where($"even")
      .select($"pos", $"n".as("n_a"), ($"sx" / $"n").as("ma"))
    val b = halves.where(!$"even")
      .select($"pos", $"n".as("n_b"), ($"sx" / $"n").as("mb"))
    a.join(b, "pos")
      .select($"pos", $"n_a", $"n_b",
        rnd($"ma", 6).as("mean_even"), rnd($"mb", 6).as("mean_odd"),
        rnd(abs($"ma" - $"mb"), 6).as("abs_drift"))
      .orderBy($"pos")
  }

  /** Persisted IVF index state for [[annIncrementalTopk]] — built once
    * per corpus and committed through [[IndexStore]] like every other
    * persisted index: the frozen coarse quantizer (`cent`, k×d
    * centroid rows, trained on the BASE corpus only with
    * decimal-exact means) and the base vectors (`vecs`) persisted
    * CELL-PARTITIONED — the on-disk layout a production IVF index
    * actually uses, so a probed-cell read prunes every unprobed
    * partition at the parquet-listing level. Keyed by a
    * (name,size,mtime) fingerprint of the corpus files so a
    * regenerated corpus can never serve stale state. The session's
    * [[IndexStore.open]] handle carries the attempt dir plus the
    * collected centroids, so a warm consumer reads neither. This is
    * not the [[Quantizer]]: its training set is the base corpus only,
    * and it carries the cell-partitioned base vectors. */
  private[operators] object IvfIndex {
    val Name = "ivf"
    private val Version = "v1"

    final case class Handle(dir: String, cents: Seq[(Int, Seq[Double])]) extends Cells

    def key(dir: String): String = Version + ":" + corpusKey(dir)

    def open(s: SparkSession, dir: String): Handle =
      IndexStore.open(s, Name, key(dir)) { out =>
        val baseVecs = Tables.embeddings(s, dir).where(col("vec_id") % 10 =!= 0)
        centroidRows(baseVecs).write.parquet(s"$out/cent")
        baseVecs
          .select(col("vec_id"), col("embedding"),
            cell_argmax(col("embedding"), readCentroids(s, out)).as("cell"))
          .write.partitionBy("cell").parquet(s"$out/vecs")
      }(a => Handle(a, readCentroids(s, a)))
  }

  /** Incremental ANN serving — the index LIFECYCLE at scale: a
    * billion-vector IVF index is trained once, persisted, and new
    * arrivals are routed into existing cells WITHOUT retraining
    * (Faiss `add` after `train`; periodic retrain only when cell
    * occupancy drifts). Base corpus = `vec_id % 10 != 0`, persisted
    * cell-partitioned by [[IvfIndex]]; the arriving batch
    * (`vec_id % 10 == 0`) is assigned map-side with the FROZEN
    * quantizer literals — zero shuffle for ingest, zero touch of the
    * stored corpus — and the union serves the standard probe set over
    * its top-6 cells. Measured cost on a warm index is batch routing
    * + probed-cell reads, not an index rebuild (the
    * `dedup_incremental` claim, for vectors). */
  /** Map-side cell routing with the persisted frozen quantizer — the
    * ingest face of [[annIncrementalTopk]], public so the streaming
    * module can route arriving vectors per micro-batch. A pure
    * projection (centroid literals, fold argmax): works unchanged on
    * a streaming DataFrame, shuffles nothing. */
  def routeWithFrozenQuantizer(s: SparkSession, dir: String)(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("embedding"),
      IvfIndex.open(s, dir).assign(col("embedding")).as("cell"))

  val annIncrementalTopk: QueryFn = (s, dir) => {
    import s.implicits._
    val h = IvfIndex.open(s, dir)
    // the probed-cell routing table is probes×IvfProbeCells rows —
    // collected so the cell predicate reaches the partitioned index
    // read as a STATIC `cell IN (...)` partition filter (directory
    // pruning at listing time, the point of the cell-partitioned
    // layout; dynamic pruning would rediscover it at runtime cost)
    val probeCells = h.probeCells(s, dir)
      .select($"pid", $"cell").collect().map(r => (r.getLong(0), r.getInt(1)))
    val cellSet = probeCells.map(_._2).distinct.toSeq
    val batch = Tables.embeddings(s, dir).where($"vec_id" % 10 === 0)
      .select($"vec_id", $"embedding", h.assign($"embedding").as("cell"))
      .where($"cell".isin(cellSet: _*))
    val stored = s.read.parquet(s"${h.dir}/vecs")
      .where($"cell".isin(cellSet: _*))
      .select($"vec_id", $"embedding", $"cell".cast("int").as("cell"))
    val merged = stored.unionByName(batch)
    val cands = probeCells.toSeq.toDF("pid", "cell")
      .join(broadcast(probes(s, dir)), "pid")
      .join(merged, Seq("cell"))
      .where($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id".as("nid"),
        cosine_sim($"pe", $"embedding").as("sim"))
    rankTopK(cands, K)
  }
}
