package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._
import graft.functions.Hashes._
import graft.functions.VectorExpressions.cosine_sim

/** Near-duplicate detection suite (SURVEY.md §2.C) — the operators an
  * LLM-data pipeline runs over a 100 TB crawl. All four share the same
  * scale shape:
  *
  *   1. map-side signature (codegen'd exprs or a primitive-array UDF);
  *   2. candidate generation by *blocking* — explode a per-doc key set
  *      (LSH band, rare shingle, signature chunk) and self-join on the
  *      block key, so the shuffle carries O(docs × keys) rows and the
  *      O(n²) pair space is never materialized;
  *   3. exact verification only within candidate pairs.
  *
  * Skew note: a degenerate block (e.g. thousands of identical docs in
  * one LSH bucket) concentrates pairs on one key; AQE skew-join
  * splitting handles moderate cases, and `dedup_exact` (run first in a
  * real pipeline) removes the identical-doc mass that causes the worst
  * ones.
  */
object DedupOps {
  import graft.SparkEntry.QueryFn

  val ShingleSize = 3
  val NumPerms = 64
  val Bands = 16
  val RowsPerBand = 4 // Bands * RowsPerBand == NumPerms

  /** doc_id + distinct shingle set from any (doc_id, text) frame —
    * reused by the minhash, ngram, and pipeline operators. Shingles
    * are stored as 64-bit longs, not strings: the downstream
    * array_intersect/array_union verification compares 8-byte values
    * instead of variable-length strings (measured ~2× on the verify
    * join), and a 64-bit collision corrupting a Jaccard estimate is
    * ~1e-13 per pair. The hash is FNV-1a over the space-joined n-gram
    * (native fused [[graft.functions.FnvShinglesExpr]]) — the one
    * hash family the DuckDB oracles can replay, which is what makes
    * `dedup_minhash_lsh` hash-verifiable end-to-end (r3). */
  private[operators] def shingled(docs: DataFrame): DataFrame =
    shingledToks(docs
      // ≥ n tokens ⟺ ≥ 1 shingle; filtering on the token count keeps
      // the (pushed-down) predicate to one regex pass per row
      .filter(size(normTokens(col("text"))) >= ShingleSize)
      .select(col("doc_id"), normTokens(col("text")).as("tk")))

  /** The shingle stage from a pre-tokenized (doc_id, tk) frame —
    * split out (r13) so the decontamination gate can shingle
    * token-dropout PLANTS without re-deriving them from text. */
  private[operators] def shingledToks(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("tk")) >= ShingleSize)
      // SORTED asc: the verify stage counts overlaps with the native
      // merge kernel (SortedOverlapCount) — one sort per DOC here
      // buys allocation-free verification per candidate PAIR there
      .select(col("doc_id"),
        array_sort(array_distinct(graft.functions.VectorExpressions
          .fnv_shingles(col("tk"), ShingleSize))).as("sh"))

  private[graft] def docShingles(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    shingled(Tables.documents(s, dir))

  /** Per-band candidate budget — see [[Blocking]]: bands at or under
    * this size (every organic band in the sf corpora) behave exactly
    * like the uncapped self-join; a degenerate band (identical
    * boilerplate mass) degrades to anchor-star, linear candidates.
    * Replayed verbatim in the DuckDB oracles. */
  val BandCap: Int = Blocking.DefaultCap

  /** Candidate pairs (a < b) from exploding a per-doc key array and
    * self-joining on the key, bounded per band by [[BandCap]]. */
  private def pairsByKey(keyed: DataFrame): DataFrame =
    Blocking.cappedPairs(keyed, "doc_id", "doc_a", "doc_b", BandCap)

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets; emits pairs with jaccard >= tau. */
  private def verifyJaccard(pairs: DataFrame, docs: DataFrame, tau: Double): DataFrame =
    verifyJaccardAB(pairs, docs, docs, tau)

  /** Two-sided variant: doc_a resolves against docsA, doc_b against
    * docsB (the incremental new-batch × corpus shape). */
  private def verifyJaccardAB(
      pairs: DataFrame, docsA: DataFrame, docsB: DataFrame, tau: Double): DataFrame = {
    val sa = docsA.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = docsB.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      // o/( |A|+|B|−o ) == |A∩B|/|A∪B| on distinct inputs; the merge
      // kernel replaces array_intersect+array_union's per-pair hash
      // sets (the stress decade's dominant verify cost)
      .withColumn("o", graft.functions.VectorExpressions
        .sorted_overlap(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard",
        col("o") / (size(col("sh_a")) + size(col("sh_b")) - col("o")))
      .where(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), rnd(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash+LSH near-dup pairs over a pre-shingled (doc_id, sh)
    * frame (the reusable stage behind [[dedupMinhashLsh]] and
    * [[dedupPipeline]]), verified at jaccard >= tau. */
  private def minhashPairs(docs: DataFrame, tau: Double): DataFrame =
    verifyJaccard(minhashCandidates(docs), docs, tau)

  /** Candidate pairs PRE-verify from the banded minhash index — the
    * stage whose mass the stress bench's floor counters record
    * ([[graft.CandidateMass]]). */
  private[graft] def minhashCandidates(docs: DataFrame): DataFrame = {
    // Two-step select: materialize the 64-perm signature as a column
    // FIRST, then slice band keys out of it. Folding both into one
    // expression would inline the signature computation once per band
    // (16×) — measured 40× slower at sf0.1. The signature itself is
    // the native codegen MinHashSigExpr (one fused loop).
    val sigged = docs.select(col("doc_id"),
      graft.functions.VectorExpressions
        .minhash_sig(col("sh"), minhashParams(NumPerms)).as("sig"))
    val keyed = sigged.select(col("doc_id"),
      explode(bandKeys(col("sig"), Bands, RowsPerBand)).as("key"))
    pairsByKey(keyed)
  }

  /** MinHash + banded LSH near-dup pairs, verified at jaccard >= 0.5.
    * B=16 bands of r=4 ⇒ candidate threshold ≈ (1/16)^(1/4) ≈ 0.5. */
  val dedupMinhashLsh: QueryFn = (s, dir) => {
    val docs = docShingles(s, dir).transform(Checkpoints.cut)
    minhashPairs(docs, tau = 0.5)
  }

  /** Cross-source duplication matrix — the data-governance panel
    * over the SAME minhash-LSH index: near-dup pairs labeled with
    * their (source_a, source_b) origin and folded to per-source-pair
    * counts and rates. This answers "which feeds copy which" — the
    * question that decides crawl priorities and licensing exposure —
    * for the price of one dim join on the pairs the index already
    * found. Rate = pairs / possible-pairs (n_a·n_b cross-source,
    * n·(n−1)/2 within) — exact integers into one division.
    *
    * Scale shape: everything corpus-sized already happened in the
    * index; this adds two broadcast-able doc→source joins on the
    * PAIR set and a ≤|sources|² agg. */
  val dedupSourceMatrix: QueryFn = (s, dir) => {
    val docs = docShingles(s, dir).transform(Checkpoints.cut)
    val pairs = minhashPairs(docs, tau = 0.5)
    val src = graft.Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val counts = src.groupBy(col("source")).agg(count(lit(1)).as("nd"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .join(broadcast(counts.select(col("source").as("source_a"), col("nd").as("na"))), "source_a")
      .join(broadcast(counts.select(col("source").as("source_b"), col("nd").as("nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        graft.functions.Cols.rnd(col("n_pairs").cast("double") /
          when(col("source_a") === col("source_b"),
            (col("na") * (col("na") - 1) / 2).cast("double"))
            .otherwise((col("na") * col("nb")).cast("double")), 8).as("dup_rate"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** MinHash ESTIMATOR CALIBRATION — the tuning harness for the index
    * above: every LSH candidate pair (false positives included —
    * they're exactly the region band tuning cares about) reported
    * with its signature-agreement estimate (#equal perms / 64) next
    * to its exact shingle Jaccard and the absolute error. E[est] =
    * J(A,B) is the minhash identity; this query MEASURES it on the
    * live index so band/row counts are chosen from evidence, not the
    * (1/B)^(1/r) rule of thumb alone. Same shuffle shape as
    * `dedup_minhash_lsh` (band-keyed candidates), plus two map-side
    * signature joins — nothing pairwise beyond the candidate set. */
  val dedupMinhashCalibration: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = docShingles(s, dir).transform(Checkpoints.cut)
    val sigged = docs.select($"doc_id",
      graft.functions.VectorExpressions
        .minhash_sig($"sh", minhashParams(NumPerms)).as("sig"))
    val keyed = sigged.select($"doc_id",
      explode(bandKeys($"sig", Bands, RowsPerBand)).as("key"))
    val pairs = pairsByKey(keyed)
    val est = pairs
      .join(sigged.select($"doc_id".as("doc_a"), $"sig".as("sig_a")), "doc_a")
      .join(sigged.select($"doc_id".as("doc_b"), $"sig".as("sig_b")), "doc_b")
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      // two-step select: materialize the overlap ONCE (Catalyst
      // inlines a non-cheap expression at every reference)
      .select($"doc_a", $"doc_b", $"sig_a", $"sig_b",
        graft.functions.VectorExpressions.sorted_overlap($"sh_a", $"sh_b")
          .cast("double").as("o"),
        (size($"sh_a") + size($"sh_b")).cast("double").as("szs"))
      .select($"doc_a", $"doc_b",
        (size(filter(zip_with($"sig_a", $"sig_b", (x, y) => x === y), v => v))
          .cast("double") / NumPerms).as("es"),
        ($"o" / ($"szs" - $"o")).as("jac"))
    est.select($"doc_a", $"doc_b",
        rnd($"es", 4).as("est_jaccard"),
        rnd($"jac", 4).as("exact_jaccard"),
        rnd(abs($"es" - $"jac"), 4).as("abs_err"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** SimHash signature geometry `(words, bandBits, tau)`, where the
    * signature is `words`×64 bits (word 0 = the historical FNV
    * simhash; word w ≥ 1 hashes each token through
    * `mix64(fnv64(tok) ^ seed_w)`), candidate keys are
    * `bandBits`-wide signature chunks, and survivors verify at
    * hamming ≤ tau over the FULL signature.
    *
    * Why it exists (r7 verdict #2): 16-bit band keys admit ~n²·B/2¹⁶
    * RANDOM-collision candidates — linear only below ~10⁶ docs, a
    * scale-killer at 100 TB doc counts (measured 13×/decade at the
    * stress decade). The wide geometry `(2, 32, 12)` keeps the same
    * semantic bar (hamming 12/128 ≈ 6/64 bit-agreement) while the
    * 32-bit keys push the random floor to n²·4/2³² — four orders of
    * magnitude down, linear into the 10⁹-doc regime
    * (SimhashFloorSpec measures both floors on a planted corpus).
    * Verbatim duplicates always share every band; near-dups share a
    * band unless their flipped bits hit all `words·64/bandBits`
    * chunks — the same pigeonhole odds the default geometry had.
    *
    * The default `(1, 16, 6)` preserves every gate hash; the n-aware
    * Hamming schedule widens it on large corpora and specs pin a
    * geometry through the test-visible override. The oracle SQL
    * interpolates THIS accessor (a def, rebuilt per oracleSql
    * materialization), so engine and oracle move together. */
  @volatile var overrideSimhashGeometry: Option[(Int, Int, Int)] = None
  def simhashGeometry: (Int, Int, Int) =
    GeometryContext.resolve(overrideSimhashGeometry.getOrElse((1, 16, 6)))(
      simhashGeometryFor)

  /** The geometry the simhash face USES for this corpus: the override
    * if set, else the n-aware Hamming schedule
    * ([[AnnOps.scheduledHammingGeometry]], r10 verdict #2) on the
    * measured document count. */
  def simhashGeometryFor(
      s: org.apache.spark.sql.SparkSession, dir: String): (Int, Int, Int) =
    overrideSimhashGeometry.getOrElse(
      AnnOps.scheduledHammingGeometry(nDocs(s, dir), (1, 16, 6)))

  /** Corpus document count, memoized per fingerprint (the
    * [[AnnOps.nVecs]] twin for doc-banded families). */
  private val nDocsMemo = new Memo[java.lang.Long]()
  private[graft] def nDocs(
      s: org.apache.spark.sql.SparkSession, dir: String): Long =
    nDocsMemo.getOrElseUpdate(
      s, dir + graft.mr.Fs.fingerprint(dir + "/documents.parquet"),
      java.lang.Long.valueOf(
        Tables.documents(s, dir).count())).longValue()

  /** Deterministic seed for word w of the wide signature (word 0 is
    * seedless = the historical signature). Exposed for the oracle's
    * unsigned-literal interpolation. */
  def simhashSeed(w: Int): Long =
    if (w == 0) 0L else fnv64(s"graft-simhash-word-$w")

  /** (doc_id, sig0..sigW−1) under the current geometry; tokens
    * materialize once (two-step select) and each word is one fused
    * native loop. */
  private[graft] def simhashSigs(
      docs: DataFrame, geo: (Int, Int, Int) = simhashGeometry): DataFrame = {
    val (words, _, _) = geo
    val sigCols = (0 until words).map { w =>
      graft.functions.VectorExpressions
        .simhash64_native(col("toks"), simhashSeed(w)).as(s"sig$w")
    }
    docs.select(col("doc_id"), normTokens(col("text")).as("toks"))
      .select(col("doc_id") +: sigCols: _*)
  }

  /** Band-keyed candidate pairs (a < b) from the signature frame,
    * anchor-capped per band ([[BandCap]]). */
  private[graft] def simhashCandidates(
      sigs: DataFrame, geo: (Int, Int, Int) = simhashGeometry): DataFrame = {
    val (words, bandBits, _) = geo
    val bandsPerWord = 64 / bandBits
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val keys = for { w <- 0 until words; c <- 0 until bandsPerWord } yield
      // mask, don't mod: `sig % 65536` keeps the dividend's SIGN, so
      // chunk 0 of a negative signature could never collide with the
      // same low bits of a positive one — a silent recall hole found
      // by the r3 DuckDB oracle (pair at hamming 6 missed)
      concat_ws(":", lit(w * bandsPerWord + c),
        shiftrightunsigned(col(s"sig$w"), c * bandBits).bitwiseAND(lit(mask)))
    pairsByKey(sigs.select(col("doc_id"), explode(array(keys: _*)).as("key")))
  }

  /** SimHash near-dup pairs under [[simhashGeometry]] — by default a
    * 64-bit signature, candidates sharing ≥ 1 of four 16-bit chunks,
    * verified at hamming ≤ 6. */
  val dedupSimhash: QueryFn = (s, dir) => {
    import s.implicits._
    val geo = simhashGeometryFor(s, dir) // n-aware unless pinned
    val (words, _, tau) = geo
    val sigs = simhashSigs(Tables.documents(s, dir), geo).transform(Checkpoints.cut)
    val pairs = simhashCandidates(sigs, geo)
    val a = sigs.select($"doc_id".as("doc_a") +:
      (0 until words).map(w => col(s"sig$w").as(s"sa$w")): _*)
    val b = sigs.select($"doc_id".as("doc_b") +:
      (0 until words).map(w => col(s"sig$w").as(s"sb$w")): _*)
    val hamming = (0 until words)
      .map(w => bit_count(col(s"sa$w").bitwiseXOR(col(s"sb$w"))).cast("long"))
      .reduce(_ + _)
    pairs.join(a, "doc_a").join(b, "doc_b")
      .withColumn("hamming", hamming)
      .where($"hamming" <= tau)
      .select($"doc_a", $"doc_b", $"hamming")
      .orderBy($"doc_a", $"doc_b")
  }

  /** EXACT n-gram Jaccard pairs (jaccard >= tau) via lossless
    * PPJoin-style prefix + length filtering (Bayardo et al., WWW'07;
    * Chaudhuri et al., ICDE'06) over a pre-shingled (doc_id, sh)
    * frame — the reusable stage behind [[dedupNgramJaccard]],
    * [[dedupClusters]] and [[dedupPipeline]]:
    *
    *  - global shingle order = (document frequency asc, shingle asc),
    *    so prefixes carry each doc's RAREST shingles;
    *  - a doc of |d| shingles explodes only its first
    *    |d| - ceil(τ·|d|) + 1 shingles in that order. If J(A,B) ≥ τ,
    *    the globally-smallest common shingle provably lands in BOTH
    *    prefixes, so the prefix self-join misses nothing;
    *  - df = 1 shingles are dropped BEFORE the prefix window (the
    *    dfreq join is inner against `df >= 2`): a singleton shingle
    *    can never be the shared element of a candidate pair, and the
    *    remaining prefix gets strictly SHORTER (same |d|-based length
    *    bound over fewer rows), so the filter stays lossless while the
    *    Zipf tail — most of the exploded volume — never reaches the
    *    window sort or the self-join;
    *  - length filter: J ≥ τ forces min(|A|,|B|) ≥ τ·max(|A|,|B|);
    *  - survivors verified with the exact set Jaccard.
    *
    * r1 used df∈[2,20] "rare shingle" blocking — an approximation
    * that still admitted 1.1M candidate pairs at sf0.1 (60 s+).
    * Prefix filtering is both lossless (the oracle is the plain
    * all-pairs Jaccard) and ~4× more selective here. */
  private[operators] def jaccardPairs(docs: DataFrame, tau: Double): DataFrame = {
    val ex = docs.select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("key"))
    val dfreq = ex.groupBy(col("key")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("key").asc)
    val prefix = ex.join(dfreq, "key")
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <= col("sz") - ceil(col("sz") * tau) + 1)
      .select(col("key"), col("doc_id"), col("sz"))
    val a = prefix.select(col("key"), col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val b = prefix.select(col("key"), col("doc_id").as("doc_b"), col("sz").as("sz_b"))
    val cands = a.join(b, "key")
      .where(col("doc_a") < col("doc_b") &&
        least(col("sz_a"), col("sz_b")) >= lit(tau) * greatest(col("sz_a"), col("sz_b")))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(cands, docs, tau)
  }

  /** The τ=0.5 jaccard-pair + connected-components chain as a
    * persisted [[IndexStore]] handle — the r6 verdict #3 item:
    * dedup_ngram_jaccard, dedup_clusters, dedup_keep_best, and
    * dedup_pipeline each consumed this identical chain, so a 4-query
    * bench run paid the shingle→prefix-filter→verify→star-contraction
    * cost four times (~12 s at sf0.1). Same handle as the suffix
    * LCPs (SuffixOps), keyed by the corpus file fingerprint.
    * Returns (pairs, labels):
    *   pairs  = (doc_a, doc_b, jaccard) — the EXACT verified pair set;
    *   labels = (doc_id, rep) — CC over the FULL document universe.
    * dedup_pipeline reuses both legally because the prefix filter is
    * lossless (the pair set is τ-exact, so survivor∩survivor pairs ==
    * pairs-over-survivors) and an exact-dup's shingle set equals its
    * survivor twin's (identical normText ⇒ identical normTokens ⇒
    * identical FNV shingles), so survivor-subgraph connectivity and
    * full-graph connectivity restricted to survivors coincide, and
    * every full-cluster min id is itself a survivor. */
  private def clusterChain(
      s: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = dir + graft.mr.Fs.fingerprint(dir + "/documents.parquet") + ":tau50"
    val Seq(pairs, labels) = IndexStore.frames(
      s, "jaccard_cc", key, Seq("pairs", "labels")) {
      val p = jaccardPairs(docShingles(s, dir).transform(Checkpoints.cut), tau = 0.5)
        .transform(Checkpoints.cut)
      val universe = Tables.documents(s, dir).select(col("doc_id"))
      val l = connectedComponents(
        p.select(col("doc_a"), col("doc_b")), universe)
      Seq(p, l)
    }
    (pairs, labels)
  }

  /** The memoized full-corpus τ=0.5 EXACT pair set, for consumers
    * that dedup a SUBSET of the corpus (pipeline_curate): the
    * prefix filter is lossless, so the full pair set restricted to
    * subset endpoints IS the subset's pair set. Connected components
    * must still run per-subset — an arbitrary filter can break
    * connectivity through excluded docs, so the full LABELS don't
    * restrict (unlike dedup_pipeline's exact-dup-only exclusion,
    * which provably preserves them). */
  private[operators] def sharedPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    clusterChain(s, dir)._1

  /** Cold-build entry for the bench's `build_jaccard_cc` row — the
    * suffix/NSW discipline: the memoized chain's construction cost is
    * reported explicitly instead of amortizing invisibly into
    * whichever of its four consumers runs first. */
  def buildClusterChain(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    clusterChain(s, dir); ()
  }

  /** Connected components of a RESTRICTION of the memoized full-corpus
    * pair graph (pipeline_curate's stage-4 shape) — r7 verdict #4:
    * the general star-contraction loop pays ~10 driver-synchronized
    * Spark jobs of fixed overhead per call (measured 4.3 s at
    * sf0.001, the whole pipeline_curate regression), yet every edge
    * of a RESTRICTED pair set already lives inside one FULL-corpus
    * component (pairs ⊆ full pairs ⇒ both endpoints share a full
    * label). Grouping edges by that label therefore partitions the
    * restricted graph WITHOUT cutting any edge, and each group — one
    * full near-dup cluster's worth of edges, small by the banded
    * index's cluster discipline (the anchor cap bounds degenerate
    * mass; organic clusters are a handful of docs) — runs an
    * in-memory min-id union-find inside a single `flatMapGroups`
    * pass: ONE shuffle, zero fixpoint rounds, no driver actions.
    * Semantics are exactly [[connectedComponents]] on (pairs,
    * universe): union-by-min keeps the component minimum as root, and
    * docs untouched by any pair label themselves. At 100 TB the full
    * labels come from the once-built memoized chain and every
    * restriction (per-snapshot, per-quality-slice, per-language)
    * reuses them for the price of a map-side join. */
  private[operators] def restrictedComponents(
      s: org.apache.spark.sql.SparkSession, dir: String,
      pairs: DataFrame, universe: DataFrame): DataFrame = {
    import s.implicits._
    val labels = clusterChain(s, dir)._2
    val comp = pairs
      .join(labels.select(col("doc_id").as("doc_a"), col("rep").as("grp")), "doc_a")
      .select(col("grp"), col("doc_a"), col("doc_b")).as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (_, a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        // snapshot the keys: find()'s path compression updates values
        // in place, which must not race the live key iterator
        parent.keys.toArray.iterator.map(x => (x, find(x)))
      }
      .toDF("doc_id", "rep")
    universe.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
  }

  val dedupNgramJaccard: QueryFn = (s, dir) =>
    clusterChain(s, dir)._1.orderBy(col("doc_a"), col("doc_b"))

  /** EXACT shingle-containment pairs: C(a→b) = |A∩B| / |A| ≥ τ over
    * ORDERED pairs — the asymmetric near-dup relation symmetric
    * Jaccard misses (a short doc quoted wholesale inside a longer
    * one scores high containment but low Jaccard). The prefix filter
    * adapts losslessly to the asymmetric case: if C(a→b) ≥ τ then A
    * and B share ≥ ⌈τ|A|⌉ shingles, so A's ⌈(1−τ)|A|⌉+1 globally
    * rarest shingles (df-asc order) must hit one of them — A's
    * PREFIX joins against B's FULL posting list (no prefix on the
    * containing side, since only |A| bounds the intersection).
    * df = 1 shingles still prune (a shared shingle has df ≥ 2 by
    * definition; the length bound keeps using the original |A|), and
    * C ≥ τ forces |B| ≥ τ|A|, the asymmetric length filter.
    * Survivors verify with the exact set containment.
    *
    * Degenerate-mass bound (r7 — the stress decade caught this at
    * 58× for 10× data): prefix × FULL-posting is Σ df(prefix key)
    * candidates, and when duplicate mass inflates every df ~10×, the
    * volume goes quadratic. The [[Blocking]] anchor discipline
    * applied to the directed join: per key, postings rank by doc_id;
    * a candidate admits iff EITHER side ranks ≤ cap in the shared
    * key's posting list. Keys with df ≤ cap (every organic key at
    * the gate scale — spec-asserted) behave exactly like the
    * uncapped join, so the brute-force oracle stays valid; a
    * degenerate key with n postings emits ≤ 2·n·cap candidates
    * (linear), and every doc still pairs with all of the key's
    * anchors, so a duplicate mass stays anchor-connected
    * (ContainmentCapSpec drives a 2·10³-identical-doc corpus linear
    * and proves organic equality with brute force). */
  private[operators] def containmentPairs(docs: DataFrame, tau: Double): DataFrame = {
    val cap = Blocking.DefaultCap
    val ex = docs.select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("key"))
    val dfreq = ex.groupBy(col("key")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("key").asc)
    val byPosting = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("doc_id"))
    // pinned: both join branches read the ranked frame (the
    // cappedPairs double-eval lesson)
    val exDf = ex.join(dfreq, "key")
      .withColumn("pr", row_number().over(byPosting))
      .withColumn("rn", row_number().over(byRarity))
      .transform(Checkpoints.cut)
    val prefix = exDf
      .where(col("rn") <= col("sz") - ceil(col("sz") * tau) + 1)
      .select(col("key"), col("doc_id").as("doc_a"), col("sz").as("sz_a"),
        col("pr").as("pr_a"), col("rn").as("rn_a"))
    val full = exDf.select(col("key"), col("doc_id").as("doc_b"),
      col("sz").as("sz_b"), col("pr").as("pr_b"), col("rn").as("rn_b"))
    val cands = prefix.join(full, "key")
      .where(col("doc_a") =!= col("doc_b") &&
        col("sz_b") >= lit(tau) * col("sz_a") &&
        // PPJoin positional filter (lossless; ContainmentCapSpec's
        // brute-force equality guards it): overlap through this key
        // is at most 1 + what remains after it in EITHER doc's
        // rarity order — using the ORIGINAL |d| as the remaining
        // bound only weakens (never breaks) the filter on the
        // df≥2-pruned lists. Cuts ~20% of candidate mass at the
        // stress decade before the verify stage sees it.
        lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
          ceil(lit(tau) * col("sz_a")) &&
        (col("pr_a") <= cap || col("pr_b") <= cap))
      .select("doc_a", "doc_b").distinct()
    val sa = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("containment",
        graft.functions.VectorExpressions.sorted_overlap(col("sh_a"), col("sh_b"))
          .cast("double") / size(col("sh_a")).cast("double"))
      .where(col("containment") >= tau)
      .select(col("doc_a"), col("doc_b"), rnd(col("containment"), 4).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** [[containmentPairs]] at CONTENT GRAIN (r8, the decade cut for
    * r7 verdict #3): containment C(a→b) is a function of the SHINGLE
    * SETS alone, so documents with identical sets are
    * interchangeable — the expensive prefix×posting join and the
    * per-candidate verify run once per DISTINCT content (one min-id
    * representative per 64-bit set fingerprint), and member pairs
    * expand afterward by two joins ON THE RESULT:
    *
    *   - cross-content: every (memberA, memberB) of a qualifying rep
    *     pair inherits its containment verbatim (equal sets ⇒ equal
    *     C) — expansion is output-sized, never candidate-sized;
    *   - within-content: identical sets give C = 1 ≥ τ for every
    *     ordered member pair; emitted through the [[Blocking]]
    *     directed anchor cap, so a degenerate identical mass stays
    *     LINEAR and anchor-connected exactly as before
    *     (ContainmentCapSpec's regime contract is unchanged).
    *
    * On duplicate-heavy corpora this is the dominant term: the
    * stress decade's verbatim replica groups collapse 10→1 before
    * they can stack df counts into the posting lists. On corpora
    * with no identical sets (the gate SFs) reps == docs and the
    * plan degenerates to [[containmentPairs]] plus one cheap
    * fingerprint groupBy — the brute-force oracle stays exact.
    * The 64-bit set fingerprint rides the same collision budget as
    * the shingle hashes themselves (~1e-13 per pair, argued at
    * [[shingled]]). */
  private[operators] def containmentPairsByContent(
      docs: DataFrame, tau: Double): DataFrame = {
    val keyed = docs.withColumn("fp",
      concat_ws(":", size(col("sh")), xxhash64(col("sh"))))
    val members = keyed.select(col("fp"), col("doc_id")).transform(Checkpoints.cut)
    // reps is deliberately NOT cut: its consumers recompute the
    // min-agg, but over the cut members frame — four cheap
    // (fp, doc_id) passes. Caching the aggregate's OUTPUT instead
    // measured 13 s → 29 s at the stress decade (the InMemoryRelation
    // perturbed join planning inside the eager posting-join cut);
    // cut the cheap input, let Catalyst replan the tiny aggregate.
    val reps = members.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val repPairs = containmentPairs(
      keyed.join(reps, Seq("fp", "doc_id")).select(col("doc_id"), col("sh")), tau)
    val cross = repPairs
      .join(reps.select(col("doc_id").as("doc_a"), col("fp").as("fa")), "doc_a")
      .join(reps.select(col("doc_id").as("doc_b"), col("fp").as("fb")), "doc_b")
      .select(col("fa"), col("fb"), col("containment"))
      .join(members.select(col("fp").as("fa"), col("doc_id").as("doc_a")), "fa")
      .join(members.select(col("fp").as("fb"), col("doc_id").as("doc_b")), "fb")
      .select(col("doc_a"), col("doc_b"), col("containment"))
    val within = Blocking
      .cappedPairsDirected(members.select(col("fp").as("key"), col("doc_id")),
        "doc_id", "doc_a", "doc_b", Blocking.DefaultCap)
      .select(col("doc_a"), col("doc_b"), rnd(lit(1.0), 4).as("containment"))
    cross.unionByName(within).orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupContainment: QueryFn = (s, dir) =>
    containmentPairsByContent(docShingles(s, dir).transform(Checkpoints.cut), tau = 0.6)

  /** Incremental dedup: a NEW batch (doc_id % 5 == 4, ~20% of the
    * corpus — a deterministic stand-in for "today's partition")
    * deduped against the EXISTING corpus, the shape a daily-ingest
    * pipeline actually runs: only the new batch pays signature cost
    * against precomputed corpus state, never corpus × corpus.
    *
    *  - exact stage: fingerprint anti-match — new docs whose
    *    normalized-text md5 already exists in the old corpus
    *    (kind='exact', the old keeper's id attached);
    *  - near stage: exact 3-gram Jaccard ≥ 0.5 of the remaining new
    *    docs vs old docs, with the same lossless prefix+length
    *    filtering as [[dedupNgramJaccard]] — but the self-join
    *    becomes a new × old join, so candidate volume scales with the
    *    BATCH, not the corpus.
    *
    * At 100 TB the df/prefix state of the old corpus is precomputed
    * once and only the new batch's prefixes shuffle. The test corpus
    * has no exact dups (500 distinct fingerprints), so the driver
    * gate exercises the near stage; the exact stage is covered by the
    * synthetic-corpus spec. */
  val dedupIncremental: QueryFn = (s, dir) => {
    import s.implicits._
    val tau = 0.5
    val isNewId = (c: org.apache.spark.sql.Column) => c % 5 === 4
    val idx = IncrementalIndex.open(s, dir, tau, isNewId)
    val oldFp = s.read.parquet(s"$idx/fp")
    val oldDf = s.read.parquet(s"$idx/df")
    val oldPrefix = s.read.parquet(s"$idx/prefix")
    val oldSh = s.read.parquet(s"$idx/sh")
    val oldMembers = s.read.parquet(s"$idx/members")

    val newDocs = Tables.documents(s, dir).where(isNewId($"doc_id"))
    val exact = newDocs.select($"doc_id", md5(normText($"text")).as("fp"))
      .join(oldFp, "fp")
      .select($"doc_id".as("new_id"), $"old_id",
        lit("exact").as("kind"), lit(1.0).as("sim"))

    // only the BATCH is shingled fresh; the corpus side comes from the
    // persisted index — both at CONTENT GRAIN (v4: the r8 decade guard
    // caught the doc-grain join at 9.2×/decade on the stress corpus —
    // replica groups inflate every posting list, the containment-join
    // lesson): one min-id rep per distinct batch shingle set joins the
    // rep-grain old postings, verification runs rep×rep, and member
    // pairs expand on the verified result (J is a function of the
    // contents alone). The inner df join keeps both sides' prefixes
    // under ONE global order — (df over the old REP corpus, key) — any
    // fixed order serves the lossless-prefix argument; batch-only
    // shingles (absent from the old corpus) can never match an old
    // doc, so the inner join drops them while `sz` still counts them.
    val newCg = shingled(newDocs)
      .withColumn("cfp", IncrementalIndex.contentFp($"sh"))
      .transform(Checkpoints.cut)
    val newMembers = newCg.select($"cfp", $"doc_id")
    val newReps = newMembers.groupBy($"cfp").agg(min($"doc_id").as("doc_id"))
    val newSh = newCg.join(newReps, Seq("cfp", "doc_id"))
      .select($"doc_id", $"cfp", $"sh")
    val exNew = newSh.select($"doc_id", size($"sh").as("sz"), explode($"sh").as("key"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"df".asc, $"key".asc)
    val prefixNew = exNew.join(oldDf, "key")
      .withColumn("rn", row_number().over(byRarity))
      .where($"rn" <= $"sz" - ceil($"sz" * tau) + 1)
      .select($"key", $"doc_id".as("doc_a"), $"sz".as("sz_a"), $"rn".as("rn_a"))
    val cands = prefixNew
      .join(oldPrefix.select($"key", $"doc_id".as("doc_b"),
        $"sz".as("sz_b"), $"rn".as("rn_b")), "key")
      .where(least($"sz_a", $"sz_b") >= lit(tau) * greatest($"sz_a", $"sz_b") &&
        // PPJoin positional filter (lossless — J ≥ τ forces overlap
        // ≥ ⌈τ·max(|A|,|B|)⌉, and overlap through this key is at most
        // 1 + what remains after it in EITHER side's rarity order)
        lit(1) + least($"sz_a" - $"rn_a", $"sz_b" - $"rn_b") >=
          ceil(lit(tau) * greatest($"sz_a", $"sz_b")))
      .select("doc_a", "doc_b").distinct()
    val nearRep = verifyJaccardAB(cands, newSh.select($"doc_id", $"sh"),
      oldSh.select($"doc_id", $"sh"), tau)
    val near = nearRep
      .join(newSh.select($"doc_id".as("doc_a"), $"cfp".as("ca")), "doc_a")
      .join(oldSh.select($"doc_id".as("doc_b"), $"cfp".as("cb")), "doc_b")
      .select($"ca", $"cb", $"jaccard")
      .join(newMembers.select($"cfp".as("ca"), $"doc_id".as("new_id")), "ca")
      .join(oldMembers.select($"cfp".as("cb"), $"doc_id".as("old_id")), "cb")
      .join(exact.select($"new_id"), Seq("new_id"), "left_anti")
      .select($"new_id", $"old_id", lit("near").as("kind"), $"jaccard".as("sim"))

    exact.unionByName(near).orderBy($"new_id", $"old_id", $"kind")
  }

  /** Corpus-side state for [[dedupIncremental]], built ONCE per corpus
    * and committed through [[IndexStore]] (what a daily-ingest
    * pipeline precomputes and keeps next to the corpus): the
    * exact-dedup fingerprint keep-list, the shingle sets, the shingle
    * document frequencies, and the prefix-filter index derived from
    * them. Re-runs read the parquet back, so the measured cost of the
    * query is the BATCH-side work — the claimed incremental cost —
    * not a corpus rebuild ([[IndexStore.open]]: no JVM-wide lock).
    * The key holds corpus dir + shingle/τ
    * parameters; bump `Version` when the shingling or prefix logic
    * changes. All four frames are small relative to the corpus (ids + 8-byte hashes), and every join
    * against them in the query has the tiny batch on the other side,
    * so AQE broadcasts the batch and the index never shuffles. */
  private[graft] object IncrementalIndex {
    // v2: shingle hash switched from xxhash64 chains to FNV-1a n-grams
    // (FnvShinglesExpr) — an index persisted under v1 holds hashes no
    // current query can match
    // v3: shingle arrays persisted SORTED (the SortedOverlapCount
    // merge kernel requires asc order) — a v2 index would feed
    // unsorted arrays to the merge and silently under-count
    // v4: CONTENT GRAIN (the r8 decade guard caught dedup_incremental
    // at 9.2×/decade — the same posting-inflation class as the
    // containment join): sh/df/prefix are stored for one min-id
    // REPRESENTATIVE per distinct shingle set, plus a (cfp, doc_id)
    // member map; the batch joins rep postings and member pairs
    // expand on the verified result. df over reps is a valid global
    // rarity order (any fixed order serves the lossless-prefix
    // argument as long as both sides sort by it), and J(A,B) is a
    // function of the contents alone, so expansion is exact.
    private val Version = "v4"
    val Name = "dedup_incremental"

    /** 64-bit shingle-set fingerprint — same collision budget as the
      * shingle hashes themselves (see [[shingled]]). */
    private[operators] def contentFp(c: org.apache.spark.sql.Column) =
      concat_ws(":", size(c), xxhash64(c))

    /** Keyed by a fingerprint of the corpus FILES (name, size,
      * mtime), not just the directory name: the test corpus is
      * regenerated in place between rounds, and an index keyed by
      * path alone would silently serve stale state for new data. */
    def key(dir: String, tau: Double): String =
      s"$Version:s$ShingleSize:t${(tau * 100).toInt}:" + dir +
        graft.mr.Fs.fingerprint(dir + "/documents.parquet")

    def open(
        s: org.apache.spark.sql.SparkSession, dir: String, tau: Double,
        isNewId: org.apache.spark.sql.Column => org.apache.spark.sql.Column): String =
      IndexStore.open(s, Name, key(dir, tau)) { base =>
        val old = Tables.documents(s, dir).where(!isNewId(col("doc_id")))
        old.select(col("doc_id"), md5(normText(col("text"))).as("fp"))
          .groupBy(col("fp")).agg(min(col("doc_id")).as("old_id"))
          .write.parquet(s"$base/fp")
        // content grain: member map + one rep's shingles per set
        val cg = shingled(old).withColumn("cfp", contentFp(col("sh")))
        cg.select(col("cfp"), col("doc_id"))
          .write.parquet(s"$base/members")
        val reps = s.read.parquet(s"$base/members")
          .groupBy(col("cfp")).agg(min(col("doc_id")).as("doc_id"))
        cg.join(reps, Seq("cfp", "doc_id"))
          .select(col("doc_id"), col("cfp"), col("sh"), size(col("sh")).as("sz"))
          .write.parquet(s"$base/sh")
        // df + prefix derive from the persisted REP shingles (read
        // back, not recomputed — corpus text is touched exactly once)
        val sh = s.read.parquet(s"$base/sh")
        val ex = sh.select(col("doc_id"), col("sz"), explode(col("sh")).as("key"))
        ex.groupBy(col("key")).agg(count(lit(1)).as("df"))
          .write.parquet(s"$base/df")
        val byRarity = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df").asc, col("key").asc)
        ex.join(s.read.parquet(s"$base/df"), "key")
          .withColumn("rn", row_number().over(byRarity))
          .where(col("rn") <= col("sz") - ceil(col("sz") * tau) + 1)
          .select(col("key"), col("doc_id"), col("sz"), col("rn"))
          .write.parquet(s"$base/prefix")
      }(identity)
  }

  /** Dedup clusters: connected components over the near-dup pair
    * graph. The graph is the EXACT prefix-filtered Jaccard pair set
    * ([[jaccardPairs]], τ = 0.5) — deterministic and engine-portable,
    * so the driver oracle is a DuckDB recursive CTE over the same
    * pairs (r2 used the minhash-LSH graph, whose signature
    * permutations no second engine can replay; that variant keeps its
    * own spec under `dedup_minhash_lsh`). Output: every document with
    * its cluster representative (min doc_id). */
  val dedupClusters: QueryFn = (s, dir) => {
    import s.implicits._
    clusterChain(s, dir)._2
      .select($"doc_id", $"rep".as("cluster_rep")).orderBy($"doc_id")
  }

  /** Quality-aware survivor selection — the dedup family's POLICY
    * completion: `dedup_clusters` groups near-dups and `dedup_exact`
    * keeps min-id, but a real curation pass keeps the BEST copy (the
    * longest/cleanest crawl of a mirrored page, not the first-seen
    * truncation). Per ≥2-doc cluster (the same jaccard-CC partition
    * as dedup_clusters), the survivor is argmax(quality, min id)
    * via a struct-max — quality = the `text_quality` score
    * (length-capped type/token ratio, exact ratios of integers).
    * `kept_differs` flags clusters where the policy disagrees with
    * naive min-id — the rows a reviewer would eyeball.
    *
    * Same scale shape as dedup_clusters (star-contraction CC) plus
    * a map-side score and one cluster-keyed fold. */
  val dedupKeepBest: QueryFn = (s, dir) => {
    import s.implicits._
    val clusters = clusterChain(s, dir)._2
    val toks = normTokens($"text")
    val nTok = size(toks).cast("double")
    val q = least(nTok / lit(100.0), lit(1.0)) *
      (size(array_distinct(toks)).cast("double") / nTok)
    val scored = Tables.documents(s, dir).select($"doc_id", rnd(q, 6).as("q"))
    clusters.join(scored, "doc_id")
      .groupBy($"rep".as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct($"q", (-$"doc_id").as("nid"))).as("m"))
      .where($"n_docs" >= 2)
      .select($"cluster_rep", $"n_docs", (-$"m.nid").as("kept_doc"),
        $"m.q".as("kept_quality"), (-$"m.nid" =!= $"cluster_rep").as("kept_differs"))
      .orderBy($"cluster_rep")
  }

  /** Connected components of the pair graph over `universe` via the
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14).
    * Returns (doc_id, rep) with rep = min doc_id of the component.
    *
    * Why this and not min-label propagation: propagation needs
    * O(component diameter) synchronous rounds — a template-heavy
    * crawl can chain near-dups dozens of hops deep, and r2's
    * 10-round cap silently returned WRONG labels past that. Star
    * contraction halves long paths every iteration (O(log d) rounds),
    * and convergence is ASSERTED, never capped: the edge set reaching
    * a fixpoint is the algorithm's own termination guarantee, so a
    * non-converged exit is a bug, not a tail case.
    *
    * The loop runs ONLY over nodes that touch an edge — at crawl
    * scale the near-dup subgraph is a sliver of the corpus, so
    * untouched docs join back as their own representative once at the
    * end. Each iteration's edge set is eagerly `localCheckpoint`ed:
    * lineage stays O(1) instead of growing a round-deep plan, and the
    * fixpoint check (count + order-independent hash sum) is the one
    * driver action per iteration. */
  private[operators] def connectedComponents(pairs: DataFrame, universe: DataFrame): DataFrame = {
    // orient every edge large→small; self-loops and duplicates dropped
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .transform(Checkpoints.cut)

    // large-star: every node links its strictly-LARGER neighbors to
    // the minimum of its neighborhood (incl. itself) — long paths
    // fold onto their local minima
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star: every node links its smaller-or-equal neighbors AND
    // itself to the minimum of those — stars flatten to depth 1
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, "u").select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
    }
    def fingerprint(e: DataFrame): (Long, BigDecimal) = {
      // decimal accumulation: a long sum of 2^63-scale hashes trips
      // ANSI overflow; decimal(38,0) holds any realistic edge count
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }

    var fp = fingerprint(edges)
    var converged = fp._1 == 0L
    var rounds = 0
    val maxRounds = 50 // O(log d): 50 covers any graph that fits on disk
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(edges)).distinct().transform(Checkpoints.cut)
      val nextFp = fingerprint(next)
      edges = next
      converged = nextFp == fp
      fp = nextFp
      rounds += 1
    }
    require(converged,
      s"connected components did not converge in $maxRounds star rounds " +
        s"(${fp._1} edges) — raise the cap only if the graph genuinely has 2^$maxRounds-hop chains")
    // fixpoint edge set IS the labeling: (node, component-min) stars
    universe.select(col("doc_id"))
      .join(edges.select(col("u").as("doc_id"), col("v").as("touched_rep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("touched_rep"), col("doc_id")).as("rep"))
  }

  /** The composed LLM-corpus dedup pass (SURVEY.md §2.C as a
    * pipeline): exact dedup → exact near-dup pairs among the exact
    * survivors (lossless prefix-filtered Jaccard, [[jaccardPairs]]) →
    * connected components → keep one representative per cluster.
    * Output: the keep-list with per-stage lineage — for each kept
    * doc, how many exact dups and near-dup cluster members it
    * absorbed (so `sum(n_exact + n_near) + count(*)` audits the
    * pass). This is the query a 100 TB crawl actually runs; each
    * stage is the already-verified operator, chained without any
    * driver materialization between stages (the CC loop's fixpoint
    * check per round is the only driver touch). The near stage being
    * the EXACT pair set (not minhash-LSH) makes the whole pipeline
    * engine-portable — the driver oracle replays it in DuckDB,
    * recursive-CTE clusters included; swap [[minhashPairs]] in when
    * the corpus is big enough that sketch recall beats exact cost. */
  val dedupPipeline: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    // stage 1: exact — keep min doc_id per normalized-text fingerprint.
    // exactGroups is consumed three times (survivor join, lineage
    // join) — cut the small grouped frame, not the raw text.
    val withFp = docs.withColumn("fp", md5(graft.functions.Cols.normText($"text")))
    val exactGroups = withFp.groupBy($"fp")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .transform(Checkpoints.cut)
    val survivors = withFp.join(exactGroups.select($"fp", $"doc_id"), Seq("fp", "doc_id"))
      .select($"doc_id", $"text")
    // stages 2+3 serve from the memoized full-corpus chain
    // ([[clusterChain]]): the τ-exact pair set restricted to survivor
    // endpoints IS the survivor pair set (lossless prefix filter +
    // exact dups share shingle sets), and full-universe CC labels
    // restricted to survivors carry the same reps (every full-cluster
    // min id is a survivor) — proven in the memo's doc comment, and
    // the DuckDB oracle replays the original staged form unchanged.
    val labels = clusterChain(s, dir)._2
      .join(survivors.select($"doc_id"), "doc_id")
    labels
      .join(exactGroups.select($"doc_id", $"n_copies"), "doc_id")
      .groupBy($"rep".as("doc_id"))
      .agg(
        (sum($"n_copies") - count(lit(1))).cast("long").as("n_exact_dups"),
        (count(lit(1)) - 1).cast("long").as("n_near_dups"))
      .orderBy($"doc_id")
  }

  val EmbTopN = 100

  /** Embedding-LSH band geometry `(planes, bandBits)` — the
    * [[simhashGeometry]] treatment applied to the hyperplane family's
    * dedup face (r9 verdict #1). The default `(16, 8)` is the
    * historical 16-plane signature in two 8-bit bands, whose random
    * collision floor is n²·2/2⁸ (linear only below ~10⁴-10⁵ docs;
    * SURVEY §4's 3.6× decade ratio is the floor arriving). The wide
    * geometry `(64, 16)` (four 16-bit bands of a 64-plane signature)
    * pushes
    * the floor to n²·4/2¹⁶ while genuinely-near pairs keep colliding
    * (at cos ≈ 0.99 some band matches w.p. ≈ 0.93 — see
    * [[AnnOps.lshGeometry]]); EmbFloorSpec measures both floors on a
    * planted no-dup corpus and wide-geometry recall on planted
    * verbatim copies. The n-aware schedule
    * ([[AnnOps.scheduledGeometry]], r10 verdict #2) picks the
    * geometry unless a spec pins it through the test-visible
    * override. The oracle interpolates these accessors; the default
    * preserves the gate hashes. */
  @volatile var overrideEmbGeometry: Option[(Int, Int)] = None
  def embGeometry: (Int, Int) =
    GeometryContext.resolve(overrideEmbGeometry.getOrElse((16, 8)))(embGeometryFor)
  def EmbPlanes: Int = embGeometry._1
  def EmbBandBits: Int = embGeometry._2
  def EmbBands: Int = EmbPlanes / EmbBandBits

  /** The geometry the embedding-dedup face USES for this corpus:
    * the override if set, else chosen from the measured corpus size
    * at signature time (below [[AnnOps.ScheduleMinN]] — every gate
    * corpus — the schedule returns the default, so the static
    * accessors the oracle interpolates keep matching the engine). */
  def embGeometryFor(
      s: org.apache.spark.sql.SparkSession, dir: String): (Int, Int) =
    overrideEmbGeometry.getOrElse(
      AnnOps.scheduledGeometry(AnnOps.nVecs(s, dir), (16, 8)))

  /** Embedding-cosine near-dup *review queue*: random-hyperplane LSH
    * candidates under the [[embGeometry]] (default: 16-bit sign
    * signature, two 8-bit bands; wide: 64 planes, four 16-bit bands),
    * exact cosine inside the candidate set, and the global top-N
    * most-similar pairs emitted (cos desc, then vec ids — fully
    * deterministic).
    *
    * r1 emitted `cos >= 0.95` pairs, which is the right production
    * threshold but returns 0 rows on the near-random test embeddings
    * (max pair cosine ≈ 0.51 at sf0.01), making the driver's check
    * vacuous. Top-N keeps the identical LSH+verify scale shape — the
    * ranking is a TakeOrderedAndProject (per-partition bounded heaps,
    * never a global sort), so the plan is 100 TB-safe — while always
    * producing a checkable, nonzero result. A production dedup pass
    * filters the same candidate stream at its τ instead of ranking. */
  /** (vec_id, embedding, sig) under the current [[embGeometry]] —
    * the signature stage of [[dedupEmbedding]], spec-visible so
    * EmbFloorSpec measures the floor on the REAL engine path. */
  private[graft] def embSigs(
      emb: DataFrame, geo: (Int, Int) = embGeometry): DataFrame = {
    emb.select(col("vec_id"), col("embedding"),
      AnnOps.sigUdfFor(geo._1)(col("embedding")).as("sig"))
  }

  /** Band-keyed candidate pairs (vec_a < vec_b) from the signature
    * frame — anchor-capped per band ([[BandCap]] via pairsByKey). */
  private[graft] def embCandidates(
      sigged: DataFrame, geo: (Int, Int) = embGeometry): DataFrame = {
    val keyed = sigged.select(col("vec_id").as("doc_id"),
      explode(array(AnnOps.bandKeyCols(col("sig"), geo): _*)).as("key"))
    pairsByKey(keyed)
      .withColumnRenamed("doc_a", "vec_a").withColumnRenamed("doc_b", "vec_b")
  }

  val dedupEmbedding: QueryFn = (s, dir) => {
    import s.implicits._
    val geo = embGeometryFor(s, dir) // n-aware unless pinned
    val sigged = embSigs(Tables.embeddings(s, dir), geo).transform(Checkpoints.cut)
    val pairs = embCandidates(sigged, geo)
    val a = sigged.select($"vec_id".as("vec_a"), $"embedding".as("emb_a"))
    val b = sigged.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"))
    pairs.join(a, "vec_a").join(b, "vec_b")
      .withColumn("cos_raw", cosine_sim($"emb_a", $"emb_b"))
      .orderBy(rnd($"cos_raw", 6).desc, $"vec_a".asc, $"vec_b".asc)
      .limit(EmbTopN)
      .select($"vec_a", $"vec_b", rnd($"cos_raw", 4).as("cos"))
  }

  /** Boundary mask for [[dedupCdcChunks]]: cut after a token whose
    * FNV hash has its low 3 bits zero — expected chunk ≈ 8 tokens.
    * Masking, not `%`: Spark's hash is a SIGNED long and `%` keeps
    * the dividend's sign (the simhash blocking bug the r3 oracle
    * caught); `& 7` equals the unsigned mod on the low bits. */
  val CdcMask = 7L
  val CdcMinTokens = 4

  /** Content-defined chunking dedup (the rsync/LBFS boundary trick,
    * Muthitacharoen et al., SOSP'01, applied at token granularity):
    * cut each document into variable-size chunks at content-derived
    * boundaries, then find chunks shared across documents. Because
    * boundaries depend only on LOCAL content, an edit resynchronizes
    * at the next boundary — so CDC catches *partial* duplication
    * (quoted passages, templated spans, copy-paste containment) that
    * whole-document minhash misses and fixed-stride chunking loses to
    * offset drift.
    *
    * Shape: chunking is per-document (one window partitioned by
    * doc_id — an in-partition running sum, no global sort); the only
    * corpus-wide shuffle groups by chunk text, partial-agg'd, with
    * volume bounded by total tokens / expected chunk size. At 100 TB
    * the group key is the chunk's 128-bit hash and the text stays in
    * the payload of one exemplar row; the report face keeps the text
    * as the key so a second engine can replay it verbatim. */
  val dedupCdcChunks: QueryFn = (s, dir) => {
    import s.implicits._
    import graft.functions.VectorExpressions.fnv_shingles
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val toks = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("tk"))
      .where(size($"tk") > 0)
      .select($"doc_id",
        posexplode(arrays_zip($"tk", fnv_shingles($"tk", 1).as("h")))
          .as(Seq("pos", "th")))
      .select($"doc_id", $"pos", $"th.tk".as("tok"),
        when($"th.h".bitwiseAND(CdcMask) === 0, 1L).otherwise(0L).as("b"))
    val chunks = toks
      .withColumn("cid", sum($"b").over(byPos) - $"b")
      .groupBy($"doc_id", $"cid")
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct($"pos", $"tok"))), _.getField("tok")),
          " ").as("chunk"))
    chunks
      .where($"n_tokens" >= CdcMinTokens)
      .groupBy($"chunk")
      .agg(min($"n_tokens").as("n_tokens"),
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min($"doc_id").as("first_doc"))
      .where($"n_docs" >= 2)
      .orderBy($"chunk")
  }

  /** Pairs reported per cluster by [[dedupSemantic]]. */
  val SemTopPerCluster = 3

  /** Salt blocks per cluster for [[dedupSemantic]]'s self-join. With
    * nb blocks the join key
    * is (cluster, block_a, block_b): each side replicates nb× but no
    * single task ever carries more than (nᵢ/nb)² pair work, so one
    * giant cluster cannot pin an executor (the r9 verdict's second
    * scale-killer — a bare cluster_id key is k join keys total). The
    * pair SET is block-invariant (every (a<b) pair lands on exactly
    * one (block_a, block_b) key), so the oracle — and the result
    * hash — never see the block count; specs vary it through the
    * test-visible override. */
  @volatile var overrideSemBlocks: Option[Int] = None
  def SemBlocks: Int = overrideSemBlocks.getOrElse(4)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-
    * dup discovery with the pairwise pass BUCKETED BY K-MEANS CLUSTER
    * — cosine is computed only within a cluster, never across the
    * corpus, so the pair space shrinks from n²/2 to Σ nᵢ²/2. Both
    * scale levers are parameters (r9 verdict #1): k via
    * [[KMeansOps.K]] (≈ corpus / target cell size holds nᵢ roughly
    * constant as the corpus grows), and the self-join key is
    * (cluster, block_a, block_b) under
    * [[SemBlocks]] salt blocks, so the largest task carries
    * (nᵢ/nb)² — never a whole cluster's quadratic mass. The
    * per-cluster ranking runs through native `TopK.perKey` bounded
    * heaps (≤ [[SemTopPerCluster]] rows per partition per cluster
    * ever shuffle); the only window ranks the ≤ 3k surviving rows —
    * the full quadratic pair stream is never window-sorted.
    *
    * Centroids are a k×dim broadcast from the exact, SQL-replayable
    * Lloyd's model in [[KMeansOps]]; assignment is map-side. The
    * pair SET, the cosines, and the ranking are block-invariant, so
    * the DuckDB oracle replays the plain within-cluster self-join.
    *
    * Like [[dedupEmbedding]], the report face emits each cluster's
    * top-[[SemTopPerCluster]] most-similar pairs through the rounded-
    * cosine ranking (the test embeddings are near-random, so a
    * production τ ≈ 0.95 filter returns zero rows and would make the
    * gate vacuous); a real pass filters the identical pair stream at
    * its τ instead of ranking. */
  val dedupSemantic: QueryFn = (s, dir) => {
    import s.implicits._
    val nb = SemBlocks
    val assigned = KMeansOps.assignments(s, dir)
      .select($"vec_id", $"embedding", $"cluster_id",
        pmod($"vec_id", lit(nb.toLong)).as("__semblk"))
      .transform(Checkpoints.cut)
    val partnerBlocks = array((0 until nb).map(j => lit(j.toLong)): _*)
    // A carries its own block and explodes the PARTNER's; B the
    // mirror — pair (a, b) meets on exactly one (cluster, ba, bb) key
    val a = assigned.select($"cluster_id", $"vec_id".as("vec_a"),
        $"embedding".as("emb_a"), $"__semblk".as("__semblk_a"))
      .withColumn("__semblk_b", explode(partnerBlocks))
    val b = assigned.select($"cluster_id", $"vec_id".as("vec_b"),
        $"embedding".as("emb_b"), $"__semblk".as("__semblk_b"))
      .withColumn("__semblk_a", explode(partnerBlocks))
    val pairs = a
      .join(b, Seq("cluster_id", "__semblk_a", "__semblk_b"))
      .where($"vec_a" < $"vec_b")
      .withColumn("cos_raw", cosine_sim($"emb_a", $"emb_b"))
      .withColumn("cos_r", rnd($"cos_raw", 6))
    val top = graft.plans.TopK.perKey(pairs,
      keyCols = Seq("cluster_id"),
      orderCols = Seq("cos_r" -> false, "vec_a" -> true, "vec_b" -> true),
      k = SemTopPerCluster)
    // rank the ≤ k·SemTopPerCluster survivors — bounded input window
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id")
      .orderBy($"cos_r".desc, $"vec_a".asc, $"vec_b".asc)
    top.withColumn("rnk", row_number().over(byCluster))
      .select($"cluster_id", $"rnk".cast("long").as("rnk"),
        $"vec_a", $"vec_b", rnd($"cos_raw", 4).as("cos"))
      .orderBy($"cluster_id", $"rnk")
  }
}
