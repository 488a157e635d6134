package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.Cols.{normTokens, rnd}
import graft.functions.VectorExpressions.fnv_shingles

/** Model-based quality scoring with the hashing trick — the
  * fastText-style linear classifier pass every pretraining corpus
  * runs (CCNet's LM filter, fastText quality/lang classifiers,
  * DCLM's fastText filter). The architecture is the product here:
  * features are hashed into a fixed 2^16-bucket space (no vocabulary
  * to build, broadcast, or shuffle — the model is position-addressed),
  * and scoring is a pure map over the corpus: tokenize → hash
  * unigrams+bigrams → look up bucket weights → mean → threshold.
  * Zero shuffles at any corpus size; 100 TB scores at scan speed.
  *
  * The weight table is a deterministic stand-in for trained
  * parameters: w(b) = Knuth-hash(b)/2^31 − 1 ∈ [−1, 1). Every
  * arithmetic step is integer or exact-binary (mask, multiply,
  * mod 2^32, divide by 2^31), so a second engine replays the model
  * bit-for-bit — which is what the DuckDB oracle does, through the
  * same FNV-1a feature hash the dedup stack already replays. A real
  * deployment swaps `bucketWeight` for a broadcast float array
  * learned offline; nothing else changes shape.
  */
object ModelOps {
  import graft.SparkEntry.QueryFn

  val Buckets = 65536 // 2^16 — mask, never %, on a signed hash
  val KnuthC = 2654435761L

  /** Deterministic pseudo-weight of a feature hash: low 16 bits
    * address the bucket, Knuth multiplicative mix spreads bucket id →
    * weight. All steps exact in 64-bit integers and binary doubles. */
  private def weight(h: Column): Column = {
    val b = h.bitwiseAND(lit((Buckets - 1).toLong))
    val m = (b * lit(KnuthC)) % lit(4294967296L)
    m.cast("double") / lit(2147483648.0) - lit(1.0)
  }

  /** Mean bucket weight over a hash-array column, decimal-exact so
    * engines agree regardless of accumulation order. */
  private def meanWeight(hashes: Column): Column =
    aggregate(
      transform(hashes, weight(_)),
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 10)),
      (acc, x) => (acc + x.cast(DecimalType(27, 10))).cast(DecimalType(38, 10)))
      .cast("double") / size(hashes)

  /** χ² feature selection — the top discriminative terms for the
    * target class (doc_id%10==9, the corpus the DSIR/perceptron ops
    * model): per token, the 2×2 presence contingency (target/other ×
    * contains/doesn't) scored χ² = n·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)).
    * χ² is chosen over mutual information DELIBERATELY: MI needs
    * logs (libm drift), χ² is integer arithmetic up to ONE final
    * division — doc counts bound every intermediate under 2⁶³ — so
    * the ranking replays bit-for-bit. The vocabulary-build pass that
    * feeds a non-hashed classifier or a keyword auditor.
    *
    * Shape: one (token)-keyed presence count with conditional
    * partial aggs (the only corpus-sized shuffle — keyed by vocab,
    * not docs), 1-row doc totals broadcast, top 20 through
    * TopKPerKey bounded heaps. */
  val qChi2Terms: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", ($"doc_id" % 10 === 9).as("is_target"),
        array_distinct(normTokens($"text")).as("tk"))
    val totals = docs.agg(
      sum(when($"is_target", 1L).otherwise(0L)).as("n1"),
      sum(when(!$"is_target", 1L).otherwise(0L)).as("n0"))
    val presence = docs
      .select($"is_target", explode($"tk").as("tok"))
      .groupBy($"tok")
      .agg(sum(when($"is_target", 1L).otherwise(0L)).as("a"),
        sum(when(!$"is_target", 1L).otherwise(0L)).as("b"))
    val scored = presence.crossJoin(broadcast(totals))
      .select($"tok", $"a", $"b",
        (($"n1" - $"a")).as("c"), (($"n0" - $"b")).as("d"),
        ($"n1" + $"n0").as("n"))
      // a token present in EVERY doc has an empty "absent" margin —
      // χ² undefined (0 denominator) and uninformative anyway
      .where($"c" + $"d" > 0)
      .select($"tok", $"a", $"b",
        rnd(($"n" * ($"a" * $"d" - $"b" * $"c") * ($"a" * $"d" - $"b" * $"c"))
          .cast("double") /
          ((($"a" + $"b") * ($"c" + $"d") * ($"a" + $"c") * ($"b" + $"d"))
            .cast("double")), 4).as("chi2"))
    graft.plans.TopK.perKey(
        scored.withColumn("g", lit(1)),
        Seq("g"), Seq("chi2" -> false, "tok" -> true), 20)
      .select($"tok", $"a".as("target_df"), $"b".as("other_df"), $"chi2")
      .orderBy($"chi2".desc, $"tok")
  }

  /** Perceptron feature-space size (buckets) and training rounds. */
  val PercBuckets = 64
  val PercRounds = 3

  /** IN-ENGINE classifier TRAINING — batch perceptron over hashed
    * unigram presence features, every arithmetic step a 64-bit
    * INTEGER, so the trained weights (and therefore every margin) are
    * bit-identical in any engine: the DuckDB oracle replays the FULL
    * training run, not a stand-in (the upgrade over [[textHashLr]]'s
    * fixed pseudo-weights). Target class = doc_id%10==9 (the DSIR
    * target convention); w₀ = 0; each round scores every doc
    * (margin = Σ_{b∈doc} w[b]), takes the misclassified set
    * (y·margin ≤ 0 — round 1 is everyone, the standard cold start),
    * and adds the integer batch update Δ[b] = Σ_{misclassified ∋ b} y.
    * Output: every doc's final margin and decision.
    *
    * Scale shape per round: one (doc)-keyed agg for margins (the
    * 64-row weight table rides as an array LITERAL — broadcast-free
    * map-side lookup) + one (bucket)-keyed agg for the update; the
    * driver holds B ints per round (the k×d model-rows discipline).
    * 100 TB trains in `PercRounds` × 2 aggregations — this is why
    * hashed linear models are THE corpus-scale classifier family. */
  val textPerceptronTrain: QueryFn = (s, dir) => {
    import s.implicits._
    perceptronScores(s, dir)
      .select($"doc_id", $"y", $"margin",
        ($"y" * $"margin" > 0).as("correct"))
      .orderBy($"doc_id")
  }

  /** The trained perceptron's per-doc (doc_id, y, margin) — the
    * training loop factored out so [[textPerceptronTrain]] (the
    * training proof) and [[qModelGains]] (the evaluation panel)
    * score against the SAME weights. */
  private[operators] def perceptronScores(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val b = lit(PercBuckets - 1L)
    // r14: pinned — the epoch loop otherwise re-tokenizes and
    // re-distincts the corpus once per consumer (3 rounds × margins +
    // delta + the final scoring = 7 full recomputes, guide §5
    // localCheckpoint for reused intermediates); the feature frame is
    // (doc_id, y, bucket) — narrow, corpus-linear
    val feats = Tables.documents(s, dir)
      .select($"doc_id", when($"doc_id" % 10 === 9, 1L).otherwise(-1L).as("y"),
        explode(fnv_shingles(normTokens($"text"), 1)).as("h"))
      .select($"doc_id", $"y", $"h".bitwiseAND(b).as("bucket"))
      .distinct()
      .transform(Checkpoints.cut)
    var w = Array.fill(PercBuckets)(0L)
    for (_ <- 1 to PercRounds) {
      val wLit = typedlit(w.toSeq)
      val margins = feats
        .groupBy($"doc_id", $"y")
        .agg(sum(element_at(wLit, ($"bucket" + 1).cast("int"))).as("margin"))
      val delta = feats
        .join(margins.where($"y" * $"margin" <= 0).select($"doc_id"), "doc_id")
        .groupBy($"bucket").agg(sum($"y").as("d"))
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1)))
      delta.foreach { case (bk, d) => w(bk) += d }
    }
    val wLit = typedlit(w.toSeq)
    feats
      .groupBy($"doc_id", $"y")
      .agg(sum(element_at(wLit, ($"bucket" + 1).cast("int"))).as("margin"))
  }

  /** Decile gains/lift panel for the trained perceptron — the
    * evaluation half the training ops were missing (a model you
    * can't rank-evaluate isn't a model): docs rank by (margin desc,
    * doc_id), split into 10 explicit ceil-division deciles (the
    * q_rfm_segments formula — never `ntile`), and each decile
    * reports its positive rate, cumulative capture of all positives,
    * and lift over the base rate. All counts exact integers; rates
    * are single divisions — hash-verified despite being "statistics".
    *
    * Scale note: the global rank orders the SCORED set via
    * [[Ranked]]'s range-partitioned prefix counts (n free from the
    * offsets — no sizing action), so even a full-corpus scoring run
    * ranks across all partitions; the 10-row cumulative fold is a
    * bounded triangular self-join — no unpartitioned window node
    * anywhere in the plan. */
  val qModelGains: QueryFn = (s, dir) => {
    import s.implicits._
    val m = perceptronScores(s, dir)
    val rf = Ranked.withGlobalRank(m, Seq($"margin".desc, $"doc_id".asc), "rn")
    // r14: cut — three consumers (the cumulative join, totals, cumDf)
    // otherwise re-run the rank + decile agg chain each
    val byDec = Checkpoints.cut(rf.df
      .withColumn("decile", Ranked.ceilBucket($"rn", 10, rf.n))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n"),
        sum(when($"y" === 1L, 1L).otherwise(0L)).as("n_pos")))
    val totals = byDec.agg(sum($"n").as("nt"), sum($"n_pos").as("pt"))
    val cumDf = byDec.select($"decile".as("d2"), $"n_pos".as("np2"))
    byDec.join(broadcast(cumDf), $"d2" <= $"decile")
      .groupBy($"decile", $"n", $"n_pos")
      .agg(sum($"np2").as("cum_pos"))
      .crossJoin(broadcast(totals))
      .select($"decile", $"n", $"n_pos",
        rnd($"n_pos".cast("double") / $"n".cast("double"), 6).as("pos_rate"),
        rnd($"cum_pos".cast("double") / $"pt".cast("double"), 6).as("cum_capture"),
        rnd(($"n_pos".cast("double") / $"n".cast("double")) /
          ($"pt".cast("double") / $"nt".cast("double")), 4).as("lift"))
      .orderBy($"decile")
  }

  /** (doc_id, n_feats, score, keep) for every document: hashed
    * unigram+bigram features scored against the bucket weight table,
    * kept when the mean weight is positive (the sigmoid is monotone,
    * so thresholding the linear score IS the classifier decision —
    * and sidesteps cross-engine exp() last-ulp drift). */
  val textHashLr: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("tk"))
      .select($"doc_id",
        concat(fnv_shingles($"tk", 1), fnv_shingles($"tk", 2)).as("feats"))
      .where(size($"feats") > 0)
      .select($"doc_id",
        size($"feats").cast("long").as("n_feats"),
        rnd(meanWeight($"feats"), 6).as("score"))
      .withColumn("keep", $"score" > 0)
      .orderBy($"doc_id")
  }

  /** The action vocabulary of the logged event stream (fixed — the
    * generator's five types), i.e. the bandit's arm set. */
  val BanditActions: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** OFF-POLICY evaluation by inverse propensity scoring (r11) — the
    * counterfactual "what would the NEW policy have earned on the OLD
    * logs" estimate every recommender/ranking team computes before an
    * online test (Horvitz–Thompson IPS and its self-normalized SNIPS
    * variant; Swaminathan & Joachims 2015). Each logged event is a
    * decision (context = user, action = event_type, reward = value);
    * the LOGGING policy's propensities and the TARGET policy's argmax
    * are deterministic rational stand-ins derived from the suite's
    * own fnv64→mix64 primitives (a real deployment joins its logged
    * propensities and scores its model here; nothing else changes
    * shape):
    *
    *   numer(x,a) = 1 + (mix64(fnv64("log:a:x")) mod 4)  ∈ 1..4
    *   p(a|x)     = numer(x,a) / Σ_b numer(x,b)
    *   π(x)       = argmax_b mix64(fnv64("pi:b:x")) mod 1024
    *
    * (moduli are powers of two so the signed-vs-unsigned mod agrees
    * across engines — the q_heavy_hitters discipline)
    *   V̂_IPS      = Σ r·w·1[π(x)=a] / N,   w = 1/p  (exact rational)
    *   V̂_SNIPS    = Σ r·w·1[π(x)=a] / Σ w·1[π(x)=a]
    *
    * Exactness: w = denom/numer is one IEEE division of small
    * integers; the sums accumulate DECIMAL-exact ([[graft.functions
    * .Cols.xsum]]); the estimates are single divisions — both
    * engines agree bit-for-bit, so the gate hashes.
    *
    * Scale shape: the per-user arm table (|users|×5) builds in one
    * shuffle on user_id and joins back co-partitioned; the eval
    * itself is one partial+final agg per action. At 100 TB the arm
    * table is the policy/propensity store — still |users|-sized,
    * never corpus-sized. */
  val qBanditIps: QueryFn = (s, dir) => {
    import s.implicits._
    import graft.functions.Cols.xsum
    def h(prefix: String): Column =
      graft.functions.VectorExpressions.mix64(
        element_at(fnv_shingles(array(concat_ws(":",
          lit(prefix), $"b", $"user_id".cast("string"))), 1), 1))
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"value")
    val arms = ev.select($"user_id").distinct()
      .select($"user_id",
        explode(typedLit(BanditActions)).as("b"))
      .select($"user_id", $"b",
        (pmod(h("log"), lit(4L)) + lit(1L)).as("numer"),
        pmod(h("pi"), lit(1024L)).as("score"))
      .transform(Checkpoints.cut) // three consumers: denom, policy, join
    val denom = arms.groupBy($"user_id").agg(sum($"numer").as("den"))
    val pi = graft.plans.TopK.perKey(
        arms.select($"user_id", $"b", $"score"),
        Seq("user_id"), Seq("score" -> false, "b" -> true), 1)
      .select($"user_id", $"b".as("pi_action"))
    val agg = ev
      .join(arms.select($"user_id", $"b".as("event_type"), $"numer"),
        Seq("user_id", "event_type"))
      .join(denom, "user_id")
      .join(pi, "user_id")
      .select($"event_type", $"value",
        ($"den".cast("double") / $"numer".cast("double")).as("w"),
        ($"pi_action" === $"event_type").as("m"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(when($"m", 1L).otherwise(0L)).as("n_match"),
        xsum(when($"m", $"w").otherwise(lit(0.0))).as("sw"),
        xsum(when($"m", $"w" * $"value").otherwise(lit(0.0))).as("swr"))
    agg.select($"event_type", $"n", $"n_match",
        rnd($"sw", 4).as("sum_w"),
        when($"n_match" > 0,
          rnd($"swr" / $"n".cast("double"), 4)).as("ips_value"),
        when($"n_match" > 0, rnd($"swr" / $"sw", 4)).as("snips_value"))
      .orderBy($"event_type")
  }
}
