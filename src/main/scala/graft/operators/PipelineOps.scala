package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._

/** Training-data curation operators (SURVEY.md §2.E extension): the
  * passes an LLM data pipeline runs between raw crawl and tokenizer —
  * PII scrubbing, heuristic quality filtering (Gopher/MassiveText-style
  * rules), boilerplate-vocabulary discovery, stratified sampling, and
  * the corpus-mix report. All map-only or partial+final aggregates;
  * the only corpus-wide shuffles are groupBys on small keys (token,
  * lang, source) — every pass here scales linearly with corpus bytes.
  */
object PipelineOps {
  import graft.SparkEntry.QueryFn

  /** Word n-grams from a MATERIALIZED token-array column (pass a plain
    * column reference, not the tokenizer expression — Catalyst inlines
    * a non-trivial argument into every `element_at` site otherwise;
    * see SURVEY §6). Empty array when the doc is shorter than n.
    *
    * r13 (guide §1.2 "per-task work"): the former
    * `transform(sequence(...), i => concat_ws(...))` form evaluated
    * interpreted per row (HOFs never enter whole-stage codegen) with
    * n element_at probes + a concat_ws tree per gram; this tight
    * loop emits the identical grams — same windows, same
    * concat_ws(" ") null-skipping join, empty array for short or
    * null docs — across the ~11 decontamination/quality consumers. */
  private val ngramUdfs =
    new java.util.concurrent.ConcurrentHashMap[Int, UserDefinedFunction]()

  def wordNgrams(toks: Column, n: Int): Column =
    ngramUdfs.computeIfAbsent(n, (k: Int) => udf { (ts: Seq[String]) =>
      if (ts == null || ts.length < k) Array.empty[String]
      else {
        val a = ts.toArray
        Array.tabulate(a.length - k + 1) { i =>
          val sb = new java.lang.StringBuilder
          var first = true
          var j = 0
          while (j < k) {
            val t = a(i + j)
            if (t != null) {
              if (!first) sb.append(' ')
              sb.append(t); first = false
            }
            j += 1
          }
          sb.toString
        }
      }
    })(toks)

  /** Collocation mining: adjacent-bigram lift against independent
    * unigram rates — lift(a,b) = c_ab · T / (c_a · c_b), the
    * log-free monotone twin of PMI (libm log differs across engines
    * in the last ulp; the plain ratio of exact integer counts does
    * not — same reasoning as [[textLmScore]]). The phrase-mining
    * pass a tokenizer-training pipeline runs to decide which word
    * pairs deserve a merged token.
    *
    * Scale shape: one corpus scan explodes bigrams into a counted
    * (w1,w2) table (partial agg map-side, c_ab ≥ 5 prunes the Zipf
    * tail BEFORE the joins), unigram counts join by token key — a
    * shuffle equi-join on both sides since a 100 TB corpus's vocab
    * outgrows a broadcast — and T arrives as a collected literal, not
    * a cross join. Bounded top-k lowers to TakeOrderedAndProject. */
  val qCollocations: QueryFn = (s, dir) => {
    import s.implicits._
    val toks = Tables.documents(s, dir).select(normTokens($"text").as("tk"))
    val totalTokens = toks.select(sum(size($"tk"))).head.getLong(0)
    val uni = toks.select(explode($"tk").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    val big = toks.select(explode(wordNgrams($"tk", 2)).as("ng"))
      .groupBy($"ng").agg(count(lit(1)).as("c_ab"))
      .where($"c_ab" >= 5)
      .select(split($"ng", " ").getItem(0).as("w1"),
        split($"ng", " ").getItem(1).as("w2"), $"c_ab")
    big
      .join(uni.select($"w".as("w1"), $"c".as("c_a")), "w1")
      .join(uni.select($"w".as("w2"), $"c".as("c_b")), "w2")
      .select($"w1", $"w2", $"c_ab",
        rnd(($"c_ab" * lit(totalTokens)).cast("double") /
          ($"c_a" * $"c_b").cast("double"), 4).as("lift"))
      .orderBy($"lift".desc, $"w1".asc, $"w2".asc)
      .limit(25)
  }

  // ---------------------------------------------------------------
  // PII scan / redaction
  // ---------------------------------------------------------------

  // ASCII-only patterns chosen to behave identically under Java regex
  // (Spark) and RE2 (DuckDB oracle).
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b555-\\d{4}\\b"

  /** Deterministic PII fixture: the synthetic corpus contains no
    * emails/IPs/phones, so scanning it raw would be a vacuous green
    * (the round-1 `dedup_embedding` failure mode). Both the Spark plan
    * and the oracle SQL append the same doc_id-derived fixtures, so
    * the extraction/redaction machinery is genuinely exercised with
    * known-nonzero hits. */
  def withPiiFixtures(docId: Column, text: Column): Column = concat(
    text,
    when(docId % 7 === 0,
      concat(lit(" contact user"), docId, lit("@example.com now"))).otherwise(""),
    when(docId % 5 === 0,
      concat(lit(" host 10.2."), docId % 250, lit(".7 port"))).otherwise(""),
    when(docId % 11 === 0,
      concat(lit(" call 555-02"), docId % 10, docId % 10, lit(" today"))).otherwise(""))

  /** Per-document PII scan + redaction audit: counts per pattern class
    * and the post-redaction length. Map-only — at 100 TB this runs at
    * scan speed with zero shuffle (the orderBy exists only for the
    * deterministic oracle compare). */
  val textPiiScan: QueryFn = (s, dir) => {
    import s.implicits._
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace($"pt", emailRe, "<EMAIL>"),
          ipv4Re, "<IP>"),
        phoneRe, "<PHONE>")
    Tables.documents(s, dir)
      .select($"doc_id", withPiiFixtures($"doc_id", $"text").as("pt"))
      .select(
        $"doc_id",
        size(regexp_extract_all($"pt", lit(emailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all($"pt", lit(ipv4Re), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all($"pt", lit(phoneRe), lit(0))).cast("long").as("n_phones"),
        length(redacted).cast("long").as("red_len"))
      .withColumn("n_pii", ($"n_emails" + $"n_ips" + $"n_phones").as("n_pii"))
      .select($"doc_id", $"n_emails", $"n_ips", $"n_phones", $"n_pii", $"red_len")
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // Gopher-style quality rules
  // ---------------------------------------------------------------

  /** Heuristic keep/drop filter in the style of the Gopher /
    * MassiveText quality rules (Rae et al. 2021, arXiv:2112.11446
    * table A1): word-count bounds, mean-word-length band, duplicate
    * 2-gram fraction cap, stopword-presence floor. Thresholds tuned so
    * the sf corpus mixes keeps and drops (a filter that keeps
    * everything verifies nothing). Flag columns are kept separate so
    * a pipeline can ablate individual rules. */
  val textGopherRules: QueryFn = (s, dir) => {
    import s.implicits._
    val toksd = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("toks"))
    val base = toksd.select(
      $"doc_id",
      size($"toks").cast("long").as("n_tokens"),
      (aggregate($"toks", lit(0L), (a, x) => a + length(x)).cast("double") /
        size($"toks")).as("mwl"),
      hitCount($"toks", TextOps.stopwords).cast("long").as("stop_hits"),
      wordNgrams($"toks", 2).as("g2"))
    val dup2 = lit(1.0) - size(array_distinct($"g2")).cast("double") / size($"g2")
    base
      .withColumn("dup2", dup2)
      .select(
        $"doc_id", $"n_tokens",
        rnd($"mwl", 4).as("mean_wlen"),
        $"stop_hits",
        rnd($"dup2", 4).as("dup2_ratio"),
        ($"n_tokens" >= 20 && $"n_tokens" <= 80).cast("long").as("wc_ok"),
        ($"mwl" >= 4.0 && $"mwl" <= 5.0).cast("long").as("wlen_ok"),
        ($"dup2" <= 0.05).cast("long").as("rep_ok"),
        ($"stop_hits" >= 1).cast("long").as("stop_ok"))
      .withColumn("keep",
        ($"wc_ok" === 1 && $"wlen_ok" === 1 && $"rep_ok" === 1 && $"stop_ok" === 1)
          .cast("long"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // Boilerplate vocabulary discovery
  // ---------------------------------------------------------------

  /** Tokens present in ≥ 50% of documents — the corpus-specific
    * stopword/boilerplate list a pipeline derives before dedup (at web
    * scale these are nav-bar strings and license headers). Document
    * frequency, not term frequency: one distinct per doc, then a
    * partial+final count on the (tiny) token key. The corpus total is
    * a 1-row broadcast, not a driver collect. */
  val textBoilerplate: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val df = docs
      .select($"doc_id", explode(array_distinct(normTokens($"text"))).as("tok"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    df.crossJoin(broadcast(total))
      .where($"df".cast("double") / $"n_docs" >= 0.5)
      .select($"tok", $"df", rnd($"df".cast("double") / $"n_docs", 4).as("df_ratio"))
      .orderBy($"tok")
  }

  // ---------------------------------------------------------------
  // Stratified deterministic sampling
  // ---------------------------------------------------------------

  /** Per-language stratified sample with different target rates
    * (en 50%, de 25%, fr 12.5%, others 6.25%) selected by the first
    * md5 nibble of doc_id — the deterministic, engine-portable version
    * of weighted reservoir sampling that a data-mix rebalance applies.
    * Map-only predicate; the rollup shuffles only |langs| keys. */
  val qStratifiedSample: QueryFn = (s, dir) => {
    import s.implicits._
    val nib = conv(substring(md5($"doc_id".cast("string")), 1, 1), 16, 10).cast("int")
    val lim = when($"lang" === "en", 8)
      .when($"lang" === "de", 4)
      .when($"lang" === "fr", 2)
      .otherwise(1)
    val sampled = nib < lim
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"),
        rnd(avg(when(sampled, 1.0).otherwise(0.0)), 4).as("sample_rate"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------
  // Top n-grams per language (native TopKPerKey reuse)
  // ---------------------------------------------------------------

  /** Top-5 word 2-grams per language by frequency, ranked through the
    * custom TopKPerKey Catalyst operator (partial per-partition heaps,
    * ≤ k rows per key shuffled — no per-language total sort; the same
    * plan shape survives a vocabulary of billions of n-grams). */
  val qTopNgrams: QueryFn = (s, dir) => {
    import s.implicits._
    val counts = Tables.documents(s, dir)
      .select($"lang", normTokens($"text").as("toks"))
      .select($"lang", explode(wordNgrams($"toks", 2)).as("ng"))
      .groupBy($"lang", $"ng")
      .agg(count(lit(1)).as("cnt"))
    graft.plans.TopK
      .perKey(counts, keyCols = Seq("lang"),
        orderCols = Seq("cnt" -> false, "ng" -> true), k = 5)
      .select($"lang", $"ng", $"cnt")
      .orderBy($"lang", $"cnt".desc, $"ng".asc)
  }

  // ---------------------------------------------------------------
  // TF-IDF top terms
  // ---------------------------------------------------------------

  /** Top-3 terms per document by TF-IDF, with the rational
    * N/df weighting (no log: libm log differs across engines in the
    * last ulp, a plain ratio doesn't — same reasoning as
    * [[textLmScore]]). Ranking runs through the native TopKPerKey
    * operator (bounded heaps, ≤ 3 rows per doc shuffled) — its third
    * consumer, here with doc_id as the key, i.e. millions of small
    * groups rather than a few large ones. */
  val textTfidfTop: QueryFn = (s, dir) => {
    import s.implicits._
    // r14: cut — tf feeds the df agg AND the scoring join; unpinned,
    // both re-ran the tokenize/explode/agg subtree
    val tf = Checkpoints.cut(Tables.documents(s, dir)
      .select($"doc_id", explode(normTokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "tok").crossJoin(broadcast(total))
      .withColumn("tfidf", $"tf".cast("double") * ($"n_docs".cast("double") / $"df"))
      .withColumn("tfidf_r", rnd($"tfidf", 6))
    val topped = graft.plans.TopK.perKey(scored,
      keyCols = Seq("doc_id"), orderCols = Seq("tfidf_r" -> false, "tok" -> true), k = 3)
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf_r".desc, $"tok".asc)
    topped
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select($"doc_id", $"rnk", $"tok", rnd($"tfidf", 4).as("tfidf"))
      .orderBy($"doc_id", $"rnk")
  }

  /** Seed-based similar-document retrieval: top-3 corpus documents by
    * tf-idf cosine for each probe document (doc_id % 100 == 0 — the
    * curated seed set), the workhorse of similarity-based data
    * selection (DSIR-style importance sampling seeds, quality-corpus
    * expansion).
    *
    * Sparse cosine via the inverted index, never dense vectors: the
    * posting-list join on `tok` only pairs documents that SHARE a
    * term, so join volume is Σ_t df_probe(t)·df(t) — linear in the
    * corpus for a fixed seed set (the probe side is tiny and
    * hash-joins against the corpus postings; at 100 TB the seed
    * posting list broadcasts). Norms are one partial+final agg;
    * ranking runs through the native TopKPerKey operator (bounded
    * heaps, no global sort). Same rational N/df weighting as
    * [[textTfidfTop]] — no logs, so every weight, dot product
    * (decimal-accumulated) and norm is bit-identical cross-engine.
    *
    * Vectors span DISCRIMINATIVE terms only — the bottom quartile of
    * the vocabulary by (df, tok) rank (integer rank arithmetic, so
    * the cutoff can't straddle an engine's rounding — and unlike a
    * fixed df·k ≤ N ratio it is never empty on ANY corpus, including
    * this synthetic one whose ~31-token vocabulary is bimodal with
    * df ∈ {25} ∪ [373, 402]): stopword postings pair every probe
    * with every document, turning the posting join quadratic for
    * near-zero weight contribution (df ≈ N ⟹ idf ≈ 1). On a Zipf
    * vocabulary the bottom quartile IS the rare discriminative tail;
    * the rank runs over the vocabulary via [[Ranked]]'s
    * range-partitioned prefix counts (vocab ≪ corpus, but a 100-TB
    * corpus's vocabulary is itself unbounded — no single-partition
    * stage), the same feature-selection step of sparse-vector
    * retrieval. */
  val textSeedSim: QueryFn = (s, dir) => {
    import s.implicits._
    // r14: tf feeds df AND the weight frame, and w feeds the norms
    // (twice), the probe side and the corpus side — unpinned, every
    // consumer re-derived the whole tokenize/agg subtree (144
    // operators / 16 parquet scans / 68 Exchanges,
    // plans/r14/text_seed_sim_before.txt). Pinned, each runs once
    // (guide §5).
    val tf = Tables.documents(s, dir)
      .select($"doc_id", explode(normTokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      .transform(Checkpoints.cut)
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    // bottom-quartile vocabulary by (df, tok): r <= ceil(vn/4)
    val rdf = Ranked.withGlobalRank(df, Seq($"df".asc, $"tok".asc), "r")
    val vocab = rdf.df
      .where($"r" * 4 <= lit(rdf.n) + 3)
      .select($"tok", $"df")
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = tf.join(vocab, "tok").crossJoin(broadcast(total))
      .select($"doc_id", $"tok",
        ($"tf".cast("double") * ($"n_docs".cast("double") / $"df")).as("w"))
      .transform(Checkpoints.cut)
    val nrm = w.groupBy($"doc_id").agg(sqrt(xsum($"w" * $"w")).as("nrm"))
    val probes = w.where($"doc_id" % 100 === 0)
      .select($"tok", $"doc_id".as("probe_id"), $"w".as("wp"))
    val corpus = w.where($"doc_id" % 100 =!= 0)
      .select($"tok", $"doc_id".as("match_id"), $"w".as("wd"))
    val dots = probes.join(corpus, "tok")
      .groupBy($"probe_id", $"match_id").agg(xsum($"wp" * $"wd").as("dot"))
    val sims = dots
      .join(nrm.select($"doc_id".as("probe_id"), $"nrm".as("np")), "probe_id")
      .join(nrm.select($"doc_id".as("match_id"), $"nrm".as("nd")), "match_id")
      .select($"probe_id", $"match_id", ($"dot" / ($"np" * $"nd")).as("sim"))
      .withColumn("sim_r", rnd($"sim", 6))
    val topped = graft.plans.TopK.perKey(sims,
      keyCols = Seq("probe_id"), orderCols = Seq("sim_r" -> false, "match_id" -> true), k = 3)
    val byProbe = Window.partitionBy($"probe_id").orderBy($"sim_r".desc, $"match_id".asc)
    topped
      .withColumn("rnk", row_number().over(byProbe).cast("long"))
      .select($"probe_id", $"rnk", $"match_id", rnd($"sim", 4).as("sim"))
      .orderBy($"probe_id", $"rnk")
  }

  // ---------------------------------------------------------------
  // Bigram language-model fluency score
  // ---------------------------------------------------------------

  /** Per-document fluency score from a corpus bigram model: the mean
    * add-1-smoothed conditional probability P(w_i | w_{i-1}) under
    * per-language bigram counts — the shape of a perplexity-based
    * quality filter (CCNet-style), built without transcendentals so
    * both engines agree bit-for-bit (log/exp differ across libm
    * implementations in the last ulp; a plain ratio mean doesn't).
    * Two aggregations over the corpus bigram stream (model fit) + one
    * join back (scoring) — all partial+final, keys are (lang, w1[,
    * w2]): the exact plan a 100 TB n-gram scorer uses, with the model
    * tables shuffle-joined (they grow with vocabulary², never
    * broadcastable at real scale — only the 1-row-per-lang vocabulary
    * size is). */
  val textLmScore: QueryFn = (s, dir) => {
    import s.implicits._
    // r14: the tokenized corpus feeds the bigram stream twice (model
    // fit + scoring join) and the model table three consumers (ugc,
    // v, join) — pin the NARROW frames (tokens per doc; distinct-
    // bigram counts), not the per-position bigram stream, so the
    // regex tokenization and the model agg each run once (guide §5;
    // the plan otherwise re-derived them per consumer: 8 parquet
    // scans / 20 exchanges, plans/r14/text_lm_score_before.txt —
    // pinning the exploded stream itself A/B'd flat, its block
    // write costs what the recompute did)
    val toksd = Tables.documents(s, dir)
      .select($"doc_id", $"lang", normTokens($"text").as("toks"))
      .where(size($"toks") >= 2)
      .transform(Checkpoints.cut)
    val bg = toksd
      .select($"doc_id", $"lang",
        explode(transform(sequence(lit(1), size($"toks") - 1), i =>
          struct(element_at($"toks", i).as("w1"),
            element_at($"toks", i + 1).as("w2")))).as("p"))
      .select($"doc_id", $"lang", $"p.w1".as("w1"), $"p.w2".as("w2"))
    val bgc = bg.groupBy($"lang", $"w1", $"w2").agg(count(lit(1)).as("c2"))
      .transform(Checkpoints.cut)
    val ugc = bgc.groupBy($"lang", $"w1").agg(sum($"c2").as("c1"))
    val v = bgc.groupBy($"lang").agg(count_distinct($"w2").as("vsize"))
    val prob = ($"c2" + 1).cast("double") / ($"c1" + $"vsize")
    bg.join(bgc, Seq("lang", "w1", "w2"))
      .join(ugc, Seq("lang", "w1"))
      .join(broadcast(v), Seq("lang"))
      .select($"doc_id", prob.as("p"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        rnd(xsum($"p") / count(lit(1)), 6).as("lm_score"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // Benchmark decontamination
  // ---------------------------------------------------------------

  /** Train/benchmark decontamination scan — the pass that keeps eval
    * sets out of the training corpus (Gopher/GPT-3 style n-gram
    * overlap; Brown et al. 2020 §C use 13-grams on web-scale text,
    * here 4-grams fit the short synthetic docs). Docs with
    * doc_id%10==9 stand in for the benchmark set. The benchmark's
    * distinct n-gram set is small regardless of corpus size (it scales
    * with the eval suite, not the crawl), so it is THE broadcast side;
    * the training corpus streams past it map-side and only matching
    * grams reach the per-doc count shuffle. Emits one row per
    * contaminated training doc. */
  val textDecontaminate: QueryFn = (s, dir) => {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("toks"))
      .where(size($"toks") >= 4)
      .select($"doc_id", explode(array_distinct(wordNgrams($"toks", 4))).as("ng"))
    val bench = grams.where($"doc_id" % 10 === 9).select($"ng").distinct()
    val train = grams.where($"doc_id" % 10 =!= 9)
    val nGrams = train.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = train.join(broadcast(bench), "ng")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
    hits.join(nGrams, "doc_id")
      .select($"doc_id", $"n_grams", $"n_hit",
        rnd($"n_hit".cast("double") / $"n_grams", 4).as("hit_ratio"))
      .orderBy($"doc_id")
  }

  /** Decontamination Bloom geometry: a FIXED power-of-two table
    * (2 MiB broadcast) and 7 probes — constants, not data-derived,
    * so the oracle interpolates them like every other dial. At the
    * gate SFs the load factor keeps false positives rare; at a real
    * benchmark-suite scale the table widens, the SCHEME (and its
    * SQL replay) doesn't change. */
  val BloomBits: Int = 1 << 24
  val BloomK: Int = 7

  /** Bloom-filter decontamination — the 100 TB face of
    * [[textDecontaminate]]. The exact scan broadcasts the raw
    * benchmark gram set; at a real benchmark suite × several n-gram
    * orders that set is tens of GB and stops fitting executor
    * memory. A Bloom filter compresses it to a fixed 2 MiB with
    * ZERO false negatives: contamination can never slip through,
    * and the (rare) false-positive overhang is re-checked exactly
    * downstream on the flagged docs only. Probe is map-side over
    * the broadcast sketch — same scan shape as the exact join,
    * orders of magnitude less broadcast weight.
    *
    * r10: the sketch is [[graft.functions.FnvBloom]] — every bit a
    * composition of the fnv64/mix64 primitives the oracles already
    * replay — so this moved from spec-bounded to HASH-VERIFIED
    * (`text_bloom_decontaminate`): the gate checks the exact flag
    * counts, false positives included. The build is a distributed
    * treeAggregate (partitions fold locally, filters OR pairwise —
    * the KMV/HLL mergeable-sketch shape; the driver never sees a
    * gram). Spec-verified on top: every exactly-contaminated doc
    * appears with n_flagged ≥ its exact hit count (the zero-false-
    * negative guarantee). */
  def bloomDecontaminate(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("toks"))
      .where(size($"toks") >= 4)
      .select($"doc_id", explode(array_distinct(wordNgrams($"toks", 4))).as("ng"))
    val bench = grams.where($"doc_id" % 10 === 9).select($"ng").as[String].distinct()
    val bf = graft.functions.FnvBloom.build(bench, BloomBits, BloomK)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((ng: String) => bfB.value.mightContain(ng))
    grams.where($"doc_id" % 10 =!= 9)
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(when(mightContain($"ng"), 1L).otherwise(0L)).as("n_flagged"))
      .where($"n_flagged" > 0)
      .orderBy($"doc_id")
  }

  /** Near-duplicate threshold for [[textMinhashDecontaminate]] —
    * matched to the minhash banding's own candidate threshold
    * ((1/16)^(1/4) ≈ 0.5), so the index surfaces exactly the overlap
    * regime it can see reliably. */
  val NearContamTau = 0.5

  /** MinHash NEAR-decontamination (r11 next-round #8): the
    * decontamination ladder's missing rung. `text_decontaminate` /
    * the Bloom face / the exact-substr spans are all VERBATIM
    * detectors — a paraphrased or lightly-edited benchmark item
    * (the 2020s leakage concern: translated eval sets, whitespace-
    * normalized copies, near-verbatim quotes) shares few exact
    * 4-grams and walks through. This pass runs the SAME banded
    * minhash index the dedup family serves, CROSS-SET: training
    * docs (doc_id%10≠9) against the benchmark set (doc_id%10=9),
    * band-key equi-join (never all-pairs), exact Jaccard on
    * candidates only, flagged at [[NearContamTau]].
    *
    * Capping: per (band, key) bucket, each SIDE is rank-capped at
    * [[DedupOps.BandCap]] by doc_id (the [[Blocking]] anchor
    * discipline, applied per side because the join is bipartite) —
    * a degenerate boilerplate bucket admits O(cap²) pairs, never
    * |train|×|bench|. The oracle replays the identical rank rule.
    *
    * Scale: shingles/signatures are the dedup family's (shared
    * memo/pin), the only new shuffle is the banded bipartite join —
    * candidates ≈ corpus × band collision rate, the LSH posture. At
    * 100 TB the benchmark side is tiny (benchmarks are MBs) so the
    * band join degenerates to a broadcast — same plan, smaller.
    *
    * PLANTS (r13, r12 what's-wrong #1 — the gate row flagged exactly
    * ONE organic document, too thin to tell "the banding surfaces
    * the near-duplicate regime" from one lucky pair): the gate
    * corpus is seeded with DETERMINISTIC paraphrase-grade
    * contaminations — every 50th benchmark doc re-enters the TRAIN
    * side (doc_id → 10⁶ + 10·doc_id, % 10 = 0) with every m-th
    * token dropped, m cycling {10, 12, 16, 20, 30} → shingle
    * Jaccard ≈ 0.58-0.84 vs its source (each dropped token kills ~3
    * shingles and bridges ~2 new ones: J ≈ (1−3/m)/(1+2/m)) — the
    * exact token-dropout/light-edit regime this operator exists to
    * catch, spread across the banding's catch-probability curve.
    * The oracle replays the identical dropout ([[minhashChainFromToks]]
    * splices a planted token source above the shared chain), and
    * check.py enforces a ≥ 5-row floor on this gate row (the r12
    * survival-curve discipline). */
  val textMinhashDecontaminate: QueryFn = (s, dir) =>
    minhashDecontaminateOver(decontamCorpus(s, dir).transform(Checkpoints.cut))

  /** The gate's planted shingle corpus — documents ∪ token-dropout
    * paraphrases; spec-visible so the brute-force equality check
    * runs over the identical planted frame. */
  private[operators] def decontamCorpus(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // dropout period from the SOURCE doc_id, staged BEFORE the plant
    // id is aliased: a lambda's outer reference resolves against the
    // projection OUTPUT, so `doc_id` inside the filter would bind to
    // the re-keyed plant id (caught by the oracle diff — every plant
    // silently got the same m)
    val plantToks = Tables.documents(s, dir)
      .where($"doc_id" % 50 === 9)
      .select($"doc_id", normTokens($"text").as("tk0"))
      .withColumn("m", element_at(typedLit(Seq(10, 12, 16, 20, 30)),
        (($"doc_id" / 50).cast("int") % 5) + 1))
      .withColumn("tk", filter($"tk0", (_, i) => ((i + 1) % $"m") =!= 0))
      .select((lit(1000000L) + $"doc_id" * 10).as("doc_id"), $"tk")
    DedupOps.docShingles(s, dir)
      .unionByName(DedupOps.shingledToks(plantToks))
  }

  /** The core over a pre-shingled (doc_id, sh) frame — spec-visible
    * so the plant/brute-force checks run the REAL banded path. */
  private[operators] def minhashDecontaminateOver(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import docs.sparkSession.implicits._
    val sigged = docs.select($"doc_id",
      graft.functions.VectorExpressions.minhash_sig($"sh",
        graft.functions.Hashes.minhashParams(DedupOps.NumPerms)).as("sig"))
    // r14: cut — both band-capped sides (train + bench) read the
    // banded key stream; unpinned, each re-ran the minhash signature
    // pass over the shingled corpus
    val keyed = Checkpoints.cut(sigged.select($"doc_id",
      explode(graft.functions.Hashes.bandKeys(
        $"sig", DedupOps.Bands, DedupOps.RowsPerBand)).as("key")))
    def side(f: Column => Column) = keyed.where(f($"doc_id" % 10 === 9))
      .withColumn("i", row_number().over(
        Window.partitionBy($"key").orderBy($"doc_id")))
      .where($"i" <= DedupOps.BandCap)
    val cand = side(!_).select($"doc_id", $"key")
      .join(side(identity).select($"doc_id".as("bench_id"), $"key"), "key")
      .select($"doc_id", $"bench_id").distinct()
    val st = docs.select($"doc_id", $"sh".as("sh_t"))
    val sb = docs.select($"doc_id".as("bench_id"), $"sh".as("sh_b"))
    cand.join(st, "doc_id").join(sb, "bench_id")
      .withColumn("o", graft.functions.VectorExpressions
        .sorted_overlap($"sh_t", $"sh_b").cast("double"))
      .withColumn("jac", $"o" / (size($"sh_t") + size($"sh_b") - $"o"))
      .where($"jac" >= NearContamTau)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bench_matches"),
        max(rnd($"jac", 4)).as("max_jaccard"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // Readability scoring
  // ---------------------------------------------------------------

  /** Flesch-style readability proxy: syllables approximated by vowel
    * groups (`[aeiouy]+`), the document scored as one sentence (the
    * synthetic corpus has no sentence punctuation — on real text the
    * words-per-sentence term divides by a `[.!?]+` count). All
    * rational arithmetic on counts, so both engines agree bit-for-bit;
    * map-only, runs at scan speed. */
  val textReadability: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        size(normTokens($"text")).cast("long").as("n_words"),
        size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syll"))
      .where($"n_words" > 0)
      .select($"doc_id", $"n_words", $"n_syll",
        rnd($"n_syll".cast("double") / $"n_words", 4).as("syll_per_word"),
        rnd(lit(206.835) - lit(1.015) * $"n_words"
          - lit(84.6) * ($"n_syll".cast("double") / $"n_words"), 2).as("flesch"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // Corpus mix report
  // ---------------------------------------------------------------

  /** Temperature-resampled corpus mix (the α-sampling of multilingual
    * LM training — Lample & Conneau 2019, arXiv:1901.07291 §3.1;
    * XLM-R's rebalancing): per-source sampling weights
    * w_s ∝ n_s^α at α = 0.5, flattening the natural source
    * distribution so head domains stop drowning the tail, plus the
    * integer per-source target counts a sampler would draw.
    *
    * α is fixed at 0.5 because √ is an IEEE-exact operation — both
    * engines produce bit-identical weights, whereas a general
    * `pow(n, 0.3)` is correctly-rounded in neither and may differ in
    * the last ulp (libm vs Math.pow). The Σ√n normalizer accumulates
    * in decimal ([[xsum]]) so partial-agg order can't move it.
    * Shape: one partial+final count per source, a 1-row broadcast of
    * the totals, map-side arithmetic — the cheapest possible report. */
  val qMixTemperature: QueryFn = (s, dir) => {
    import s.implicits._
    val bySource = Tables.documents(s, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val tot = bySource.agg(
      sum($"n_docs").cast("double").as("nn"),
      xsum(sqrt($"n_docs".cast("double"))).as("sq"))
    bySource.crossJoin(broadcast(tot))
      .select($"source", $"n_docs",
        rnd($"n_docs".cast("double") / $"nn", 6).as("p_raw"),
        rnd(sqrt($"n_docs".cast("double")) / $"sq", 6).as("p_temp"),
        floor(sqrt($"n_docs".cast("double")) / $"sq" * $"nn" + lit(0.5))
          .cast("long").as("target_docs"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------
  // Cross-document repeated phrases (memorization-risk report)
  // ---------------------------------------------------------------

  /** Verbatim-duplication audit: 6-token phrases appearing in ≥ 2
    * distinct documents, with document/occurrence counts and the
    * first doc carrying each — the report run before training to
    * gauge verbatim-memorization risk (Lee et al. 2022,
    * arXiv:2107.06499 motivates substring-level dedup; phrase-grain
    * n-grams are its scan-speed approximation). Distinct from
    * [[textBoilerplate]] (single-token df) and [[textDecontaminate]]
    * (train-vs-benchmark): this is corpus-internal, phrase-level.
    * Shape: explode grams (map-side), one partial+final agg on the
    * gram key, HAVING on the grouped result — linear in corpus
    * tokens, no joins. */
  val textRepeatedNgrams: QueryFn = (s, dir) => {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("toks"))
      .where(size($"toks") >= 6)
      .select($"doc_id", explode(wordNgrams($"toks", 6)).as("ng"))
    grams
      .groupBy($"ng")
      .agg(
        count_distinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min($"doc_id").as("first_doc"))
      .where($"n_docs" >= 2)
      .orderBy($"ng")
  }

  // ---------------------------------------------------------------
  // CCNet-style perplexity buckets
  // ---------------------------------------------------------------

  /** CCNet-style quality bucketing (Wenzek et al. 2020, arXiv:
    * 1911.00359 §4.3): each language's documents are split into
    * head/middle/tail tertiles by LM fluency ([[textLmScore]], which
    * stands in for the Kneser-Ney perplexity CCNet uses), and the
    * report carries doc/token mass per bucket — the table a
    * pretraining mix uses to oversample the head. Deterministic:
    * ntile over (rounded score, doc_id); decimal-exact score means.
    * One window per language partition + one small agg — the window
    * sorts each language's docs once, the same cost class as any
    * per-group ranking at 100 TB. */
  val textCcnetBuckets: QueryFn = (s, dir) => {
    import s.implicits._
    val scored = textLmScore(s, dir).select($"doc_id", $"lm_score")
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"lang", size(normTokens($"text")).cast("long").as("n_toks"))
    val w = Window.partitionBy($"lang").orderBy($"lm_score".asc, $"doc_id".asc)
    scored.join(docs, "doc_id")
      .withColumn("tertile", ntile(3).over(w))
      .withColumn("bucket",
        when($"tertile" === 3, "head").when($"tertile" === 2, "middle").otherwise("tail"))
      .groupBy($"lang", $"bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        rnd(xsum($"lm_score") / count(lit(1)), 6).as("avg_score"))
      .orderBy($"lang", $"bucket")
  }

  // ---------------------------------------------------------------
  // End-to-end curation funnel
  // ---------------------------------------------------------------

  /** The composed corpus-curation pass a pretraining-data pipeline
    * actually ships — every stage is the already-verified operator,
    * chained with no driver materialization between stages:
    *
    *   input → Gopher quality keep ([[textGopherRules]]'s predicate)
    *         → benchmark decontamination ([[textDecontaminate]]'s
    *           4-gram scan; contaminated docs and the benchmark docs
    *           themselves drop)
    *         → exact dedup (min doc_id per fingerprint)
    *         → near dedup (lossless prefix-filtered Jaccard pairs →
    *           star-contraction clusters → keep representatives)
    *         → stratified sample ([[qStratifiedSample]]'s rates)
    *
    * Output: the per-(source, lang) funnel — doc counts surviving
    * each stage. Monotone by construction, and `sum(n_input)` equals
    * the corpus size, so mass conservation is part of the oracle hash.
    * Every stage is map-side or an already-audited dedup shape; the
    * funnel rollup joins six tiny (source, lang) aggregates. */
  val pipelineCurate: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"lang", $"text")

    // stage 1: quality — same predicate as textGopherRules.keep,
    // computed as a BOOLEAN COLUMN behind a cut barrier rather
    // than a WHERE over the flag expressions: filter pushdown
    // otherwise substitutes the full flag trees into the predicate —
    // ~7 normTokens + 2 wordNgrams evaluations PER ROW (HOFs skip
    // codegen, so no CSE rescues it; measured 8.4 s of the funnel's
    // 11.5 at sf0.1, vs 1.5 s for the identical flags as projection
    // outputs in text_gopher_rules). The cut flag frame is the
    // funnel's reuse point anyway (quality count + three downstream
    // stages), so the barrier costs nothing extra.
    val flagged = docs
      .select($"doc_id", $"source", $"lang", $"text", normTokens($"text").as("toks"))
      .select($"doc_id", $"source", $"lang", $"text",
        size($"toks").cast("long").as("n_tokens"),
        (aggregate($"toks", lit(0L), (a, x) => a + length(x)).cast("double") /
          size($"toks")).as("mwl"),
        hitCount($"toks", TextOps.stopwords).cast("long").as("stop_hits"),
        wordNgrams($"toks", 2).as("g2"))
      .select($"doc_id", $"source", $"lang", $"text", $"n_tokens", $"mwl", $"stop_hits",
        (lit(1.0) - size(array_distinct($"g2")).cast("double") / size($"g2")).as("dup2"))
      .select($"doc_id", $"source", $"lang", $"text",
        ($"n_tokens" >= 20 && $"n_tokens" <= 80 &&
          $"mwl" >= 4.0 && $"mwl" <= 5.0 && $"dup2" <= 0.05 && $"stop_hits" >= 1)
          .as("keep"))
      .transform(Checkpoints.cut)
    val quality = flagged.where($"keep").select($"doc_id", $"source", $"lang", $"text")

    // stage 2: decontamination — benchmark docs (doc_id%10==9) leave
    // the corpus, and any doc sharing a 4-gram with them drops
    val grams = docs
      .select($"doc_id", normTokens($"text").as("toks"))
      .where(size($"toks") >= 4)
      .select($"doc_id", explode(array_distinct(wordNgrams($"toks", 4))).as("ng"))
    val bench = grams.where($"doc_id" % 10 === 9).select($"ng").distinct()
    val contaminated = grams.where($"doc_id" % 10 =!= 9)
      .join(broadcast(bench), "ng").select($"doc_id").distinct()
    val decont = quality.where($"doc_id" % 10 =!= 9)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .transform(Checkpoints.cut)

    // stage 3: exact dedup among survivors
    val withFp = decont.withColumn("fp", md5(normText($"text")))
    val exactKeep = withFp.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    val exact = withFp.join(exactKeep, Seq("fp", "doc_id"))
      .select($"doc_id", $"source", $"lang", $"text")
      .transform(Checkpoints.cut)

    // stage 4: near dedup — the memoized FULL-corpus exact pair set
    // restricted to stage-3 survivors (lossless: the prefix filter is
    // exact, so full-pairs ∩ survivors² == pairs-over-survivors), then
    // survivor-only CC via [[DedupOps.restrictedComponents]]: the full
    // labels partition the restricted graph (full labels themselves
    // can't be reused — quality filtering may break connectivity
    // through excluded docs — but every restricted edge stays inside
    // one full cluster), so components resolve in ONE flatMapGroups
    // pass instead of a driver-synchronized star-contraction fixpoint.
    // One cold chain build serves this query, the four dedup_*
    // consumers, and the bench's build_jaccard_cc row.
    val ids = exact.select($"doc_id")
    val pairs = DedupOps.sharedPairs(s, dir)
      .join(ids.select($"doc_id".as("doc_a")), "doc_a")
      .join(ids.select($"doc_id".as("doc_b")), "doc_b")
      .select($"doc_a", $"doc_b")
    val reps = DedupOps.restrictedComponents(s, dir, pairs, ids)
    val near = exact.join(reps, "doc_id").where($"rep" === $"doc_id").drop("rep")

    // stage 5: stratified sample — same nibble rule as qStratifiedSample
    val nib = conv(substring(md5($"doc_id".cast("string")), 1, 1), 16, 10).cast("int")
    val lim = when($"lang" === "en", 8)
      .when($"lang" === "de", 4)
      .when($"lang" === "fr", 2)
      .otherwise(1)
    val sampled = near.where(nib < lim)

    def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
      df.groupBy(col("source"), col("lang")).agg(count(lit(1)).as(name))
    cnt(docs, "n_input")
      .join(cnt(quality, "n_quality"), Seq("source", "lang"), "left")
      .join(cnt(decont, "n_decont"), Seq("source", "lang"), "left")
      .join(cnt(exact, "n_exact"), Seq("source", "lang"), "left")
      .join(cnt(near, "n_near"), Seq("source", "lang"), "left")
      .join(cnt(sampled, "n_sampled"), Seq("source", "lang"), "left")
      .select($"source", $"lang", $"n_input",
        coalesce($"n_quality", lit(0L)).as("n_quality"),
        coalesce($"n_decont", lit(0L)).as("n_decont"),
        coalesce($"n_exact", lit(0L)).as("n_exact"),
        coalesce($"n_near", lit(0L)).as("n_near"),
        coalesce($"n_sampled", lit(0L)).as("n_sampled"))
      .orderBy($"source", $"lang")
  }

  /** Training-mix report: docs, token counts and corpus token share
    * per (source, lang) — the table a data-mixing step consumes to set
    * sampling weights. One partial+final agg over the corpus; the
    * grand total joins back as a 1-row broadcast. */
  /** Context-window parameters for [[textChunkPassages]]: 64-token
    * windows with a 16-token overlap (stride 48) — the shape RAG
    * passage stores and fixed-context pretraining shards use. */
  val ChunkWindow = 64
  val ChunkStride = 48

  /** Sliding token-window passage chunking: every document becomes
    * ⌈(n−W)/S⌉+1 overlapping chunks of ≤ W tokens at stride S, each
    * with its token offsets and an md5 content fingerprint — the
    * document→passage explosion that precedes embedding, ANN indexing
    * (the `embeddings` table is what its output looks like one stage
    * later), and fixed-context shard packing.
    *
    * Pure map-side: tokenize once, explode a `sequence` of chunk
    * indices, `slice` the materialized token array per chunk — no
    * shuffle at all until the output sort (which a production run
    * drops). Chunk counts scale with corpus tokens, never with
    * document count², and a 100 TB corpus chunks in one pass over
    * the scan. The fingerprint makes the output directly joinable to
    * chunk-grain dedup (md5 equality = verbatim window overlap).
    *
    * The last chunk is the short tail (no padding — token counts
    * stay honest); docs shorter than one window emit exactly one
    * chunk. */
  val textChunkPassages: QueryFn = (s, dir) => {
    import s.implicits._
    val W = ChunkWindow; val S = ChunkStride
    val toks = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("tk"))
      .withColumn("n", size($"tk"))
      .where($"n" > 0)
    toks
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          when($"n" <= W, lit(0))
            .otherwise(floor(($"n" - W + S - 1) / S).cast("int")))))
      .select(
        $"doc_id",
        $"chunk_idx".cast("long").as("chunk_idx"),
        ($"chunk_idx" * S).cast("long").as("start_tok"),
        (least($"chunk_idx" * S + W, $"n") - $"chunk_idx" * S).cast("long").as("n_tok"),
        md5(concat_ws(" ",
          slice($"tk", $"chunk_idx" * S + 1,
            least($"chunk_idx" * S + W, $"n") - $"chunk_idx" * S))).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Tokens per training shard for [[qPackShards]] — a 2048-token
    * context window. */
  val ShardTokens = 2048

  /** Greedy concatenation packing plan: documents are concatenated in
    * (source, doc_id) order and cut every [[ShardTokens]] tokens —
    * the GPT-style pretraining packing that turns a curated corpus
    * into fixed-context shards. Each document is assigned to the
    * shard its START offset falls in; the report is per-shard doc
    * and token mass (so fill ratio and boundary-straddle waste are
    * auditable before any tokenizer runs).
    *
    * Shape: ONE shuffle (partition by source) + an in-partition sort
    * for the running-cumsum window, then a partial+final agg on
    * (source, shard) — the sessionize partitioning. At 100 TB each
    * source packs independently; for petabyte single sources the
    * same plan runs per (source, date-bucket) with shard ids offset
    * by a per-bucket base — still no global sort. Integer token
    * counts and integer cut points mean both engines agree
    * bit-for-bit. */
  val qPackShards: QueryFn = (s, dir) => {
    import s.implicits._
    val bySource = Window.partitionBy($"source").orderBy($"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"source", size(normTokens($"text")).cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(bySource))
      .withColumn("shard_id",
        floor(($"cum" - $"n_tok") / lit(ShardTokens)).cast("long"))
      .groupBy($"source", $"shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        min($"doc_id").as("first_doc"))
      .orderBy($"source", $"shard_id")
  }

  val qDomainMix: QueryFn = (s, dir) => {
    import s.implicits._
    val agg = Tables.documents(s, dir)
      .select($"source", $"lang", size(normTokens($"text")).cast("long").as("n"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_tokens"))
    val total = agg.agg(sum($"n_tokens").as("tot"))
    agg.crossJoin(broadcast(total))
      .select($"source", $"lang", $"n_docs", $"n_tokens",
        rnd($"n_tokens".cast("double") / $"tot", 6).as("token_share"))
      .orderBy($"source", $"lang")
  }

  // ---------------------------------------------------------------
  // Character-distribution diversity (gibberish / repetition filter)
  // ---------------------------------------------------------------

  /** Per-document character-distribution stats — the cheap gibberish
    * and keyboard-mash filter every crawl pipeline runs before the
    * expensive passes: collision mass Σp² (the Rényi-2 / Simpson
    * concentration of the char distribution), its inverse (effective
    * alphabet size), and the single most frequent character's share.
    * A doc of one repeated char scores collision_mass → 1 /
    * eff_alphabet → 1; natural English sits near eff_alphabet ≈ 15-20.
    *
    * Σp² = Σc² / (Σc)² is chosen over Shannon entropy deliberately:
    * it is all-integer until one final division, so both engines are
    * bit-identical — log2 is libm-dependent and correctly rounded in
    * neither JVM nor C (the same reason [[qMixTemperature]] fixes
    * α = 0.5). Shape: explode chars → partial+final count on
    * (doc_id, ch) — the per-doc alphabet bounds the shuffle at
    * ~70 keys/doc regardless of doc length — then one tiny agg per
    * doc. Linear in corpus bytes, no wide rows, no windows. */
  val textCharDiversity: QueryFn = (s, dir) => {
    import s.implicits._
    val perChar = Tables.documents(s, dir)
      .select($"doc_id", explode(split(lower($"text"), "")).as("ch"))
      .where(length($"ch") > 0)
      .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
    perChar.groupBy($"doc_id")
      .agg(
        sum($"c").as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum($"c" * $"c").as("sum_sq"),
        max($"c").as("max_c"))
      .select($"doc_id", $"n_chars", $"n_distinct_chars",
        rnd($"sum_sq".cast("double") / ($"n_chars" * $"n_chars"), 6)
          .as("collision_mass"),
        rnd(($"n_chars" * $"n_chars").cast("double") / $"sum_sq", 4)
          .as("eff_alphabet"),
        rnd($"max_c".cast("double") / $"n_chars", 6).as("top_char_share"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  // BM25 retrieval
  // ---------------------------------------------------------------

  /** Query terms for [[qBm25Search]] — fixed seed set, the "search the
    * corpus" face of the retrieval stack ([[textSeedSim]] is the
    * tf-idf twin). */
  val Bm25Terms: Seq[String] = Seq("join", "scan", "filter")
  val Bm25K1 = 1.2
  val Bm25B  = 0.75

  /** BM25 top-20 documents for a fixed term set (Robertson-Spärck
    * Jones probabilistic retrieval; k1 = 1.2, b = 0.75). idf uses the
    * RSJ odds ratio (N - df + 0.5)/(df + 0.5) directly rather than
    * its log — monotone in df, and exact: every factor is a ratio of
    * half-integers, so the whole score is reproducible bit-for-bit
    * across engines (ln() is libm-territory; in production the log
    * is a one-line swap and changes only inter-term weighting).
    * Per-term scores accumulate through [[xsum]] so the 3-term sum
    * cannot depend on aggregation order.
    *
    * Shape: doc lengths are one partial+final count; tf touches only
    * seed-matching tokens (map-side filter BEFORE the shuffle — the
    * posting list for 3 terms, not the corpus); df and avgdl are
    * 1-row/3-row broadcasts; final top-20 is TakeOrderedAndProject
    * (bounded heap per partition + driver merge of 20), never a
    * global sort or single-partition window. */
  val qBm25Search: QueryFn = (s, dir) => {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("tk"))
      .where(size($"tk") > 0)
    val dl = toks.select($"doc_id", size($"tk").cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("tot_dl"))
    val hits = toks
      .select($"doc_id",
        explode(filter($"tk", t => t.isInCollection(Bm25Terms))).as("term"))
    val tf = hits.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val avgdl = $"tot_dl".cast("double") / $"n_docs"
    val denom = $"tf" + lit(Bm25K1) *
      (lit(1 - Bm25B) + lit(Bm25B) * $"dl" / avgdl)
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"doc_id", $"dl",
        (($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) *
          ($"tf" * lit(Bm25K1 + 1)) / denom).as("term_score"))
      .groupBy($"doc_id").agg(max($"dl").as("dl"),
        rnd(xsum($"term_score"), 6).as("score"))
      .orderBy($"score".desc, $"doc_id").limit(20)
      .select($"doc_id", $"dl", $"score")
  }

  /** Retrieval-quality EVAL over the BM25 face (r11) — the judgment
    * pass every search/RAG pipeline runs after indexing: score the
    * ranking against a relevance-label table with Precision@10, MRR,
    * and graded NDCG@10. Labels here are a deterministic pseudo-
    * judgment file (rel(term, doc) = mix64(fnv64(term:doc)) mod 4 —
    * the stand-in for human judgments, replayable by the oracle
    * through the suite's own hash primitives), attached to every
    * posting; the RANKING under eval is the real per-term BM25.
    *
    * Exact-arithmetic discipline (the [[qDsirImportance]] log-free
    * reasoning): the classic log₂ rank discount differs across libm
    * builds in the last ulp, so DCG is computed as an exact INTEGER
    * scaled by lcm(2..11) = 27720 — gain (2^rel − 1) × integer
    * discount 27720/(rank+1) — and NDCG is ONE division of two
    * BIGINTs (IEEE division is correctly rounded, so both engines
    * agree bit-for-bit). P@10 = count/10.0 and MRR = 1.0/first-rank
    * are single exact divisions for the same reason.
    *
    * Scale shape: postings score map-side after two broadcast joins
    * (df + corpus stats); top-10 per term through TopKPerKey bounded
    * heaps (never a global sort); the rank window runs over ≤ 10
    * rows per term. At 100 TB the judgment file joins in exactly
    * like this — labels are always tiny next to the corpus. */
  val qSearchRankeval: QueryFn = (s, dir) => {
    import s.implicits._
    // r14: cut — toks feeds the doc-length frame AND the posting
    // explode, tf feeds the df agg AND the scoring join; unpinned,
    // each consumer re-ran the tokenize subtree (plan: 41 ops / 16
    // exchanges)
    val toks = Checkpoints.cut(Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("tk"))
      .where(size($"tk") > 0))
    val dl = toks.select($"doc_id", size($"tk").cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("tot_dl"))
    val hits = toks
      .select($"doc_id",
        explode(filter($"tk", t => t.isInCollection(Bm25Terms))).as("term"))
    val tf = Checkpoints.cut(
      hits.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf")))
    val dfT = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val avgdl = $"tot_dl".cast("double") / $"n_docs"
    val denom = $"tf" + lit(Bm25K1) *
      (lit(1 - Bm25B) + lit(Bm25B) * $"dl" / avgdl)
    val rel = pmod(graft.functions.VectorExpressions.mix64(
      element_at(graft.functions.VectorExpressions.fnv_shingles(
        array(concat_ws(":", $"term", $"doc_id".cast("string"))), 1), 1)),
      lit(4L))
    val scored = tf.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"term", $"doc_id",
        rnd(($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) *
          ($"tf" * lit(Bm25K1 + 1)) / denom, 6).as("score_r"),
        rel.as("rel"))
      .transform(Checkpoints.cut) // two consumers: the ranking + the ideal
    // exact integer discounts: 27720/(rank+1), rank 1..10
    val disc = typedLit(Seq(13860L, 9240L, 6930L, 5544L, 4620L,
      3960L, 3465L, 3080L, 2772L, 2520L))
    // gains (2^rel − 1) for rel 0..3 as an exact literal table
    val gain = element_at(typedLit(Seq(0L, 1L, 3L, 7L)),
      $"rel".cast("int") + 1)
    def ranked(order: Seq[(String, Boolean)]) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"term")
        .orderBy(order.map { case (c, asc) =>
          if (asc) col(c).asc else col(c).desc }: _*)
      graft.plans.TopK.perKey(scored, Seq("term"), order, 10)
        .withColumn("rank", row_number().over(w))
    }
    val ret = ranked(Seq("score_r" -> false, "doc_id" -> true))
      .groupBy($"term")
      .agg(count(lit(1)).as("n_ret"),
        (count(when($"rel" > 0, 1)) / lit(10.0)).as("p_at_10"),
        coalesce(lit(1.0) / min(when($"rel" > 0, $"rank")), lit(0.0)).as("mrr"),
        sum(gain * element_at(disc, $"rank")).as("dcg_s"))
    val ideal = ranked(Seq("rel" -> false, "doc_id" -> true))
      .groupBy($"term")
      .agg(sum(gain * element_at(disc, $"rank")).as("idcg_s"))
    ret.join(ideal, "term").join(dfT, "term")
      .select($"term", $"df", $"n_ret", $"p_at_10", $"mrr",
        $"dcg_s", $"idcg_s",
        rnd($"dcg_s".cast("double") / $"idcg_s".cast("double"), 6).as("ndcg"))
      .orderBy($"term")
  }

  // ---------------------------------------------------------------
  // DSIR importance weighting
  // ---------------------------------------------------------------

  /** Hashed-feature bucket count for DSIR — 256 here so the synthetic
    * corpus populates every bucket; 2^16 in production (Xie et al. use
    * 10k-dim hashed n-grams). The bucket-stats table is B rows
    * REGARDLESS of corpus size — always broadcastable. */
  val DsirBuckets = 256L

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * raw-corpus document by how target-like its hashed-bigram
    * distribution is — weight(d) = mean over d's bigram instances of
    * p̂_target(bucket) / p̂_raw(bucket), with add-1-smoothed bucket
    * probabilities. The standard selection pass that upsamples
    * quality-matching data before training. Docs with doc_id%10==9
    * stand in for the target corpus (same convention as
    * [[textDecontaminate]]'s benchmark set).
    *
    * Log-free on purpose: DSIR's log-likelihood-ratio is replaced by
    * the per-bucket probability RATIO of exact integer counts —
    * monotone in the same direction, and every factor is a ratio of
    * integers so both engines agree bit-for-bit (libm log differs in
    * the last ulp; same reasoning as [[textLmScore]] /
    * [[qCollocations]]). Bigrams hash through the same fused FNV-1a
    * expression as the dedup shingles, so the DuckDB oracle replays
    * bucket assignment exactly.
    *
    * Scale shape: one corpus scan explodes bigrams map-side into
    * (doc, bucket); the 256-row bucket table (conditional partial
    * aggs, one shuffle of B keys) and the 1-row totals broadcast
    * back; the only corpus-sized shuffle is the final per-doc mean.
    * At 100 TB: identical, with B=2^16 — the stats stay KB-sized. */
  /** Marginal-novelty curve — per document (in doc_id ingest order):
    * how many of its 3-gram shingles appear here FIRST vs already
    * seen earlier in the corpus. The diminishing-returns panel of
    * data collection ("the next TB adds how much new content?") and
    * the corpus-order twin of [[DedupOps]]' pairwise measures: a
    * novelty collapse marks the point where further ingest mostly
    * re-buys what dedup will throw away.
    *
    * Shape: one shingle explode; the first-occurrence owner of every
    * gram is ONE (gram)-keyed min-agg (partial map-side — never a
    * window over the corpus timeline); novelty = semi-join share,
    * computed as exact integer counts per doc. */
  val textNgramNovelty: QueryFn = (s, dir) => {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("tk"))
      .where(size($"tk") >= 3)
      .select($"doc_id", explode(array_distinct(
        graft.functions.VectorExpressions.fnv_shingles($"tk", 3))).as("h"))
    val firstOwner = grams.groupBy($"h").agg(min($"doc_id").as("first_doc"))
    grams.join(firstOwner, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"doc_id" === $"first_doc", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_grams", $"n_novel",
        rnd($"n_novel".cast("double") / $"n_grams", 6).as("novelty"))
      .orderBy($"doc_id")
  }

  val textDsirImportance: QueryFn = (s, dir) => {
    import s.implicits._
    val b = lit(DsirBuckets)
    val grams = Tables.documents(s, dir)
      .select($"doc_id", normTokens($"text").as("tk"))
      .where(size($"tk") >= 2)
      .select($"doc_id",
        explode(graft.functions.VectorExpressions.fnv_shingles($"tk", 2)).as("h"))
      .select($"doc_id", ($"doc_id" % 10 === 9).as("is_target"),
        $"h".bitwiseAND(b - 1).as("bucket"))
    val stats = grams.groupBy($"bucket").agg(
      sum(when($"is_target", 1L).otherwise(0L)).as("tb"),
      sum(when(!$"is_target", 1L).otherwise(0L)).as("sb"))
    val totals = stats.agg(sum($"tb").as("tt"), sum($"sb").as("st"))
    // ratio_b = p̂_target(b) / p̂_raw(b) with add-1 smoothing; the
    // int→double casts are exact (counts ≪ 2^53) and the single
    // division is IEEE-deterministic, so the oracle reproduces it
    val ratios = stats.crossJoin(broadcast(totals))
      .select($"bucket",
        ((($"tb" + 1).cast("double") * ($"st" + b).cast("double")) /
         (($"sb" + 1).cast("double") * ($"tt" + b).cast("double"))).as("ratio"))
    grams.where(!$"is_target")
      .join(broadcast(ratios), "bucket")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        rnd(xsum($"ratio") / count(lit(1)), 6).as("weight"))
      .select($"doc_id", $"n_grams", $"weight",
        ($"weight" >= 1.0).as("selected"))
      .orderBy($"doc_id")
  }

  /** Deterministic train/val/test split audit — the dataset-
    * versioning op every training run starts from: docs route to
    * splits by FNV hash (90/5/5 via unsigned mod-100 bands — a pure
    * corpus function, so the split is reproducible forever and
    * leakage-free BY CONSTRUCTION: membership depends only on
    * doc_id, never on ordering or partitioning), and the audit
    * reports per-(source, split) counts, token mass, and the
    * realized fraction vs target. Stratification quality — does
    * every source land near 90/5/5? — is exactly what this panel
    * answers before anyone trains on the split.
    *
    * Map-only hash + one (source, split) partial+final agg. */
  val qDataSplit: QueryFn = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
    val hashed = Tables.documents(s, dir)
      .select($"source", size(normTokens($"text")).cast("long").as("n_toks"),
        element_at(graft.functions.VectorExpressions.fnv_shingles(
          array(concat(lit("split:"), $"doc_id".cast("string"))), 1), 1).as("h"))
      // unsigned mod-100 over the DECIMAL(20,0) bridge (2^64 % 100 ≠ 0,
      // so a signed pmod would route differently than the oracle)
      .withColumn("band",
        (when($"h" < 0, $"h".cast(DecimalType(20, 0)) + two64)
          .otherwise($"h".cast(DecimalType(20, 0))) % 100).cast("long"))
      .withColumn("split",
        when($"band" < 90, "train").when($"band" < 95, "val").otherwise("test"))
    val bySrc = hashed.groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
    val tot = hashed.groupBy($"source").agg(count(lit(1)).as("src_docs"))
    bySrc.join(broadcast(tot), "source")
      .select($"source", $"split", $"n_docs", $"n_tokens",
        rnd($"n_docs".cast("double") / $"src_docs".cast("double"), 4).as("fraction"))
      .orderBy($"source", $"split")
  }

  /** RAKE stopword delimiters (Rose et al. 2010): candidate phrases
    * are maximal token runs between stopwords/punctuation. */
  val RakeStops = "the|a|an|and|of|to|in|is|for|on|with|as|by|at|or"

  /** RAKE keyword extraction — corpus-level rapid automatic keyword
    * extraction: phrases scored by member-word degree/frequency
    * statistics, the unsupervised keyword pass next to tf-idf
    * (tf-idf ranks TOKENS per doc; RAKE ranks PHRASES corpus-wide).
    * Scoring uses the summed-ratio variant score(p) =
    * Σ_{w∈p} deg(w) / Σ_{w∈p} freq(w) over DISTINCT member words —
    * ONE division of exact integer sums, so the ranking is
    * hash-verified (the per-word-ratio original sums doubles and
    * would drift in association).
    *
    * Scale shape: phrase extraction is map-only regex work; the
    * shuffles are (word) and (phrase) partial+final aggs — key
    * cardinality is vocabulary/phrase-form bounded, never corpus
    * bounded; the top 20 ranks through TopKPerKey bounded heaps.
    * Phrases cap at 4 words (keyword-like; also bounds the
    * word-explode fan-out). */
  val textRakeKeywords: QueryFn = (s, dir) => {
    import s.implicits._
    val t = Tables.documents(s, dir).select($"doc_id",
      regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]+", "|"),
        s"\\b($RakeStops)\\b", "|").as("s"))
    val ph4 = t.select(explode(split($"s", "\\|")).as("p"))
      .select(trim(regexp_replace($"p", " +", " ")).as("phrase"))
      .where($"phrase" =!= "")
      .withColumn("plen", size(split($"phrase", " ")).cast("long"))
      .where($"plen" <= 4)
    val w = ph4.select($"phrase", $"plen", explode(split($"phrase", " ")).as("word"))
    val ws = w.groupBy($"word")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
    val psc = ph4.groupBy($"phrase").agg(count(lit(1)).as("n_occur"))
    val scored = w.select($"phrase", $"word").distinct()
      .join(ws, "word")
      .groupBy($"phrase")
      .agg(sum($"deg").as("sum_deg"), sum($"freq").as("sum_freq"))
      .join(psc, "phrase")
      .select($"phrase", $"n_occur", $"sum_deg", $"sum_freq",
        rnd($"sum_deg".cast("double") / $"sum_freq".cast("double"), 4).as("score"))
    graft.plans.TopK.perKey(
        scored.withColumn("g", lit(1)),
        Seq("g"), Seq("score" -> false, "phrase" -> true), 20)
      .select($"phrase", $"n_occur", $"sum_deg", $"sum_freq", $"score")
      .orderBy($"score".desc, $"phrase")
  }
}
