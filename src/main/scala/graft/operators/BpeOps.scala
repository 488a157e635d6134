package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols.normTokens

/** Byte-pair-encoding merge TRAINING (Sennrich et al. 2016) — the
  * tokenizer-learning pass itself, not just the pre-tokenizer piece
  * counts of `text_subword_stats`. [[Rounds]] BATCHED merge rounds
  * learned over the corpus, each: count adjacent symbol pairs → rank
  * → admit up to [[BatchT]] symbol-disjoint merges → rewrite every
  * word in ONE scan.
  *
  * Scale shape (the standard BPE trick, distributed): rounds operate
  * on the (word, count) VOCABULARY table, never the corpus — the
  * corpus is scanned ONCE into word frequencies, after which a round
  * costs one partial+final pair aggregation over the vocab plus a
  * map-side rewrite; the only driver traffic per round is the
  * bounded [[TopWindow]]-row ranked window. Batching is what makes a
  * REAL vocab reachable (r9 verdict #6): one merge per synchronous
  * round is 32k round-trips to a 32k vocab; T disjoint merges per
  * round is 32k/T — and symbol-disjointness makes a batch provably
  * equal to applying its members one at a time (fusing a pair
  * neither creates nor destroys instances of a pair whose symbols it
  * doesn't touch), so the schedule stays exact, not approximate. At
  * 100 TB the vocab is millions of rows where the corpus is
  * trillions — that asymmetry is what makes BPE trainable at all.
  *
  * Determinism (why this has a full SQL-replay oracle): pair counts
  * are exact integers, ranking tie-breaks on (count desc, left asc,
  * right asc), the batch admission is the stated non-recursive
  * disjoint-vs-all-higher-ranked rule, and the rewrite is the
  * canonical GREEDY LEFT-TO-RIGHT scan — a just-merged symbol never
  * re-matches as the left element unless it literally equals it —
  * which both the Scala UDF and the oracle's `list_reduce` fold
  * implement identically.
  */
object BpeOps {
  import graft.SparkEntry.QueryFn

  /** Driver rounds. One round = ONE driver argmax collect (the
    * bounded [[TopWindow]] rows), but up to [[BatchT]] merges — the
    * r9 verdict's batching: a 32k-merge vocab at one merge per
    * synchronous round is 32k driver round-trips; at T per round it
    * is 32k/T. Defaults train ≥ 48 merges on the gate corpora. */
  val Rounds = 12
  /** Max merges admitted per round. */
  val BatchT = 16
  /** Ranked candidate window the disjointness rule scans (bounded —
    * this is ALL the driver ever collects per round). */
  val TopWindow: Int = 4 * BatchT

  /** Greedy left-to-right merge of adjacent (a, b) into a+b — the
    * exact fold the oracle replays with list_reduce. */
  private val mergePair: UserDefinedFunction =
    udf { (syms: Seq[String], a: String, b: String) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { x =>
        if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
        else out += x
      }
      out.toSeq
    }

  /** One greedy left-to-right scan applying a whole SYMBOL-DISJOINT
    * merge batch. Disjointness (on {lhs, rhs, merged}) makes the
    * simultaneous scan provably equal to applying the batch members
    * sequentially in any order: fusing one pair can neither create
    * nor destroy an instance of another whose symbols it doesn't
    * touch (BpeSpec pins this against the sequential fold). */
  private def mergeBatch(pairs: Seq[(String, String)]): UserDefinedFunction = {
    val pm: Map[(String, String), String] =
      pairs.map { case (a, b) => (a, b) -> (a + b) }.toMap
    udf { (syms: Seq[String]) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { x =>
        val m = if (out.nonEmpty) pm.get((out.last, x)) else None
        m match {
          case Some(merged) => out(out.length - 1) = merged
          case None         => out += x
        }
      }
      out.toSeq
    }
  }

  /** All training rounds applied in ONE UDF invocation per word —
    * the per-round fold of [[mergeBatch]], replayed batch after
    * batch over a mutable buffer (bit-identical output; the only
    * change is that the symbols cross the UDF boundary once instead
    * of once per round). */
  private def mergeAllBatches(
      batches: Seq[Seq[(String, String)]]): UserDefinedFunction = {
    val pms: Array[Map[(String, String), String]] =
      batches.map(_.map { case (a, b) => (a, b) -> (a + b) }.toMap).toArray
    udf { (syms: Seq[String]) =>
      var cur: Seq[String] = syms
      var r = 0
      while (r < pms.length) {
        val pm = pms(r)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        cur.foreach { x =>
          val m = if (out.nonEmpty) pm.get((out.last, x)) else None
          m match {
            case Some(merged) => out(out.length - 1) = merged
            case None         => out += x
          }
        }
        cur = out.toSeq
        r += 1
      }
      cur
    }
  }

  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      // sequence(1, 0) counts DOWN in Spark — single-symbol words
      // must not reach it (they carry no pairs anyway)
      .where(size(col("syms")) >= 2)
      .select(col("cnt"), explode(
        transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("pc"))

  /** Argmax pair of a (syms, cnt) vocab — ONE row to the driver via
    * TakeOrderedAndProject, ties to the lexicographically first pair.
    * The pre-batching trainer's selection step, kept as the
    * SEQUENTIAL REFERENCE schedule BpeSpec proves the batched
    * trainer equal to on conflict-free corpora. */
  private[operators] def bestPair(vocab: DataFrame): org.apache.spark.sql.Row =
    pairCounts(vocab)
      .orderBy(col("pc").desc, col("a").asc, col("b").asc)
      .limit(1).head

  /** The round's merge BATCH: the [[TopWindow]] highest-count pairs
    * (count desc, lhs, rhs — a total order, so the window is
    * deterministic), admitted in rank order iff the pair's
    * {lhs, rhs, lhs+rhs} symbols are disjoint from those of EVERY
    * higher-ranked window pair (admitted or not — the non-recursive
    * rule both engines state identically; blocking on blocked pairs
    * is conservative, never wrong), capped at [[BatchT]]. Rank 1
    * always enters, so every round makes progress. Tie resolution IS
    * the ranking: equal counts order by (lhs, rhs) and the earlier
    * pair blocks the later one. */
  private[operators] def bestBatch(vocab: DataFrame)
      : Seq[(String, String, Long)] = {
    val window = pairCounts(vocab)
      .orderBy(col("pc").desc, col("a").asc, col("b").asc)
      .limit(TopWindow)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    window.zipWithIndex.foreach { case ((a, b, pc), i) =>
      val mine = Set(a, b, a + b)
      val blocked = window.take(i).exists { case (pa, pb, _) =>
        val theirs = Set(pa, pb, pa + pb)
        mine.exists(theirs.contains)
      }
      if (!blocked && out.size < BatchT) out += ((a, b, pc))
    }
    out.toSeq
  }

  /** Map-side greedy rewrite of the vocab under one disjoint batch. */
  private[operators] def applyBatch(
      vocab: DataFrame, pairs: Seq[(String, String)]): DataFrame =
    vocab.select(mergeBatch(pairs)(col("syms")).as("syms"), col("cnt"))

  /** Map-side greedy rewrite of the vocab under one merge (the
    * sequential reference schedule's apply step — see [[bestPair]]). */
  private[operators] def applyMerge(vocab: DataFrame, a: String, b: String): DataFrame =
    vocab.select(mergePair(col("syms"), lit(a), lit(b)).as("syms"), col("cnt"))

  /** (syms, cnt) vocabulary of any (doc_id, text) frame — the ONE
    * corpus-scale scan; everything after operates on this table. */
  private[operators] def charVocab(docs: DataFrame): DataFrame =
    docs
      .select(explode(normTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(split(col("w"), "").as("syms"), col("cnt"))

  /** The learned merge table over any corpus frame: [[Rounds]]
    * batched rounds, global rank = batch order (counts are the
    * start-of-round counts — exactly what the oracle's per-round
    * replay reproduces). */
  private[operators] def trainMerges(docs: DataFrame)
      : Seq[(Long, String, String, String, Long)] =
    trainMergeBatches(docs).flatten

  /** Cold-build entry for the bench's `build_bpe_merges` row: pays
    * the 12 training rounds once so the train/encode/fertility query
    * rows report warm-serve semantics (the build_* discipline —
    * session handles must never amortize invisibly into their first
    * consumer). */
  def buildMerges(s: SparkSession, dir: String): Unit = {
    trainedBatches(s, dir); ()
  }

  /** The trained batches per corpus fingerprint, an [[IndexStore]]
    * handle whose load collects the merge table: train, encode, and
    * fertility all serve the SAME merge table — without this the
    * bench paid 12 driver rounds three times over (training is the
    * expensive half of every BPE row; the table itself is a few
    * hundred driver-side tuples). */
  private def trainedBatches(s: SparkSession, dir: String)
      : Seq[Seq[(Long, String, String, String, Long)]] = {
    val key = dir + graft.mr.Fs.fingerprint(dir + "/documents.parquet") +
      s":rounds$Rounds"
    IndexStore.open(s, "bpe_merges", key) { out =>
      import s.implicits._
      trainMergeBatches(Tables.documents(s, dir)).zipWithIndex
        .flatMap { case (batch, round) =>
          batch.map(t => (round, t._1, t._2, t._3, t._4, t._5))
        }
        .toDF("round", "rank", "lhs", "rhs", "merged", "pair_count")
        .write.parquet(out + "/data")
    } { a =>
      s.read.parquet(a + "/data").collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4), r.getLong(5))))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(_._2).sortBy(_._1).toSeq)
    }
  }

  /** Same, grouped by round — the encode pass applies each round's
    * disjoint batch in one scan. */
  private[operators] def trainMergeBatches(docs: DataFrame)
      : Seq[Seq[(Long, String, String, String, Long)]] = {
    var vocab = charVocab(docs).transform(Checkpoints.cut)
    var rank = 0L
    val out = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, String, String, String, Long)]]
    (1 to Rounds).foreach { _ =>
      val batch = bestBatch(vocab)
      if (batch.nonEmpty) {
        out += batch.map { case (a, b, pc) =>
          rank += 1
          (rank, a, b, a + b, pc)
        }
        vocab = applyBatch(vocab, batch.map(p => (p._1, p._2)))
          .transform(Checkpoints.cut)
      }
    }
    out.toSeq
  }

  /** The learned merge table: (rank, lhs, rhs, merged, pair_count)
    * after `Rounds` rounds. */
  val textBpeTrain: QueryFn = (s, dir) => {
    import s.implicits._
    trainedBatches(s, dir).flatten
      .toDF("rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy($"rank")
  }

  /** BPE merge APPLICATION — the tokenizer's ENCODE pass, the other
    * half of the BPE lifecycle (train once ↑, encode every corpus
    * forever after). Each document's words are split to characters
    * and the learned merges are replayed in rank order with the same
    * greedy left-to-right fold as training; the output is the per-doc
    * token accounting a pipeline bills by (chars in → BPE symbols
    * out → how many merges fired → compression).
    *
    * Scale shape: training cost is the vocab-table loop above; the
    * ENCODE is pure map — `Rounds` chained per-row projections over
    * the corpus scan with zero shuffles before the final per-doc agg.
    * At 100 TB this is the shape that matters: a real 30k-merge
    * tokenizer compiles the merge table into one per-row automaton
    * (same fold, one pass), and the merge TABLE broadcasts — the
    * corpus never re-shuffles. Determinism is inherited from
    * training: exact-integer argmaxes pick the merges, and the fold
    * is replayed symbol-for-symbol by the oracle's list_reduce. */
  val textBpeEncode: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val rounds = trainedBatches(s, dir)
    val base = docs
      .select($"doc_id", explode(normTokens($"text")).as("w"))
      .select($"doc_id", split($"w", "").as("syms"))
      .select($"doc_id", size($"syms").cast("long").as("n_chars"), $"syms")
    // one per-word pass applying ALL rounds (r13, guide §1.2): the
    // former per-round chain of [[mergeBatch]] projections paid 12
    // ArrayData ↔ Seq conversions per word at the UDF boundary; the
    // fused fold replays the identical per-round greedy scans over
    // the in-memory symbol buffer. Within a round the batch is
    // symbol-disjoint, so the simultaneous scan equals the
    // sequential folds; across rounds the order is the training
    // order, preserved by the rank-contiguous batches the trainer
    // emitted (later rounds may consume earlier rounds' outputs).
    val encoded = base.select($"doc_id", $"n_chars",
      mergeAllBatches(rounds.map(_.map(m => (m._2, m._3))))($"syms").as("syms"))
    encoded
      .select($"doc_id", $"n_chars", size($"syms").cast("long").as("n_syms"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum($"n_chars").as("n_chars"),
        sum($"n_syms").as("n_tokens"))
      .select($"doc_id", $"n_words", $"n_chars", $"n_tokens",
        ($"n_chars" - $"n_tokens").as("n_merges"),
        graft.functions.Cols.rnd(
          $"n_tokens".cast("double") / $"n_chars", 6).as("compression"))
      .orderBy($"doc_id")
  }

  /** Tokenizer FERTILITY report — the per-language cost sheet a
    * training pipeline bills by (tokens per word, chars per token):
    * a tokenizer trained on one language mix systematically inflates
    * token counts on underrepresented languages (fertility is THE
    * standard cross-lingual tokenizer-equity metric), and token
    * budgets, packing, and compute cost all scale with it. Same
    * train+encode machinery as [[textBpeEncode]]; the fold to
    * per-language is one small join (per-doc accounting × doc lang)
    * plus an exact-integer aggregate — ratios divide ONCE at the end,
    * so the report hash-verifies.
    *
    * Scale shape: encode is map-only over the corpus scan (merges
    * broadcast); the report agg is |langs| rows. Docs with zero
    * normalized words carry no token accounting and are excluded —
    * consistently on both engines. */
  val qTokenizerFertility: QueryFn = (s, dir) => {
    import s.implicits._
    textBpeEncode(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("w"),
        sum($"n_tokens").as("t"),
        sum($"n_chars").as("c"))
      .select($"lang", $"n_docs", $"w".as("n_words"), $"t".as("n_tokens"),
        graft.functions.Cols.rnd(
          $"t".cast("double") / $"w".cast("double"), 6).as("fertility"),
        graft.functions.Cols.rnd(
          $"c".cast("double") / $"t".cast("double"), 6).as("chars_per_token"))
      .orderBy($"lang")
  }
}
