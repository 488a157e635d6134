package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.functions.Hashes

class DedupAnnSpec extends SparkTestBase {

  /** Write a synthetic documents/embeddings table pair under a temp
    * sfDir so the QueryFns can be driven against known ground truth. */
  private lazy val synthDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-synth").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val nearDup = base.replace("kappa", "lambda") // one token in 50 differs
    val other = "one two three four five six seven eight nine ten " * 5
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, nearDup, "en", "src0", nearDup.length.toLong),
      (2L, other, "en", "src1", other.length.toLong),
      (3L, base, "en", "src2", base.length.toLong)) // exact dup of 0
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val rng = new scala.util.Random(123)
    def vec(): Array[Float] = Array.fill(64)(rng.nextFloat() * 2 - 1)
    val v0 = vec()
    val v0near = v0.clone(); v0near(0) += 0.01f // cosine ~ 1
    val vecs = Seq(
      (0L, v0, 0), (1L, v0near, 0), (2L, vec(), 1), (3L, vec(), 2),
      (4L, vec(), 3), (5L, vec(), 4))
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  // ---- brute-force ground truths (independent implementations) ----

  private def tokenize(t: String): Seq[String] =
    t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  private def trueJaccardPairs(dir: String, tau: Double): Set[(Long, Long)] = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val sets = docs.map { case (id, t) =>
      id -> tokenize(t).sliding(3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      if j >= tau
    } yield (a, b)).toSet
  }

  test("dedup_minhash_lsh: sound (every pair truly >= tau) and finds near-dups") {
    val got = DedupOps.dedupMinhashLsh(spark, synthDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = trueJaccardPairs(synthDir, 0.5)
    assert(got.subsetOf(truth), s"unsound pairs: ${got.diff(truth)}")
    // near-dup (0,1), exact dups (0,3) and (1,3)-via-(0,3): jaccard ~1 → must be found
    assert(got.contains((0L, 1L)))
    assert(got.contains((0L, 3L)))
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc paired")
  }

  test("dedup_ngram_jaccard: EQUALS brute-force all-pairs at tau=0.5 (lossless prefix filter)") {
    for (dir <- Seq(synthDir, sfDir)) {
      val got = DedupOps.dedupNgramJaccard(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = trueJaccardPairs(dir, 0.5)
      assert(got == truth,
        s"missing: ${truth.diff(got).take(5)}; extra: ${got.diff(truth).take(5)}")
    }
  }

  test("dedup_simhash: exact dups at hamming 0, near-dups within 6, strangers apart") {
    val rows = DedupOps.dedupSimhash(spark, synthDir).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((0L, 3L)) == 0L, "exact dup must have hamming 0")
    assert(got.contains((0L, 1L)), "one-token-changed doc within hamming 6")
    assert(!got.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("dedup_embedding: near-identical pair ranks first with cos ~ 1") {
    val rows = DedupOps.dedupEmbedding(spark, synthDir).collect()
    assert(rows.nonEmpty)
    val top = rows.head
    assert((top.getLong(0), top.getLong(1)) == ((0L, 1L)), s"top pair: $top")
    assert(top.getDouble(2) > 0.99, s"near-identical cos: ${top.getDouble(2)}")
    val sims = rows.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "cos descending")
  }

  test("dedup_embedding: sf0.001 pairs carry exact brute-force cosines, full top-N") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = DedupOps.dedupEmbedding(spark, sfDir).collect()
    assert(rows.length == DedupOps.EmbTopN, s"expected full top-N, got ${rows.length}")
    rows.foreach { r =>
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(a < b, "pairs canonical (a < b)")
      val truth = math.floor(cos(emb(a), emb(b)) * 1e4 + 0.5) / 1e4
      assert(math.abs(c - truth) <= 1e-9, s"pair ($a,$b): emitted $c vs brute $truth")
    }
    val sims = rows.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (x, y) => x >= y }, "cos descending")
  }

  test("dedup_pipeline: exact → near → clusters keep-list with lineage counts") {
    // synth corpus: 0=base, 1=near-dup of 0, 2=unrelated, 3=exact dup of 0.
    // exact stage keeps {0,1,2} (3 folds into 0); near stage clusters
    // {0,1}; final keep-list {0,2} with 0 absorbing 1 exact + 1 near.
    val got = DedupOps.dedupPipeline(spark, synthDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1L, 1L), (2L, 0L, 0L)), s"got ${got.toSeq}")
  }

  test("dedup_pipeline: doc mass is conserved at sf0.001") {
    val rows = DedupOps.dedupPipeline(spark, sfDir).collect()
    val accounted = rows.map(r => 1L + r.getLong(1) + r.getLong(2)).sum
    val total = Tables.documents(spark, sfDir).count()
    assert(accounted == total,
      s"keep-list + absorbed dups must cover every doc: $accounted vs $total")
  }

  test("connectedComponents: 40-hop chain converges (r2's propagation capped at 10 rounds)") {
    import spark.implicits._
    // a near-dup chain with diameter 40 — the template-heavy-crawl
    // shape that silently broke min-label propagation under its cap;
    // star contraction needs only O(log 40) rounds and ASSERTS the
    // fixpoint, so a regression here throws instead of mislabeling
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val universe = (0L until 46L).toDF("doc_id")
    val got = DedupOps.connectedComponents(pairs, universe).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 40L).foreach(i => assert(got(i) == 0L, s"chain node $i got rep ${got(i)}"))
    (41L until 46L).foreach(i => assert(got(i) == i, s"isolated node $i"))
  }

  test("connectedComponents: mixed edge orientation, multiple components") {
    import spark.implicits._
    val pairs = Seq((7L, 3L), (3L, 9L), (9L, 1L), (20L, 25L), (25L, 21L))
      .toDF("doc_a", "doc_b")
    val universe = Seq(1L, 3L, 7L, 9L, 20L, 21L, 25L, 30L).toDF("doc_id")
    val got = DedupOps.connectedComponents(pairs, universe).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 3L, 7L, 9L).forall(got(_) == 1L), s"component A: $got")
    assert(Seq(20L, 21L, 25L).forall(got(_) == 20L), s"component B: $got")
    assert(got(30L) == 30L, "isolated doc is its own rep")
  }

  test("dedup_incremental: index reuse returns identical results") {
    // second run reads the persisted corpus index instead of
    // rebuilding — results must be bit-identical
    val first = DedupOps.dedupIncremental(spark, sfDir).collect().toSeq
    val second = DedupOps.dedupIncremental(spark, sfDir).collect().toSeq
    assert(first == second)
    val idx = IndexStore.committed(DedupOps.IncrementalIndex.Name,
      DedupOps.IncrementalIndex.key(sfDir, 0.5))
    assert(idx.exists(d => new java.io.File(d, "_READY").exists()),
      s"index not persisted: $idx")
  }

  test("dedup_incremental: index path tracks corpus file changes (stale-index guard)") {
    // the test corpus is regenerated in place between rounds — an
    // index keyed by path alone would serve stale state for new data
    val dir = Files.createTempDirectory("graft-idxkey").toString
    val src = new java.io.File(s"$sfDir/documents.parquet")
    val dst = new java.io.File(s"$dir/documents.parquet")
    // the test corpus is a single parquet file; a Spark-written corpus
    // is a directory of part files — key() handles both
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        Files.copy(f.toPath, new java.io.File(dst, f.getName).toPath)
      }
    } else Files.copy(src.toPath, dst.toPath)
    val touchable = if (dst.isDirectory) dst.listFiles().toSeq else Seq(dst)
    val before = DedupOps.IncrementalIndex.key(dir, 0.5)
    touchable.foreach(f => f.setLastModified(f.lastModified() + 60000))
    val after = DedupOps.IncrementalIndex.key(dir, 0.5)
    assert(before != after, "index key must change when corpus files change")
  }

  test("dedup_clusters: transitive closure groups {0,1,3}, leaves 2 alone") {
    val got = DedupOps.dedupClusters(spark, synthDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == 0L && got(1L) == 0L && got(3L) == 0L,
      s"near-dup trio must share representative 0: $got")
    assert(got(2L) == 2L, "unrelated doc is its own cluster")
  }

  test("ann_bruteforce_topk: matches driver-side exact ranking on sf0.001") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (0L until 10L).flatMap { pid =>
      emb.toSeq.filter(_._1 != pid)
        .map { case (nid, e) => (nid, cos(emb(pid), e)) }
        .sortBy { case (nid, s) => (-math.floor(s * 1e6 + 0.5) / 1e6, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, _), i) => (pid, (i + 1).toLong, nid) }
    }.toSet
    val got = AnnOps.annBruteforceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("ann_sq8_topk: 8-bit quantization barely dents recall") {
    import spark.implicits._
    val exact = AnnOps.annBruteforceTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val got = AnnOps.annSq8Topk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(s"ann_sq8_topk recall@5 = $recall")
    // scalar quantization is near-lossless on unit-scale dims; a big
    // drop here means the encode/decode affine is wrong
    assert(recall >= 0.9, s"sq8 recall too low: $recall")
  }

  test("ann_pq_topk: 4-byte PQ codes keep useful recall") {
    import spark.implicits._
    val exact = AnnOps.annBruteforceTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val got = AnnOps.annPqTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(s"ann_pq_topk recall@5 = $recall")
    // 16 subspaces × 16 codes on near-random vectors is the hardest
    // case for PQ, but the ADC-shortlist + exact re-rank stage only
    // needs the true neighbor inside the top-50 ADC candidates.
    // Bar = measured (0.92 in r3) − 0.1, so a regression can't hide
    // under a slack threshold (r3 verdict item #8).
    assert(recall >= 0.82, s"pq recall too low: $recall")
  }

  test("ann_ivfpq_topk: composed index (cell routing × PQ codes × re-rank) keeps recall") {
    import spark.implicits._
    val exact = AnnOps.annBruteforceTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val got = AnnOps.annIvfPqTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(s"ann_ivfpq_topk recall@5 = $recall")
    // strictly harder than flat PQ (the probed cells bound what the
    // shortlist can see). Bar = measured (0.78 in r3) − 0.1.
    assert(recall >= 0.68, s"ivf-pq recall too low: $recall")
  }

  test("ann_ivfpq_residual_topk: residual coding keeps recall at the composed-index bar") {
    import spark.implicits._
    val exact = AnnOps.annBruteforceTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val got = AnnOps.annIvfPqResidualTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(s"ann_ivfpq_residual_topk recall@5 = $recall")
    // same bar as the raw-vector composed index: residual coding is
    // a precision upgrade on clustered data and must never cost
    // recall on the near-random spec embeddings
    assert(recall >= 0.68, s"residual ivf-pq recall too low: $recall")
  }

  test("dedup_minhash_calibration: estimator tracks exact jaccard within binomial error") {
    val rows = DedupOps.dedupMinhashCalibration(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty, "no LSH candidates to calibrate on")
    // 64 perms: sd(est) = sqrt(J(1-J)/64) <= 1/16; 4 sd = 0.25
    rows.foreach { case (a, b, est, exact, err) =>
      assert(est >= 0.0 && est <= 1.0 && exact >= 0.0 && exact <= 1.0)
      // err is rounded from the RAW estimate/jaccard, est/exact are
      // themselves rounded — compositions may differ by one ulp of
      // the 1e-4 grid
      assert(math.abs(err - math.abs(est - exact)) <= 2e-4)
      assert(err <= 0.25, s"pair ($a,$b): estimator off by $err")
    }
    val meanErr = rows.map(_._5).sum / rows.length
    assert(meanErr < 0.05, s"estimator biased: mean abs err $meanErr")
  }

  test("ann_incremental_topk: frozen-quantizer routing keeps IVF-level recall, index persists") {
    import spark.implicits._
    val exact = AnnOps.annBruteforceTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val got = AnnOps.annIncrementalTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    info(s"ann_incremental_topk recall@5 = $recall")
    // same bar as ann_ivf_topk: centroids trained on 90% of the
    // corpus barely move vs full-corpus training
    assert(recall >= 0.74, s"incremental recall too low: $recall")
    // the persisted index must exist and a warm re-run must serve
    // the identical result from it (no rebuild, no drift)
    val idx = IndexStore.committed(AnnOps.IvfIndex.Name, AnnOps.IvfIndex.key(sfDir))
    assert(idx.exists(d => new java.io.File(d, "_READY").exists()),
      s"index not persisted: $idx")
    val again = AnnOps.annIncrementalTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    assert(again == got, "warm-index serve diverged from cold build")
  }

  test("emb_dim_stats: one row per dimension, variance bounds, count conservation") {
    import spark.implicits._
    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    val rows = AnnOps.embDimStats(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 64 && rows.map(_._1).toSeq == (0L until 64L))
    rows.foreach { case (pos, n, mean, variance, mn, mx) =>
      assert(n == nVecs, s"dim $pos: count $n != corpus $nVecs")
      assert(variance >= 0.0, s"dim $pos: negative variance $variance")
      assert(mn <= mean + 1e-6 && mean <= mx + 1e-6, s"dim $pos: mean outside range")
      // (max-min)^2/4 bounds the variance of any distribution on [min,max]
      assert(variance <= (mx - mn) * (mx - mn) / 4 + 1e-9, s"dim $pos: variance impossible")
    }
    // the QA must see live dimensions: none dead on the test vectors
    assert(rows.forall(_._4 > 0.0), "a dead dimension on random embeddings is a bug")
  }

  test("ivf nprobe dial: recall monotone non-decreasing, full probe == brute force") {
    import spark.implicits._
    val exact = AnnOps.annBruteforceTopk(spark, sfDir)
      .select($"pid", $"nid").as[(Long, Long)].collect().toSet
    val recalls = Seq(1, 3, 6, 10).map { np =>
      val got = AnnOps.ivfTopkWithProbes(spark, sfDir, np)
        .select($"pid", $"nid").as[(Long, Long)].collect().toSet
      val r = got.intersect(exact).size.toDouble / exact.size
      info(s"nprobe=$np recall@5 = $r")
      (np, r, got)
    }
    recalls.sliding(2).foreach { case Seq((n1, r1, _), (n2, r2, _)) =>
      assert(r2 >= r1, s"recall regressed widening nprobe $n1→$n2: $r1 → $r2")
    }
    // probing every cell scans the whole corpus: exactly brute force
    assert(recalls.last._3 == exact, "full-probe IVF must equal the exact ranking")
    // near-random vectors scatter true neighbours across cells:
    // 1-probe sees ~1/10 of the corpus, so anything clearly above
    // zero proves same-cell routing works (measured 0.16)
    assert(recalls.head._2 >= 0.1, "even 1-probe should find same-cell neighbours")
  }

  test("ann_lsh_topk and ann_ivf_topk: valid rankings with useful recall") {
    val exact = AnnOps.annBruteforceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    for ((name, fn) <- Seq("lsh" -> AnnOps.annLshTopk, "ivf" -> AnnOps.annIvfTopk)) {
      val rows = fn(spark, sfDir).collect()
      val byProbe = rows.groupBy(_.getLong(0))
      assert(byProbe.keySet == (0L until 10L).toSet, s"$name: every probe answered")
      byProbe.values.foreach { rs =>
        assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq,
          s"$name: ranks contiguous from 1")
        val sims = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
        assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"$name: sims descending")
      }
      val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = got.intersect(exact).size.toDouble / exact.size
      info(s"$name recall@5 = $recall")
      // a real bar: tuned band/probe budgets (12×4-bit bands; 6 probe
      // cells) measured 0.84 on the near-random test embeddings in
      // r3 — bar = measured − 0.1 so regressions can't hide
      assert(recall >= 0.74, s"$name recall too low: $recall")
    }
  }

  test("text_winnow: deterministic, dense, and dup-detecting") {
    import spark.implicits._
    val a = TextOps.textWinnow(spark, synthDir).collect()
    val b = TextOps.textWinnow(spark, synthDir).collect()
    assert(a.toSeq == b.toSeq, "winnow must be deterministic")
    val byId = a.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId(0L) == byId(3L), "exact dups share fingerprint stats")
    assert(byId.values.forall(_._1 > 0), "every non-trivial doc fingerprinted")
  }

  test("emb_pq_distortion: bands partition the corpus and respect their bounds") {
    val rows = AnnOps.embPqDistortion(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows.nonEmpty)
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.values.map(_._1).sum == n, "every vector lands in a band")
    val bounds = Map(
      "a_ge_090" -> (0.9, 1.0), "b_080_090" -> (0.8, 0.9),
      "c_070_080" -> (0.7, 0.8), "d_lt_070" -> (-1.0, 0.7))
    rows.foreach { case (b, (_, mean, mn)) =>
      val (lo, hi) = bounds(b)
      assert(mn >= lo - 1e-9 && mean >= lo - 1e-9 && mean <= hi + 1e-9,
        s"$b stats out of band: mean $mean min $mn")
    }
    // 4-bit-per-subspace codes keep most mass above 0.7 cosine
    val low = rows.get("d_lt_070").map(_._1).getOrElse(0L)
    assert(low < n / 10, s"codebook lost the corpus: $low/$n below 0.7")
  }

  test("dedup_keep_best: survivor is the cluster argmax; policy genuinely differs from min-id") {
    val best = DedupOps.dedupKeepBest(spark, sfDir).collect()
    assert(best.nonEmpty)
    // survivor must belong to its cluster and carry its max quality
    val clusters = DedupOps.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val members = clusters.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    best.foreach { r =>
      val (rep, kept) = (r.getLong(0), r.getLong(2))
      assert(members(rep)(kept), s"kept $kept not in cluster $rep")
      assert(r.getLong(1) == members(rep).size.toLong, s"cluster $rep size")
      assert(r.getBoolean(4) == (kept != rep), s"kept_differs flag for $rep")
    }
    // the quality policy must disagree with naive min-id somewhere,
    // else the operator adds nothing over dedup_clusters
    assert(best.exists(_.getBoolean(4)), "policy never differs from min-id")
  }

  test("ann_recall_panel: curve consistent with the single-point recall measurements") {
    val rows = AnnOps.annRecallPanel(spark, sfDir).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == (1L to AnnOps.RecallPanelK))
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getLong(1) <= r.getLong(0) * 10, "hits bounded by k x probes")
    }
    // hits are monotone in k (a pair in both top-k sets stays in top-k')
    val hits = rows.map(_.getLong(1))
    assert(hits.zip(hits.tail).forall { case (a, b) => b >= a }, "hits monotone")
    // the k=5 point must agree with the independent recall
    // measurement DedupAnnSpec makes from the two rankings
    val exact = AnnOps.annBruteforceTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = AnnOps.annIvfTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val point = ivf.intersect(exact).size
    assert(rows(4).getLong(1) == point.toLong,
      s"recall@5 hits ${rows(4).getLong(1)} vs measured $point")
  }

  test("ann_filtered_topk: label-pure results; post-filtering the global top-k is broken") {
    import spark.implicits._
    val lbl = AnnOps.FilterLabel
    val rows = AnnOps.annFilteredTopk(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(labels(r.getLong(2)) == lbl, s"impure result ${r.getLong(2)}"))
    // every probe gets a full k (the filtered corpus is large enough)
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet == (0L until 10L).toSet)
    byProbe.values.foreach(rs => assert(rs.length == AnnOps.K))
    // the naive alternative — post-filter the UNfiltered top-k —
    // underfills: selectivity ~1/10 leaves <k matches in a 5-list
    val global = AnnOps.annBruteforceTopk(spark, sfDir).collect()
    val postFiltered = global.filter(r => labels(r.getLong(2)) == lbl)
      .groupBy(_.getLong(0)).view.mapValues(_.length)
    val underfilled = (0L until 10L).count(p => postFiltered.getOrElse(p, 0) < AnnOps.K)
    assert(underfilled >= 8, s"post-filter should underfill most probes, got $underfilled/10")
  }

  test("ann_radius_search: subset of the brute-force radius with useful recall") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tau = AnnOps.RadiusTau
    // brute-force ground truth: every pair with cosine >= tau
    val e = graft.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val exact = e.where($"vec_id" < 10)
      .select($"vec_id".as("pid"), $"embedding".as("pe"))
      .crossJoin(e.select($"vec_id".as("nid"), $"embedding"))
      .where($"nid" =!= $"pid")
      .select($"pid", $"nid",
        graft.functions.VectorExpressions.cosine_sim($"pe", $"embedding").as("sim"))
      .where($"sim" >= tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = AnnOps.annRadiusSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "radius report must be non-vacuous")
    assert(got.subsetOf(exact), "LSH radius must never report a pair below tau")
    val recall = got.size.toDouble / exact.size
    info(s"ann_radius_search recall = $recall (${got.size}/${exact.size})")
    // same index as ann_lsh_topk (bar = measured 0.89 − slack)
    assert(recall >= 0.7, s"radius recall too low: $recall")
  }

  test("queries are deterministic across runs (rows-only gate safety)") {
    for (name <- Seq("dedup_minhash_lsh", "dedup_simhash", "dedup_embedding",
                     "ann_lsh_topk", "ann_ivf_topk")) {
      val fn = graft.SparkEntry.queries(name)
      val r1 = fn(spark, sfDir).collect().toSeq
      val r2 = fn(spark, sfDir).collect().toSeq
      assert(r1 == r2, s"$name not deterministic")
    }
  }
}
