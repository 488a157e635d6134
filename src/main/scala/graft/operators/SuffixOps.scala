package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._

/** EXACT duplicated-substring accounting via a distributed suffix
  * array — the true form of Lee et al. 2021's EXACTSUBSTR pass that
  * [[CurationOps.dedupSpanCoverage]] approximates with fixed-width
  * hashed windows.
  *
  * The windowed pass has two approximations the exact pass removes:
  *   1. windows are FNV-hashed — a 64-bit collision would mark a
  *      never-repeated window as duplicated (no collision exists in
  *      the sf corpora, but the guarantee is probabilistic);
  *   2. span extents are window-width quantized, so a merged run of
  *      windows can NOT distinguish one 16-token verbatim duplicate
  *      from two unrelated 8-token matches that happen to abut — the
  *      chimera span reads as one long "duplicated substring" that
  *      never actually repeats anywhere (see SuffixSpec).
  *
  * Algorithm (all-Spark, O(log maxDocLen) rounds, never pairwise):
  *   - token ranks: one global rank over the distinct vocabulary
  *     ([[Ranked]] — any dense total order works; LCPs only use rank
  *     EQUALITY, so Spark's and the oracle's orders may differ);
  *   - prefix doubling (Manber–Myers): rank of the 2w-token prefix =
  *     dense rank of (rank_w(p), rank_w(p+w)) pairs; `lead(w)` over
  *     the doc-partitioned position order supplies the shifted rank,
  *     a distinct + global rank + equi-join back produces the new
  *     table — 3 bounded shuffles per round, log₂(maxDocLen) rounds
  *     (suffixes never cross documents, so maxDocLen bounds depth),
  *     with the Manber–Myers fixpoint exit when a round splits no
  *     class (same-rank then implies the successor positions are
  *     same-rank, and by induction the whole remaining suffixes are
  *     equal — no later round can split either);
  *   - neighbor LCPs in TWO rounds, not a per-width descent: the
  *     final rank table's equality means FULL suffix equality
  *     (clipped sequences carry the sentinel, so equal rank ⟹ same
  *     content and length — true at both stop conditions), so a top
  *     match closes an adjacent pair at lcp = min(remaining lengths)
  *     outright — the O(1) path for the repetitive mass a dedup
  *     corpus is full of; every non-matching pair has
  *     lcp < min(len), resolved by ONE direct token-slice compare
  *     (zip_with first-mismatch) whose work is Σ min-suffix-length
  *     over only the non-identical adjacent pairs — the LCP output
  *     mass itself, not corpus², and the identical-suffix heavy
  *     tail never touches it;
  *   - the max-LCP-with-any-other-suffix of position p is attained
  *     at an adjacent suffix in ANY lexicographic order, so
  *     m(p) = max(lcp(prev), lcp(next)) is exact; every interval
  *     [p, p+m(p)) with m(p) ≥ [[CurationOps.SpanW]] is a genuinely
  *     repeated substring, and their per-doc union (gaps-and-islands
  *     over a doc-partitioned window) gives maximal covered spans
  *     plus the TRUE max duplicated-substring length per doc.
  *
  * At 100 TB: every stage is a bounded equi-shuffle or a
  * doc/pid-partitioned window; rounds grow with log(maxDocLen) (a
  * 100k-token doc = 17 doubling rounds) — this is the Flick–Aluru
  * distributed-suffix-array shape, not a single-node suffix
  * automaton. The oracle replays the semantics independently in
  * DuckDB by sorting materialized suffix lists.
  */
object SuffixOps {
  import graft.SparkEntry.QueryFn

  /** Minimum duplicated-substring length (tokens) — matches
    * [[CurationOps.SpanW]] so coverage cross-validates against the
    * windowed pass on a collision-free corpus. */
  val MinDup: Int = CurationOps.SpanW

  /** Per-position max-LCP frame: (doc_id, pos, len, m) where m is
    * the exact length of the longest substring starting at pos that
    * occurs ≥ 2 times corpus-wide (self-repeats included).
    * `docTk` = (doc_id, tk) the per-doc token arrays — the one input
    * (r14: the positions frame is derived inside, AFTER the single
    * tokenize+pin, so no caller re-tokenizes). */
  def maxLcp(docTk: DataFrame): DataFrame =
    maxFromLcps(adjacentLcps(docTk)._2)

  /** m(p) = max over both directed neighbors. */
  private def maxFromLcps(lcps: DataFrame): DataFrame = {
    val s = lcps.sparkSession
    import s.implicits._
    lcps.select($"da".as("doc_id"), $"pa".as("pos"), $"la".as("len"), $"lcp")
      .unionByName(
        lcps.select($"db".as("doc_id"), $"pb".as("pos"), $"lb".as("len"), $"lcp"))
      .groupBy($"doc_id", $"pos", $"len")
      .agg(max($"lcp").as("m"))
  }

  /** The suffix machinery per corpus file fingerprint, an
    * [[IndexStore]] handle: `dedup_exact_substr` and
    * `text_decontaminate_spans` consume the SAME suffix order +
    * adjacent LCPs — building it twice per run doubles the dominant
    * cost, and a new JVM reads the parquet instead of re-paying the
    * O(log maxDocLen) build rounds. */
  private def adjacentLcpsCached(
      s: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = dir + graft.mr.Fs.fingerprint(dir + "/documents.parquet")
    val Seq(ord, lcps) = IndexStore.frames(
      s, "suffix_lcp", key, Seq("ord", "lcps")) {
      import s.implicits._
      val (o, l) = adjacentLcps(Tables.documents(s, dir)
        .select($"doc_id", normTokens($"text").as("tk")))
      Seq(o, l)
    }
    (ord, lcps)
  }

  /** Shared suffix machinery: returns (ord, lcps) where
    * ord = (sn, doc_id, pos, len) is the suffix-order frame and
    * lcps = (sn, da, pa, la, db, pb, lb, lcp) holds the exact LCP of
    * each ADJACENT suffix pair (sn, sn+1). */
  private def adjacentLcps(docTk: DataFrame): (DataFrame, DataFrame) = {
    val s = docTk.sparkSession
    // ~10 synchronous rounds of BOUNDED shuffles over the position
    // frame — job-count-dominated, not data-dominated, at bench
    // scale. The eager rounds run at a narrower width passed
    // EXPLICITLY into every Ranked/repartition call (the r5 shape
    // mutated session-global shuffle conf with try/finally restore —
    // not thread-safe under concurrent queries on one session); at
    // 100 TB a cluster passes a wider width, the ROUND COUNT stays
    // log(maxDocLen). This is the PRODUCTION path (the persisted
    // index handles route here), not just the spec one.
    val np = math.max(
      8, s.conf.get("spark.sql.shuffle.partitions", "32").toInt / 4)
    adjacentLcpsRounds(docTk, np)
  }

  /** First bounded-compare slice width for the LCP close — covers
    * the organic LCP mass in one pass; deeper repeats escalate ×4. */
  val CmpCap0 = 64L

  /** Documents at or under this many tokens take the DIRECT path
    * ([[adjacentLcpsDirect]]): one global sort of the full suffix
    * slices instead of ceil(log₈ maxDocLen) prefix-tupling rounds.
    *
    * The crossover is byte mass vs round count (r14, guide §1.2 "the
    * distributed algorithm" + §2.3 "shuffle fewer bytes"): the direct
    * sort shuffles Σ(len−pos) ≈ Σ len²/2 token copies — per-doc
    * QUADRATIC, prohibitive for 100k-token documents (≈ 10¹⁰ token
    * copies each) — while the tupling rounds shuffle
    * Σ len × B × log_B(len) rank longs. At len ≈ a few hundred the
    * two byte masses are comparable and the direct path wins
    * outright on round count: ~6 synchronous jobs instead of ~20+
    * (each tupling round = 2 shuffles + 2 lineage pins + 1 bounded
    * collect, and the LCP close adds escalation rounds). Short-doc
    * corpora (chat turns, captions, event journeys) stay direct at
    * ANY corpus size — the mass is linear in corpus size either way
    * and per-partition memory is bounded by maxLen² tokens per doc;
    * long-doc corpora take the rounds path regardless of node count.
    * Both paths produce THE SAME total suffix order (lexicographic
    * token order, shorter-prefix first, ties by (doc_id, pos)) and
    * the same exact LCPs, so every consumer hash is unchanged
    * (SuffixSpec + the sf0.001/0.01 oracle gate re-prove it). */
  val DirectSortMaxLen: Long = 512L

  /** Test-visible override of [[DirectSortMaxLen]] (the
    * Checkpoints.overrideDir discipline) — lets the spec run the SAME
    * corpus down both paths and assert identical frames. */
  @volatile private[operators] var directSortMaxLenOverride: Option[Long] = None

  private def directSortMaxLen: Long =
    directSortMaxLenOverride.getOrElse(DirectSortMaxLen)

  private def adjacentLcpsRounds(
      docTk: DataFrame, np: Int): (DataFrame, DataFrame) = {
    val s = docTk.sparkSession
    import s.implicits._

    // Tokenize ONCE and pin the per-doc arrays (the pre-explode
    // frame — smaller than the positions frame, and both branches
    // and the LCP close read it); maxLen reads the pinned frame.
    val docTkC = docTk.transform(Checkpoints.cut)
    val maxLen = docTkC
      .agg(max(size($"tk").cast("long"))).collect()(0).getLong(0)

    if (maxLen <= directSortMaxLen)
      return adjacentLcpsDirect(docTkC, np)

    // Pin the positions frame ONCE: repartitionByRange SAMPLES its
    // child before shuffling it, so every range pass over a lazy
    // frame evaluates the upstream plan twice — for the raw
    // explode here, and for each round's window output below. Every
    // frame a range shuffle consumes is checkpointed first.
    val toks = docTkC
      .select($"doc_id", size($"tk").cast("long").as("len"),
        posexplode($"tk").as(Seq("p", "tok")))
      .select($"doc_id", $"p".cast("long").as("pos"), $"len", $"tok")
      .transform(Checkpoints.cut)

    // prefix B-TUPLING (the Manber–Myers doubling generalized to
    // branching factor 8): rank of the Bw-prefix = dense rank of the
    // B-tuple (rank_w(p), rank_w(p+w), …, rank_w(p+(B−1)w)) — B−1
    // lead expressions share ONE doc-partitioned sort, so a round
    // costs the same stages as doubling but multiplies the width by
    // 8: ceil(log₈(maxDocLen)) rounds (3 for 100-token docs, 6 for
    // 100k). Only the FINAL table is kept — the two-round LCP pass
    // below needs no width ladder, which is what frees the
    // branching factor. The fixpoint exit argument is unchanged: a
    // round that splits no class proves classes successor-closed ⟹
    // fully-equal suffixes.
    val B = 8
    // lead() offsets are Int — fail loudly past the representable
    // prefix width instead of silently truncating (j·width) and
    // corrupting ranks on >256M-token documents (r5 ADVICE)
    require(maxLen <= Int.MaxValue / B,
      s"max doc length $maxLen exceeds the lead-offset budget ${Int.MaxValue / B}")

    // token → dense rank in ONE range pass over the FULL positions
    // frame (r5 ranked the distinct vocab and joined back — two more
    // corpus-scale shuffles per pass; see withGlobalDenseRank)
    val tokRank = Ranked.withGlobalDenseRank(toks, Seq($"tok"), "r", Some(np))
    var r = tokRank.df.select($"doc_id", $"pos", $"len", $"r")
    var distinctRanks = tokRank.n
    var width = 1L
    var fixpoint = width >= maxLen
    val byDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    while (!fixpoint) {
      val leadCols = (1 until B).map { j =>
        coalesce(lead($"r", (j * width).toInt).over(byDoc), lit(-1L)).as(s"r$j")
      }
      // doc-repartition at the narrow width feeds the lead window
      // with no further exchange; dense-ranking the full frame
      // replaces the r5 distinct + rank + join-back chain (ranks are
      // bit-identical). Lineage stays O(1)/round: withGlobalDenseRank
      // pins its range-partitioned layout internally.
      // pinned before the dense-rank's range pass samples it (the
      // window would otherwise run twice per round)
      val paired = r.repartition(np, $"doc_id")
        .select(Seq($"doc_id", $"pos", $"len", $"r") ++ leadCols: _*)
        .transform(Checkpoints.cut)
      val keyCols = ("r" +: (1 until B).map(j => s"r$j")).map(col)
      val ranked = Ranked.withGlobalDenseRank(paired, keyCols, "nr", Some(np))
      r = ranked.df.select($"doc_id", $"pos", $"len", $"nr".as("r"))
      width *= B
      // ranked.n IS the new distinct-rank count — no extra job
      fixpoint = width >= maxLen || ranked.n == distinctRanks
      distinctRanks = ranked.n
    }

    // adjacent suffixes in suffix order (ties = identical suffixes;
    // any order within a tie is fine — their LCP is full length).
    // The final round's frame pins first — same sampling argument.
    val ord = Ranked.withGlobalRank(
      r.transform(Checkpoints.cut), Seq($"r".asc, $"doc_id".asc, $"pos".asc), "sn",
      numPartitions = Some(np)).df
      .transform(Checkpoints.cut)
    val nxt = ord.select(($"sn" - 1).as("pn"), $"doc_id".as("db"),
      $"pos".as("pb"), $"len".as("lb"), $"r".as("rb"))
    val pairs = ord
      .select($"sn", $"doc_id".as("da"), $"pos".as("pa"), $"len".as("la"),
        $"r".as("ra"))
      .join(nxt, $"sn" === $"pn")
      .drop("pn")
      .transform(Checkpoints.cut)

    // Closing the pairs, shuffle-bounded (r5 shipped FULL token
    // arrays through the pair joins — O(positions × docLen) bytes;
    // a 100k-token doc amplified ~10⁵×):
    //   - identical final ranks ⟹ fully equal suffixes ⟹ lcp = min
    //     remaining length, closed with NO token access at all (the
    //     heavy tail of a duplicative corpus);
    //   - rank-distinct pairs mismatch before min length (or one is
    //     the other's proper prefix, ending at cmpLen): a direct
    //     first-mismatch compare over BOUNDED slices — each slice is
    //     projected in the same stage as its token join, so no
    //     exchange ever carries a full array next to a pair — with
    //     ×4 width escalation for the (LCP-mass-bounded) survivors:
    //     round shuffle bytes ≈ pairs-with-lcp≥cap × cap ≤ 4·(LCP
    //     output mass), not positions × docLen.
    val ta = docTkC.select($"doc_id".as("da"), $"tk".as("tka"))
    val tb = docTkC.select($"doc_id".as("db"), $"tk".as("tkb"))
    val cmpLen = least($"la" - $"pa", $"lb" - $"pb")
    val outCols = Seq($"sn", $"da", $"pa", $"la", $"db", $"pb", $"lb", $"lcp")

    val eqLcps = pairs.where($"ra" === $"rb")
      .withColumn("lcp", cmpLen).select(outCols: _*)
    var pend = pairs.where($"ra" =!= $"rb").drop("ra", "rb")
    var resolved = List.empty[DataFrame]
    var cap = CmpCap0
    var done = false
    while (!done) {
      val sliced = boundedCompare(pend, ta, tb, cap).transform(Checkpoints.cut)
      resolved ::= sliced.where($"mm" > 0 || $"cmp" <= cap)
        .withColumn("lcp", when($"mm" > 0, $"mm" - 1).otherwise($"cmp"))
        .select(outCols: _*)
      val next = sliced.where($"mm" === 0 && $"cmp" > cap)
        .select($"sn", $"da", $"pa", $"la", $"db", $"pb", $"lb")
      done = cap >= maxLen || next.isEmpty
      pend = next
      cap *= 4
    }
    val lcps = resolved.foldLeft(eqLcps)(_ unionByName _)
      .transform(Checkpoints.cut)
    (ord, lcps)
  }

  /** The short-document fast path (see [[DirectSortMaxLen]]): suffix
    * order from ONE global sort of the full remaining-suffix slices.
    *
    * The sort key is the slice PACKED into one string on U+0001:
    * every token is [a-z0-9]+ ([[graft.functions.Cols.normTokens]] —
    * all suffix corpora pass through it), and 0x01 sorts strictly
    * below every token byte AND above end-of-string, so packed byte
    * order ≡ element-wise token order with shorter-prefix-first —
    * exactly the order the rank rounds converge to (token ranks are
    * assigned ascending by token, and a clipped tuple slot ranks
    * below every real rank). One UTF8String compare per sort
    * comparison instead of an interpreted array walk. `sn` is
    * therefore bit-identical to the rounds path's. LCPs close
    * directly on the packed keys riding the sort: equal keys ⟹ lcp =
    * min remaining length (the rounds path's equal-rank shortcut),
    * otherwise the separator count of the common byte prefix — no
    * token re-join, no ×4 escalation rounds ([[packedLcpUdf]]). */
  /** Exact token LCP of two packed suffixes, given the min remaining
    * token length: count separators crossed in the common byte
    * prefix; a full byte match, or exhausting the shorter string AT a
    * token boundary of the longer, means the shorter is a whole-token
    * prefix (lcp = its full token count = cmpLen); exhausting it
    * MID-token of the longer does not count that partial token. One
    * tight loop per adjacent pair — referenced once (no inline trap),
    * replacing the interpreted zip_with scan over slice arrays. */
  private val packedLcpUdf = udf { (a: String, b: String, cmpLen: Long) =>
    val n = math.min(a.length, b.length)
    var i = 0
    var cnt = 0L
    while (i < n && a.charAt(i) == b.charAt(i)) {
      if (a.charAt(i) == '\u0001') cnt += 1
      i += 1
    }
    if (i == n) {
      if (a.length == b.length) cmpLen
      else if ((if (a.length >= b.length) a else b).charAt(i) == '\u0001') cmpLen
      else cnt
    } else cnt
  }

  private def adjacentLcpsDirect(
      docTkC: DataFrame, np: Int): (DataFrame, DataFrame) = {
    val s = docTkC.sparkSession
    import s.implicits._
    // positions + packed suffixes straight off the pinned per-doc
    // arrays — all map-side, no positions-frame checkpoint, no token
    // join; the ONLY payload crossing the sort exchange is the
    // packed key itself
    val sliced = docTkC
      .select($"doc_id", size($"tk").cast("long").as("len"),
        posexplode(transform($"tk",
          (_, i) => concat_ws("\u0001",
            slice($"tk", i + 1, size($"tk") - i)))).as(Seq("p", "skey")))
      .select($"doc_id", $"p".cast("long").as("pos"), $"len", $"skey")
    val ordFull = Ranked.withGlobalRank(
      sliced, Seq($"skey".asc, $"doc_id".asc, $"pos".asc), "sn",
      numPartitions = Some(np)).df
      .transform(Checkpoints.cut)
    // narrow pin: every downstream ord consumer would otherwise
    // re-read ordFull's blocks INCLUDING the packed keys
    val ord = ordFull.select($"sn", $"doc_id", $"pos", $"len")
      .transform(Checkpoints.cut)
    val nxt = ordFull.select(($"sn" - 1).as("pn"), $"doc_id".as("db"),
      $"pos".as("pb"), $"len".as("lb"), $"skey".as("kb"))
    val cmpLen = least($"la" - $"pa", $"lb" - $"pb")
    val lcps = ordFull
      .select($"sn", $"doc_id".as("da"), $"pos".as("pa"), $"len".as("la"),
        $"skey".as("ka"))
      .join(nxt, $"sn" === $"pn")
      .withColumn("lcp", packedLcpUdf($"ka", $"kb", cmpLen))
      .select($"sn", $"da", $"pa", $"la", $"db", $"pb", $"lb", $"lcp")
      .transform(Checkpoints.cut)
    (ord, lcps)
  }

  /** One bounded-compare round: attach ≤ cap-token suffix slices
    * (projected map-side immediately after each token join — the
    * full array never crosses the NEXT exchange), then the
    * first-mismatch scan. Returns the pair frame + (mm, cmp):
    * mm = 1-based first mismatch in the capped slices (0 = none),
    * cmp = min remaining suffix length. Package-visible so the spec
    * can assert the pair frame's width really is bounded. */
  private[operators] def boundedCompare(
      pend: DataFrame, ta: DataFrame, tb: DataFrame, cap: Long): DataFrame = {
    val s = pend.sparkSession
    import s.implicits._
    val cmpLen = least($"la" - $"pa", $"lb" - $"pb")
    val capped = least(cmpLen, lit(cap)).cast("int")
    pend
      .join(ta, "da")
      .withColumn("sla", slice($"tka", ($"pa" + 1).cast("int"), capped))
      .drop("tka")
      .join(tb, "db")
      .withColumn("slb", slice($"tkb", ($"pb" + 1).cast("int"), capped))
      .drop("tkb")
      .withColumn("mm",
        array_position(zip_with($"sla", $"slb", (x, y) => !(x <=> y)), true))
      .withColumn("cmp", cmpLen)
      .drop("sla", "slb")
  }

  /** Minimum contamination span (tokens) for
    * [[qDecontaminateSpans]] — 5 keeps the cross-split overlap set
    * non-vacuous on every sf corpus (1/3/261 docs at
    * sf0.001/0.01/0.1 under an 8-token bar would be 8/1/48). */
  val ContamMinLen = 5

  /** Directional segmented-min scan over the suffix order — the
    * primitive behind exact cross-set LCPs: for each row (a suffix,
    * ordered by `sn` ascending or descending), the MIN of `edge`
    * accumulated since the scan last passed a `mark` row (exclusive
    * of everything before that marker), or NULL if no marker has
    * been passed yet. Distribution is the [[Ranked]] shape: range-
    * partition on the scan order, pin, per-partition (sawMark,
    * tailMin) summaries — ONE bounded row each — driver-folded into
    * incoming states, broadcast back, and the intra-partition scan
    * runs in (pid, segment)-partitioned windows (segment = markers
    * passed so far within the partition). Nothing single-partition.
    */
  private def segMinFromMarker(
      f: DataFrame, asc: Boolean, outCol: String, np: Int): DataFrame = {
    val s = f.sparkSession
    import s.implicits._
    val ord = if (asc) $"sn".asc else $"sn".desc
    // pin before the range pass samples it (else the edge join runs
    // twice — the repartitionByRange double-eval)
    val parted = f.transform(Checkpoints.cut).repartitionByRange(np, ord)
      .withColumn("__pid", spark_partition_id())
      .transform(Checkpoints.cut)
    val w = Window.partitionBy($"__pid").orderBy(ord)
    val withSeg = parted.withColumn("__seg",
      coalesce(sum($"mark".cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // marks counted INCLUSIVE of the row — identifies the rows
      // strictly after the partition's last marker for the exit state
      .withColumn("__segIncl", $"__seg" + $"mark".cast("long"))

    // bounded per-partition summaries → driver fold → incoming
    // state. Exit min = edges of rows STRICTLY AFTER the last marker
    // (a marker row's own edge connects it to what came BEFORE it
    // and must never leak past it into the next partition).
    val sums = withSeg.groupBy($"__pid")
      .agg(max($"mark".cast("long")).as("sawB"), max($"__segIncl").as("mseg"))
    val tails = withSeg.join(broadcast(sums), "__pid")
      .where($"__segIncl" === $"mseg" && !$"mark")
      .groupBy($"__pid").agg(min($"edge").as("mtail"))
    val perPart = sums.join(tails, Seq("__pid"), "left").orderBy($"__pid").collect()
      .map(r => (r.getInt(0), r.getLong(1) == 1L,
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    var sawB = false
    var m: Option[Long] = None
    val inRows = perPart.map { case (pid, pSaw, pTail) =>
      val row = org.apache.spark.sql.Row(
        pid.toLong, sawB, m.map(java.lang.Long.valueOf).orNull)
      if (pSaw) { sawB = true; m = pTail }
      else m = (m, pTail) match {
        case (Some(a), Some(b)) => Some(math.min(a, b))
        case (a, b) => a.orElse(b)
      }
      row
    }
    val inSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__pid64",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__inSaw",
        org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("__inMin",
        org.apache.spark.sql.types.LongType)))
    val inDf = s.createDataFrame(
      s.sparkContext.parallelize(inRows.toSeq, 1), inSchema)

    val wSeg = Window.partitionBy($"__pid", $"__seg").orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, 0)
    withSeg
      .join(broadcast(inDf), withSeg("__pid").cast("long") === inDf("__pid64"))
      .withColumn("__intra", min($"edge").over(wSeg))
      .withColumn(outCol,
        when($"__seg" >= 1, $"__intra")
          .otherwise(when($"__inSaw", least($"__inMin", $"__intra"))))
      .drop("__pid", "__pid64", "__seg", "__segIncl", "__intra", "__inSaw", "__inMin")
  }

  /** EXACT cross-set contamination spans — the decontamination twin
    * of [[qDedupExactSubstr]]: for every TRAIN position, the length
    * of the longest substring it starts that also appears ANYWHERE
    * in the benchmark split (doc_id % 10 == 9, the
    * `text_decontaminate` split), then per-doc maximal-span
    * accounting of tokens lying in a shared run of ≥
    * [[ContamMinLen]] tokens. This is GPT-3/Lee-et-al-style exact
    * substring decontamination with true span extents — the n-gram
    * pass reports hit RATIOS, this reports exactly WHAT to cut and
    * how long the longest verbatim leak is.
    *
    * Exactness: in suffix order, LCP(p, q) = min of adjacent LCPs
    * between them, which shrinks with distance — so the max LCP of
    * a train suffix against the WHOLE benchmark set is attained at
    * the NEAREST benchmark suffix above or below, and each side is
    * one [[segMinFromMarker]] scan with benchmark suffixes as
    * markers. Within-train duplicates never mark, so they can't
    * count as contamination. All scan machinery is pid-partitioned
    * with bounded driver state; the corpus is suffix-ordered once.
    */
  val qDecontaminateSpans: QueryFn = (s, dir) => {
    import s.implicits._
    contamSpanListCached(s, dir)
      .groupBy($"doc_id")
      .agg(max($"len").as("n_tokens"),
        count(lit(1)).as("n_spans"),
        sum($"en" - $"st").as("contaminated"),
        max($"mx").as("max_contam_len"))
      .select($"doc_id", $"n_tokens", $"n_spans", $"contaminated",
        $"max_contam_len",
        rnd($"contaminated".cast("double") / $"n_tokens", 6).as("contam_frac"))
      .orderBy($"doc_id")
  }

  /** The ACTION half of [[qDecontaminateSpans]]: emit the cleaned
    * training corpus with every contaminated span cut from the
    * normalized token stream (the unit the tokenizer consumes; Lee
    * et al. remove, not just report). Every train doc comes out —
    * uncontaminated ones whole — with exact removal accounting.
    * Shape: the persisted span list (bounded: spans ≪ positions)
    * anti-joins the exploded positions; kept tokens fold back per
    * doc (array_sort on (pos, tok) structs keeps the rebuild
    * deterministic under any aggregation order). */
  val qCutContaminated: QueryFn = (s, dir) => {
    import s.implicits._
    val spans = contamSpanListCached(s, dir)
      .select($"doc_id".as("sd"), $"st", $"en")
    val docTk = Tables.documents(s, dir)
      .where($"doc_id" % 10 =!= 9)
      .select($"doc_id", normTokens($"text").as("tk"))
      // zero-token docs emit no row on EITHER side (the oracle's
      // len(tk) > 0 filter) — without this the hash gate diverges on
      // a corpus containing an all-punctuation doc
      .where(size($"tk") > 0)
    val toks = docTk
      .select($"doc_id", posexplode($"tk").as(Seq("p", "tok")))
      .select($"doc_id", $"p".cast("long").as("pos"), $"tok")
    val keptAgg = toks
      .join(spans,
        $"doc_id" === $"sd" && $"pos" >= $"st" && $"pos" < $"en", "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct($"pos", $"tok"))),
            x => x.getField("tok"))).as("cleaned"))
    docTk.select($"doc_id", size($"tk").cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        ($"n_tokens" - coalesce($"n_kept", lit(0L))).as("n_removed"),
        coalesce($"cleaned", lit("")).as("cleaned"))
      .orderBy($"doc_id")
  }

  /** Full contamination pipeline from any (doc_id, text) frame —
    * split out so the spec can run crafted train/bench corpora. */
  def contamSpans(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    contamFromLcps(adjacentLcps(
      docs.select($"doc_id", normTokens($"text").as("tk"))))
  }

  /** Gaps-and-islands union of per-position intervals [pos, pos+m)
    * into maximal disjoint spans per doc: (doc_id, grp, st, en, mx,
    * len). THE one island-merge in the file — the dedup and
    * decontamination passes must never diverge on the adjacency
    * rule. */
  private def mergeSpans(m: DataFrame): DataFrame = {
    val s = m.sparkSession
    import s.implicits._
    val byDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val prevEnd = max($"pos" + $"m")
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    m.withColumn("brk",
        when(prevEnd.isNull || $"pos" > prevEnd, 1L).otherwise(0L))
      .withColumn("grp", sum($"brk")
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("st"), max($"pos" + $"m").as("en"),
        max($"m").as("mx"), max($"len").as("len"))
  }

  /** Per-doc rollup of a merged span list, with caller-named
    * covered/max columns. */
  private def rollupSpans(
      spans: DataFrame, coveredName: String, maxName: String,
      fracName: String): DataFrame = {
    val s = spans.sparkSession
    import s.implicits._
    spans.groupBy($"doc_id")
      .agg(max($"len").as("n_tokens"),
        count(lit(1)).as("n_spans"),
        sum($"en" - $"st").as(coveredName),
        max($"mx").as(maxName))
      .select($"doc_id", $"n_tokens", $"n_spans", col(coveredName),
        col(maxName),
        rnd(col(coveredName).cast("double") / $"n_tokens", 6).as(fracName))
      .orderBy($"doc_id")
  }

  private def contamFromLcps(ordLcps: (DataFrame, DataFrame)): DataFrame =
    rollupSpans(contamSpanList(ordLcps),
      "contaminated", "max_contam_len", "contam_frac")

  /** Span list per corpus, a handle like [[adjacentLcpsCached]] —
    * the accounting and cutting queries share one scan run. */
  private def contamSpanListCached(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val key = dir + graft.mr.Fs.fingerprint(dir + "/documents.parquet") +
      s":minlen$ContamMinLen"
    IndexStore.frame(s, "contam_spans", key)(
      contamSpanList(adjacentLcpsCached(s, dir)))
  }

  /** Maximal contamination spans per train doc:
    * (doc_id, st, en, mx, len) — shared by the accounting query and
    * the cutting pass. */
  private def contamSpanList(ordLcps: (DataFrame, DataFrame)): DataFrame = {
    val (ord, lcps) = ordLcps
    val s = ord.sparkSession
    import s.implicits._
    // narrow the eager scan width explicitly (no session-conf
    // mutation — the r5 shape nested two narrowings and was
    // order-dependent under concurrency)
    val np = math.max(
      8, s.conf.get("spark.sql.shuffle.partitions", "32").toInt / 4)
    val mark = ($"doc_id" % 10 === 9).as("mark")
    // edge-to-prev (asc scan): LCP of pair (sn-1, sn); edge-to-next
    // (desc scan): LCP of pair (sn, sn+1)
    val ePrev = lcps.select(($"sn" + 1).as("sn"), $"lcp".as("edge"))
    val eNext = lcps.select($"sn", $"lcp".as("edge"))
    val base = ord.select($"sn", $"doc_id", $"pos", $"len", mark)
    val up = segMinFromMarker(
      base.join(ePrev, Seq("sn"), "left"), asc = true, "reach", np)
      .select($"sn", $"reach".as("up"))
    val down = segMinFromMarker(
      base.join(eNext, Seq("sn"), "left"), asc = false, "reach", np)
      .select($"sn", $"reach".as("dn"))

    val m = base.join(up, "sn").join(down, "sn")
      .where(!$"mark")
      .select($"doc_id", $"pos", $"len", greatest($"up", $"dn").as("m"))
      .where($"m" >= ContamMinLen)

    mergeSpans(m).transform(Checkpoints.cut)
  }

  /** Cold-build entry points for the bench's `build_*` rows: force
    * the persisted index construction (the checkpointed rounds are
    * eager, so returning from these means the frames are
    * materialized). Without these the construction cost amortizes
    * invisibly into whichever consumer query runs first, and the
    * per-query numbers under-report the cold path. */
  def buildSuffixIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    adjacentLcpsCached(s, dir); ()
  }

  def buildContamIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    contamSpanListCached(s, dir); ()
  }

  /** Per-doc exact duplicated-span accounting: doc_id, n_tokens,
    * n_spans, covered, max_dup_len, coverage. Coverage equals the
    * windowed pass on a collision-free corpus (SuffixSpec asserts
    * this on the sf corpus); max_dup_len is the signal the windowed
    * pass cannot produce. */
  val qDedupExactSubstr: QueryFn = (s, dir) =>
    spansFromM(maxFromLcps(adjacentLcpsCached(s, dir)._2), MinDup)

  /** Minimum repeated behavioral run (events) for
    * [[qJourneyRepeats]] — 6 steps keeps the panel non-vacuous at
    * every sf (5 event types ⇒ shorter runs repeat by chance
    * everywhere, longer almost never on organic traffic). */
  val MinJourneyRun = 6

  /** Repeated-behavior mining — the suffix engine applied to a
    * NON-TEXT sequence domain: each user's event-type sequence
    * (ordered by ts, event_id) is a document, and any run of ≥
    * [[MinJourneyRun]] steps that occurs twice ANYWHERE (another
    * user — scripted/bot cohorts; or the same user — replay loops)
    * is an exact repeated journey. Output per affected user: events,
    * repeated-step accounting, longest repeated run — the
    * fraud/automation triage panel, with suffix-array exactness
    * rather than hashed-window approximation. Same machinery, same
    * scale posture as [[qDedupExactSubstr]]. */
  private val journeyMemo = new Memo[DataFrame]()

  val qJourneyRepeats: QueryFn = (s, dir) => journeyMemo.getOrElseUpdate(
    s, dir + graft.mr.Fs.fingerprint(dir + "/events.parquet"),
    buildJourneyRepeats(s, dir))

  /** The journey suffix build is eager (checkpointed rounds), so the
    * memo returns the SAME planned frame whose dependencies are
    * already materialized — a re-serve costs the final fold only
    * (a result memo, not an index handle: this corpus has a single
    * consumer). */
  /** Per-user sequence bound: bot/scripted users — exactly this
    * query's target population — are the one cohort whose event count
    * is unbounded at 100 TB, and an unbounded `collect_list` row is
    * the thing that OOMs an executor. Users past the cap are analyzed
    * on their FIRST [[JourneyCap]] events (row_number over the
    * deterministic (ts, event_id) order, replayed in the oracle);
    * 65536 steps is ~3 orders past any organic user and already
    * damning evidence for an automated one. */
  val JourneyCap = 65536

  /** Per-user event-type "documents" from an events frame, sequence
    * length bounded by `cap` — split out so the spec can drive a
    * pathological heavy user through a small cap. */
  private[operators] def journeySeqs(
      events: DataFrame, cap: Int = JourneyCap): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("p", row_number().over(byUser))
      .where($"p" <= cap)
      .groupBy($"user_id")
      .agg(array_sort(collect_list(struct($"p", $"event_type"))).as("evs"))
      .select($"user_id".as("doc_id"),
        concat_ws(" ", transform($"evs", e => e.getField("event_type")))
          .as("text"))
  }

  private def buildJourneyRepeats(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seqs = journeySeqs(Tables.events(s, dir))
    exactSpans(seqs, MinJourneyRun)
      .select($"doc_id".as("user_id"), $"n_tokens".as("n_events"),
        $"n_spans".as("n_runs"), $"covered".as("repeated_steps"),
        $"max_dup_len".as("max_run"),
        $"coverage".as("repeat_frac"))
      .orderBy($"user_id")
  }

  /** Full pipeline from any (doc_id, text) frame — split out so the
    * spec can run it on a crafted chimera corpus, and so other
    * SEQUENCE domains can reuse the whole engine (token streams are
    * just one instance — `q_journey_repeats` feeds event-type
    * sequences through the same machinery). */
  def exactSpans(docs: DataFrame, minRun: Int = MinDup): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    spansFromM(
      maxLcp(docs.select($"doc_id", normTokens($"text").as("tk"))), minRun)
  }

  private def spansFromM(mFrame: DataFrame, minRun: Int): DataFrame = {
    val s = mFrame.sparkSession
    import s.implicits._
    rollupSpans(mergeSpans(mFrame.where($"m" >= minRun)),
      "covered", "max_dup_len", "coverage")
  }
}
