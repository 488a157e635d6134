package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Cols._

/** Word-count family (reference parity) + text-analysis operators
  * (SURVEY.md §2.A / §2.E). All map-only or partial+final aggregate —
  * the only shuffles are the groupBys on the (small) token/doc keys.
  */
object TextOps {
  import graft.SparkEntry.QueryFn

  /** Word frequency over documents.text — parity with the reference's
    * DemoMapper/DemoReducer word count (/root/reference/mapper.go:36,
    * reducer.go:36): whitespace split, case-sensitive, count per word.
    */
  val mrWordcount: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(wsTokens($"text")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"word")
  }

  /** Same word count, but routed through the generic
    * [[graft.mr.MapReduceJob]] engine — proves the Mapper/Reducer/
    * Combiner API produces results identical to the declarative plan
    * (same oracle SQL as mr_wordcount). */
  val mrWordcountEngine: QueryFn = (s, dir) => {
    import s.implicits._
    import graft.mr.{MapReduceJob, WordCount}
    val input = Tables.documents(s, dir)
      .select($"doc_id".cast("string"), $"text")
      .as[(String, String)]
    MapReduceJob
      .run(input, new WordCount.WordCountMapper, new WordCount.SumReducer,
        Some(WordCount.SumCombiner))
      .toDF("word", "cnt")
      .orderBy($"word")
  }

  /** Secondary sort through the engine: per language, the reducer
    * receives docs ordered by (n_tokens DESC, doc_id) — it emits the
    * first five doc_ids without sorting anything itself (ordering
    * comes from the shuffle sort; see
    * [[graft.mr.MapReduceJob.runSecondarySort]]). */
  val mrSecondarySort: QueryFn = (s, dir) => {
    import s.implicits._
    val input = Tables.documents(s, dir)
      .select($"lang", struct(
        size(normTokens($"text")).cast("long").as("n"),
        $"doc_id".as("id")).as("v"))
      .as[(String, (Long, Long))]
    val reducer = new graft.mr.Reducer[String, (Long, Long), (String, Long)] {
      override def reduce(key: String, values: Iterator[(Long, Long)]): (String, Long) = {
        val top = new scala.collection.mutable.ArrayBuffer[Long](5)
        var n = 0L
        values.foreach { case (_, id) =>
          if (top.length < 5) top += id
          n += 1
        }
        (top.mkString(","), n)
      }
    }
    graft.mr.MapReduceJob
      .runSecondarySort(input, reducer,
        Seq(col("_1"), col("_2.n").desc, col("_2.id").asc))
      .map { case (lang, (ids, n)) => (lang, ids, n) }
      .toDF("lang", "top5_ids", "n_docs")
      .orderBy($"lang")
  }

  /** Substring grep over the corpus (the classic MapReduce demo; the
    * reference filters input keys by prefix, s3_utils.go:49 — here we
    * filter values, which is the useful generalization). */
  val mrGrep: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"text".contains("merge"))
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  /** Doc-ids per posting chunk — the bound that keeps any single
    * output cell O(1) in the corpus (r6 verdict #3). */
  val PostingChunk = 1024L

  /** Inverted index: normalized token → CHUNKED sorted posting lists.
    * A stopword's posting row was previously one unbounded
    * collect_list cell — O(corpus docs) in a single value, an
    * executor OOM at 100 TB. Postings are now bucketed by doc_id
    * range (chunk_id = doc_id / 1024), so every row holds ≤ 1024 ids
    * regardless of df; `df` (the token total, summed across chunks
    * by a token-partitioned window over ≤ maxDoc/1024 chunk rows)
    * and `chunk_df` make truncationless reassembly checkable. The
    * chunk rule is a pure doc_id function, so the groupBy is fully
    * shuffle-parallel — no per-token hot task, no window over raw
    * postings. Comma-joined strings keep the oracle compare
    * representation-stable. */
  val mrInvertedIndex: QueryFn = (s, dir) => {
    import s.implicits._
    val posts = Tables.documents(s, dir)
      .select($"doc_id", explode(normTokens($"text")).as("token"))
      .distinct()
    val chunks = posts
      .groupBy($"token", floor($"doc_id" / PostingChunk).as("chunk_id"))
      .agg(
        array_join(sort_array(collect_list($"doc_id")), ",").as("doc_ids"),
        count(lit(1)).as("chunk_df"))
    chunks
      .withColumn("df", sum($"chunk_df").over(
        Window.partitionBy($"token")))
      .select($"token", $"chunk_id", $"doc_ids", $"chunk_df", $"df")
      .orderBy($"token", $"chunk_id")
  }

  /** Distinct normalized tokens per language. */
  val mrDistinctTokens: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang", explode(normTokens($"text")).as("token"))
      .groupBy($"lang")
      .agg(count_distinct($"token").as("n_tokens"))
      .orderBy($"lang")
  }

  /** Two chained MapReduce jobs through the graft.mr engine — the
    * composability the reference gets by feeding one job's output
    * folder to the next job's input folder (its Start() chain):
    * job 1 = word count, job 2 = frequency-of-frequencies over job
    * 1's output Dataset. Both jobs run with a Combiner, so each is
    * partial+final; no materialization is forced between them —
    * Catalyst plans the chain as one DAG, which is the point of
    * compiling the MR model to Datasets instead of files. */
  val mrChained: QueryFn = (s, dir) => {
    import s.implicits._
    import graft.mr._
    val input = Tables.documents(s, dir)
      .select($"doc_id".cast("string"), $"text").as[(String, String)]
    val counts = MapReduceJob.run(input,
      new WordCount.WordCountMapper, new WordCount.SumReducer,
      Some(WordCount.SumCombiner))
    val freqMapper = new Mapper[String, Long, Long, Long] {
      def map(k: String, v: Long, e: Emitter[Long, Long]): Unit = e.emit(v, 1L)
    }
    val sumReducer = new Reducer[Long, Long, Long] {
      def reduce(k: Long, vs: Iterator[Long]): Long = vs.sum
    }
    val sumCombiner = new Combiner[Long] {
      def combine(a: Long, b: Long): Long = a + b
    }
    MapReduceJob.run(counts, freqMapper, sumReducer, Some(sumCombiner))
      .toDF("cnt", "n_words")
      .orderBy($"cnt")
  }

  /** Per-document token statistics. */
  val textTokenStats: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(normTokens($"text")).as("tok"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count_distinct($"tok").as("n_distinct"),
        rnd(avg(length($"tok")), 2).as("avg_tok_len"))
      .orderBy($"doc_id")
  }

  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  /** Heuristic quality score: token count, stopword ratio, punctuation
    * ratio, type-token ratio. Deterministic, engine-replicable. */
  val textQuality: QueryFn = (s, dir) => {
    import s.implicits._
    val toks = normTokens($"text")
    val nTok = size(toks).cast("double")
    val nStop = hitCount(toks, stopwords).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    // punctuation = anything that is not alnum/space, counted by
    // length difference after deletion
    val nPunct = (length($"text") - length(regexp_replace(lower($"text"), "[a-z0-9 ]", ""))).cast("double")
    Tables.documents(s, dir)
      .select(
        $"doc_id",
        nTok.cast("long").as("n_tokens"),
        rnd(nStop / nTok, 4).as("stop_ratio"),
        rnd(nPunct / length($"text"), 4).as("alnum_ratio"),
        rnd(nDistinct / nTok, 4).as("ttr"),
        rnd(least(nTok / lit(100.0), lit(1.0)) * (nDistinct / nTok), 4).as("quality"))
      .orderBy($"doc_id")
  }

  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "los", "que", "de", "es"))

  /** Stopword-hit language heuristic: argmax over per-language hit
    * counts with fixed tie order (en > de > fr > es), 'und' when no
    * hits at all. */
  val textLangid: QueryFn = (s, dir) => {
    import s.implicits._
    // materialize tokens, then hits, then the argmax — three narrow
    // projections instead of one wide expression that would inline
    // the tokenizer into all eight hit/compare sites (measured 8×
    // slower at sf0.1)
    val withToks = Tables.documents(s, dir)
      .select($"doc_id", $"lang", normTokens($"text").as("toks"))
    val withHits = withToks.select(
      Seq($"doc_id", $"lang") ++ langStops.map { case (lg, ws) =>
        hitCount($"toks", ws).cast("long").as(s"${lg}_hits")
      }: _*)
    val Seq(en, de, fr, es) = langStops.map { case (lg, _) => col(s"${lg}_hits") }
    val pred = when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("und")
    withHits
      .select($"doc_id", $"lang",
        $"en_hits", $"de_hits", $"fr_hits", $"es_hits", pred.as("lang_pred"))
      .orderBy($"doc_id")
  }

  /** Profile trigrams kept per language for [[textLangidNgram]]. */
  val LangProfileSize = 64

  /** Character-trigram-profile language ID (Cavnar & Trenkle 1994,
    * the n-gram-profile method behind CLD-style detectors), with the
    * profiles LEARNED from the corpus itself: a deterministic
    * quarter of the docs (doc_id % 4 == 0) trains per-language
    * trigram profiles (top-[[LangProfileSize]] by frequency, ranked
    * through the native TopKPerKey operator — its fourth consumer),
    * and the held-out docs are classified by profile-hit argmax.
    * Output is the confusion matrix (declared lang × predicted),
    * 'unk' for docs sharing no trigram with any profile — mass
    * conservation over eval docs is part of the oracle hash.
    *
    * Scale shape: profile fit is one (lang, trigram) partial+final
    * agg + a per-lang bounded heap — profiles are KB-sized and
    * broadcast; scoring explodes eval trigrams map-side, hits the
    * broadcast profiles, and argmaxes via one partial+final
    * min(struct) agg. Nothing corpus-sized shuffles twice, and the
    * whole query is integer arithmetic — bit-identical cross-engine. */
  val textLangidNgram: QueryFn = (s, dir) => {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", $"lang", normText($"text").as("t"))
    // r13 (guide §1.2): tight-loop trigram fan-out — the former
    // transform(sequence, i => substr(i, 3)) evaluated interpreted
    // per doc; this emits the identical code-point-indexed windows
    // (Spark's length/substr count code points, so the loop indexes
    // by code point too, not UTF-16 units)
    val charTrigrams = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else {
        val n = t.codePointCount(0, t.length)
        if (n < 3) Array.empty[String]
        else {
          val offs = new Array[Int](n + 1)
          var o = 0; var i = 0
          while (i < n) { offs(i) = o; o = t.offsetByCodePoints(o, 1); i += 1 }
          offs(n) = t.length
          Array.tabulate(n - 2)(k => t.substring(offs(k), offs(k + 3)))
        }
      }
    }
    val tri = d
      .where(length($"t") >= 3)
      .select($"doc_id", $"lang", explode(charTrigrams($"t")).as("tri"))
    val trainCounts = tri.where($"doc_id" % 4 === 0)
      .groupBy($"lang", $"tri").agg(count(lit(1)).as("cnt"))
    val prof = graft.plans.TopK.perKey(
        trainCounts, Seq("lang"), Seq("cnt" -> false, "tri" -> true),
        LangProfileSize)
      .select($"lang".as("plang"), $"tri")
    val hits = tri.where($"doc_id" % 4 =!= 0)
      .select($"doc_id", $"tri").distinct()
      .join(broadcast(prof), "tri")
      .groupBy($"doc_id", $"plang").agg(count(lit(1)).as("h"))
    // argmax via min(struct(-hits, lang)): highest hit count, ties to
    // the lexicographically smaller language — one partial+final agg,
    // no window sort (the q2 argmin pattern)
    val best = hits
      .groupBy($"doc_id")
      .agg(min(struct((-$"h").as("nh"), $"plang")).as("b"))
      .select($"doc_id", $"b.plang".as("pred"))
    d.where($"doc_id" % 4 =!= 0).select($"doc_id", $"lang")
      .join(best, Seq("doc_id"), "left")
      .select($"lang", coalesce($"pred", lit("unk")).as("pred_lang"))
      .groupBy($"lang", $"pred_lang").agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"pred_lang")
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text. */
  val textFingerprint: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", md5(normText($"text")).as("fp"))
      .orderBy($"doc_id")
  }

  /** Pairwise edit distance between distinct source labels (string
    * similarity surface; tiny-side cross join stays broadcastable). */
  val textLevenshteinPairs: QueryFn = (s, dir) => {
    import s.implicits._
    val srcs = Tables.documents(s, dir).select($"source").distinct()
    val a = srcs.select($"source".as("src_a"))
    val b = srcs.select($"source".as("src_b"))
    a.crossJoin(broadcast(b))
      .where($"src_a" < $"src_b")
      .withColumn("dist", levenshtein($"src_a", $"src_b").cast("long"))
      .where($"dist" <= 2)
      .orderBy($"src_a", $"src_b")
  }

  /** Deterministic hash sampling: ~12.5% of docs selected by the
    * first hex nibble of md5(doc_id) — the engine-portable way to
    * sample reproducibly (seeded `TABLESAMPLE` is engine-specific;
    * md5 of the same string is not). Map-only, no shuffle until the
    * tiny per-lang rollup. */
  val textSampleHash: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where(substring(md5($"doc_id".cast("string")), 1, 1).isin("0", "1"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"),
        min($"doc_id").as("first_id"), max($"doc_id").as("last_id"))
      .orderBy($"lang")
  }

  /** Winnowing fingerprints (rolling k-gram hashes, rightmost-min
    * window selection) — the document-fingerprinting scheme used for
    * plagiarism/overlap detection. Map-only; [rows-only] oracle (the
    * scheme is spec-tested in HashesSpec). */
  val textWinnow: QueryFn = (s, dir) => {
    import s.implicits._
    import graft.functions.Hashes.winnow
    val fps = winnow(k = 5, w = 4)(normText($"text"))
    Tables.documents(s, dir)
      .select($"doc_id", fps.as("fps"))
      .select(
        $"doc_id",
        size($"fps").cast("long").as("n_fps"),
        aggregate($"fps", lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("fp_xor"))
      .orderBy($"doc_id")
  }

  /** Exact dedup: group by content fingerprint, keep min doc_id.
    * At 100 TB this is the cheapest dedup pass: one shuffle on a
    * 128-bit key, partial agg map-side. */
  val dedupExact: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(md5(normText($"text")).as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy($"keep_id")
  }

  /** BPE-ish subword statistics: pre-tokenize with the
    * letters/digits/punctuation-run regex a byte-pair tokenizer
    * applies before merges, then count pieces — the "how many tokens
    * will this cost" pass of an LLM data pipeline (a real BPE plugs
    * its merge table into the same shape). */
  val textSubwordStats: QueryFn = (s, dir) => {
    import s.implicits._
    val pieces = regexp_extract_all(lower($"text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))
    Tables.documents(s, dir)
      .select($"doc_id", pieces.as("pc"))
      .select($"doc_id",
        size($"pc").cast("long").as("n_pieces"),
        size(array_distinct($"pc")).cast("long").as("n_distinct"),
        rnd(aggregate($"pc", lit(0L), (acc, x) => acc + length(x)).cast("double") /
          size($"pc"), 4).as("avg_piece_len"))
      .orderBy($"doc_id")
  }

  /** Multimodal stand-in: treat text bytes as an opaque binary payload
    * with typed metadata; per-source size stats + first-byte "format
    * sniff" (see graft.multimodal for the full plumbing). */
  /** Per-source vocabulary-growth / long-tail health: type count,
    * hapax legomena (freq-1 tokens — the Zipf tail a healthy natural
    * corpus keeps near half its vocabulary; synthetic or templated
    * text collapses it), type-token ratio and hapax share. The
    * corpus-health panel a curation run prints per ingest source.
    * Shape: one (source, token) partial+final count (the only
    * corpus-sized shuffle, keyed by vocabulary not documents), then a
    * per-source fold — both levels partial-aggregatable. */
  val qVocabGrowth: QueryFn = (s, dir) => {
    import s.implicits._
    val tokCounts = Tables.documents(s, dir)
      .select($"source", explode(normTokens($"text")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
    tokCounts.groupBy($"source")
      .agg(
        sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select($"source", $"n_tokens", $"n_types", $"n_hapax",
        rnd($"n_types".cast("double") / $"n_tokens", 6).as("ttr"),
        rnd($"n_hapax".cast("double") / $"n_types", 6).as("hapax_share"))
      .orderBy($"source")
  }

  val mmMediaStats: QueryFn = (s, dir) => {
    import s.implicits._
    val payload = $"text".cast("binary")
    Tables.documents(s, dir)
      .select($"source", octet_length(payload).as("n_bytes"),
        substring($"text", 1, 1).as("magic"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_bytes").as("total_bytes"),
        rnd(avg($"n_bytes"), 2).as("avg_bytes"),
        count_distinct($"magic").as("n_magics"))
      .orderBy($"source")
  }

  /** Multimodal featurize pass through the batched `mapPartitions`
    * codec seam (graft.multimodal.MediaPipeline): payloads →
    * fixed-dim feature vectors → per-kind stats. The codec is the
    * declared deterministic stub (no media libs in the container), so
    * the result is stable across runs/partitionings and the driver's
    * rows-only gate is meaningful; decimal-exact sums keep the mean
    * independent of partial-agg order. */
  val mmFeaturize: QueryFn = (s, dir) => {
    import s.implicits._
    val feats = graft.multimodal.MediaPipeline.featurize(
      graft.multimodal.MediaPipeline.fromDocuments(s, dir),
      graft.multimodal.FakeCodec)
    feats.toDF()
      .select($"kind", $"dim", element_at($"features", 1).cast("double").as("f0"))
      .groupBy($"kind")
      .agg(
        count(lit(1)).as("n_media"),
        max($"dim").cast("long").as("dim"),
        rnd(xavg($"f0"), 4).as("avg_f0"))
      .orderBy($"kind")
  }

  /** Deterministic complete MP4 for a video-class doc — the fixture
    * behind [[mmMp4Meta]] and [[mmFrameSample]] (the mm_wav_meta
    * discipline): real ftyp/moov/mvhd/tkhd/mdat boxes whose header
    * fields are closed forms of (doc_id, text), with the text's UTF-8
    * bytes as the mdat payload. duration_ms = (payload+8)·40 keeps
    * the 40 ms/byte schedule contract of the r5-era stand-in, but the
    * milliseconds now ride INSIDE the container as
    * (timescale, duration-units) — a parser that misreads either
    * field breaks the hash. timescale varies 600/1000/90000 (film,
    * ms, MPEG-TS-style clocks) so a fixed-denominator shortcut fails
    * two of three residues; duration_ms is a multiple of 40, so
    * units = ms·ts/1000 is exact in every residue. */
  private def mp4Fixture(id: Long, text: String): Array[Byte] = {
    val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ts = (id % 3) match { case 0 => 600; case 1 => 1000; case _ => 90000 }
    val durMs = (data.length + 8).toLong * 40L
    val w = 320 + (id % 5).toInt * 16
    val h = 180 + (id % 7).toInt * 16
    graft.multimodal.Mp4Codec.writeMp4(ts, durMs * ts / 1000L, w, h, data)
  }

  /** Video container metadata through the REAL ISO-BMFF box walker —
    * the video twin of [[mmWavMeta]]/[[mmImageMeta]] (r7 verdict #5,
    * the last deterministic fake de-stubbed): each video-class doc
    * (doc_id%7==3, the mp4 residue) materializes as a complete MP4
    * ([[mp4Fixture]]) and every reported column comes from
    * [[graft.multimodal.Mp4Codec.parseMp4]] WALKING THE ACTUAL BYTES
    * (ftyp brand, mvhd timescale/duration, tkhd 16.16 dimensions,
    * top-level box count). The DuckDB oracle replays the closed form
    * the encoder embedded — wrong endianness, fixed-offset peeking,
    * or a 16.16 slip hash-fails. duration_ms = units·1000/timescale
    * (floor), the exact arithmetic a demuxer performs.
    *
    * Scale shape: map-only per payload; container bytes never
    * shuffle — parsed scalars do. One output sort. */
  val mmMp4Meta: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 === 3)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val m = graft.multimodal.Mp4Codec.parseMp4(mp4Fixture(id, text))
          .getOrElse(sys.error(s"unparseable MP4 for media $id"))
        (id, m.majorBrand, m.timescale, m.durationUnits, m.durationMs,
          m.width.toLong, m.height.toLong, m.nTopBoxes.toLong)
      }
      .toDF("media_id", "major_brand", "timescale", "duration_units",
        "duration_ms", "width", "height", "n_boxes")
      .orderBy($"media_id")
  }

  /** Deterministic JPEG-with-EXIF for a photo-class doc — the fixture
    * behind [[mmExifMeta]] (the mp4Fixture discipline): a real JPEG
    * marker stream (SOI, a COM segment the walker must skip, the APP1
    * `Exif\0\0` segment holding a complete TIFF IFD0, EOI) whose
    * fields are closed forms of doc_id. Byte order alternates II/MM
    * by parity, so HALF the corpus hash-fails under a parser that
    * assumes one endianness; the six IFD entries exercise inline
    * LONG/SHORT/ASCII and out-of-line ASCII/RATIONAL storage. */
  private def exifFixture(id: Long): Array[Byte] =
    graft.multimodal.ExifCodec.writeJpegExif(
      littleEndian = id % 2 == 0,
      width = 640 + (id % 9).toInt * 32,
      height = 360 + (id % 5).toInt * 24,
      orientation = 1 + (id % 8).toInt,
      make = "CAM-" + (id % 4),
      software = "g" + (id % 10),
      xresNum = 72L + (id % 3) * 78L,
      xresDen = 1L + (id % 2))

  /** Camera metadata through the REAL JPEG/EXIF walker — the photo
    * twin of [[mmWavMeta]]/[[mmMp4Meta]]: each photo-class doc
    * (doc_id%7==4, a residue the other media classes don't use)
    * materializes as a complete JPEG ([[exifFixture]]) and every
    * reported column comes from
    * [[graft.multimodal.ExifCodec.parseExif]] WALKING THE ACTUAL
    * BYTES — marker scan to APP1, embedded-TIFF byte-order dispatch
    * (II/MM alternates by doc parity), IFD0 entry walk across all
    * four value-storage shapes. The DuckDB oracle replays the closed
    * forms the encoder embedded, so a fixed-endianness shortcut, a
    * right-justified inline read, or a file-relative (instead of
    * TIFF-relative) offset hash-fails half or all of the rows.
    * Training pipelines key on exactly these fields: orientation for
    * pixel-space normalization, make/software for provenance slices,
    * resolution for quality gates.
    *
    * Scale shape: map-only per payload; payload bytes never shuffle —
    * parsed scalars do. One output sort. */
  val mmExifMeta: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 === 4)
      .select($"doc_id").as[Long]
      .map { id =>
        val m = graft.multimodal.ExifCodec.parseExif(exifFixture(id))
          .getOrElse(sys.error(s"unparseable EXIF for media $id"))
        (id, m.byteOrder, m.width, m.height, m.orientation.toLong,
          m.make, m.software, m.xresNum, m.xresDen, m.nEntries.toLong)
      }
      .toDF("media_id", "byte_order", "width", "height", "orientation",
        "make", "software", "xres_num", "xres_den", "n_entries")
      .orderBy($"media_id")
  }

  /** Deterministic JPEG with Exif+GPS SUB-IFDs for a photo-class doc
    * — the fixture behind [[mmExifGps]] (the exifFixture discipline,
    * one hop deeper): IFD0 carries the 0x8769/0x8825 pointers, the
    * Exif sub-IFD holds ISO + DateTimeOriginal, the GPS IFD holds
    * hemisphere refs + DMS RATIONAL[3] coordinates. All closed forms
    * of doc_id; byte order alternates by parity. */
  private def exifGpsFixture(id: Long): Array[Byte] =
    graft.multimodal.ExifCodec.writeJpegExifGps(
      littleEndian = id % 2 == 0,
      iso = 100 * (1 + (id % 6).toInt),
      dtOriginal = f"2023:${1 + id % 12}%02d:${1 + id % 28}%02d 12:34:56",
      latRef = if (id % 4 < 2) "N" else "S",
      lat = Seq((id % 90, 1L), (id % 60, 1L), ((id * 3) % 600, 10L)),
      lonRef = if (id % 3 == 0) "E" else "W",
      lon = Seq((id % 180, 1L), ((id * 7) % 60, 1L), ((id * 13) % 600, 10L)))

  /** Camera EXIF one hop DEEPER than [[mmExifMeta]] (r8 verdict #5):
    * the fields real pipelines key on — ISO and DateTimeOriginal
    * (capture-time dedup/provenance) and the GPS coordinates
    * (geo-slicing, privacy scrubbing) — live in the Exif sub-IFD
    * (pointer tag 0x8769) and the GPS IFD (0x8825), one pointer hop
    * below IFD0. Every reported column comes from
    * [[graft.multimodal.ExifCodec.parseExifGps]] WALKING THE ACTUAL
    * BYTES: IFD0 pointer discovery, loop-guarded sub-IFD walks
    * (a self-referencing pointer terminates — ExifSpec), DMS
    * RATIONAL[3] reads. Decimal degrees = deg + min/60 + sec/3600
    * computed from the parsed rationals with the identical IEEE
    * association the oracle replays. Byte order alternates by doc
    * parity, so a fixed-endianness parser hash-fails half the rows.
    *
    * Scale shape: map-only per payload; one output sort. */
  val mmExifGps: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 === 4)
      .select($"doc_id").as[Long]
      .map { id =>
        val g = graft.multimodal.ExifCodec.parseExifGps(exifGpsFixture(id))
          .getOrElse(sys.error(s"unparseable EXIF GPS for media $id"))
        def deg(r: Seq[Long]): Double =
          r(0).toDouble / r(1) + (r(2).toDouble / r(3)) / 60.0 +
            (r(4).toDouble / r(5)) / 3600.0
        (id, g.byteOrder, g.iso.toLong, g.dtOriginal, g.latRef, g.lonRef,
          deg(g.lat), deg(g.lon),
          g.nExifEntries.toLong, g.nGpsEntries.toLong)
      }
      .toDF("media_id", "byte_order", "iso", "dt_original", "lat_ref",
        "lon_ref", "lat_raw", "lon_raw", "n_exif", "n_gps")
      .select($"media_id", $"byte_order", $"iso", $"dt_original",
        $"lat_ref", $"lon_ref",
        rnd($"lat_raw", 6).as("lat_deg"), rnd($"lon_raw", 6).as("lon_deg"),
        $"n_exif", $"n_gps")
      .orderBy($"media_id")
  }

  /** Deterministic sampled MP4 for a video-class doc — the fixture
    * behind [[mmMp4Samples]]: real stbl boxes whose runs are closed
    * forms of (doc_id, payload length). n ∈ [2,14] samples in two
    * stts runs (deltas ts/100 then ts/50 — integers in every
    * timescale residue), sync samples every 3rd starting at 1,
    * codec fourcc by residue. mvhd duration derives from the runs. */
  private def mp4SampledFixture(id: Long, text: String): Array[Byte] = {
    val data = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ts = (id % 3) match { case 0 => 600; case 1 => 1000; case _ => 90000 }
    val n = 2 + (data.length % 13)
    val n1 = (n + 1) / 2
    val runs = Seq((n1, ts / 100)) ++
      (if (n - n1 > 0) Seq((n - n1, ts / 50)) else Seq.empty)
    val syncs = (1 to n by 3).toSeq
    val codec = (id % 3) match {
      case 0 => "avc1"; case 1 => "hev1"; case _ => "vp09"
    }
    // per-sample byte sizes cycle 3..7 (closed form 3 + (i−1)%5);
    // mdat holds the samples contiguously, 2 per chunk (r9, the
    // mm_mp4_byteranges leg — mm_mp4_samples reads none of this)
    val sizes = (1 to n).map(i => 3 + ((i - 1) % 5))
    val mdat = Array.tabulate(sizes.sum)(i => ((id + i) & 0xff).toByte)
    graft.multimodal.Mp4Codec.writeMp4Sampled(
      ts, 320 + (id % 5).toInt * 16, 180 + (id % 7).toInt * 16,
      codec, runs, syncs, mdat, sizes)
  }

  /** KEYFRAME schedule from the REAL sample tables (r8 verdict #4):
    * where [[mmFrameSample]] schedules off the mvhd duration, a
    * seek-accurate sampler must fetch SYNC samples — `stss` names
    * them, `stts` places them in time — because a decoder can only
    * start at a keyframe. Each video doc materializes as a complete
    * sampled MP4 ([[mp4SampledFixture]]) and every column comes from
    * [[graft.multimodal.Mp4Codec.parseMp4Samples]] WALKING THE
    * ACTUAL BYTES: moov→trak→mdia→minf→stbl descent, stsd fourcc,
    * stts run decode (hostile counts capped to the box body —
    * Mp4Spec), stss sync list, and ts_ms = stts-prefix-sum · 1000 /
    * timescale — the exact placement a demuxer computes. The oracle
    * replays the closed forms the writer embedded, so a parser that
    * misreads a run boundary or places syncs by duration arithmetic
    * hash-fails.
    *
    * Scale shape: map-only per payload (the per-doc sync explode is
    * bounded by the sample count); one output sort. */
  val mmMp4Samples: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 === 3)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val m = graft.multimodal.Mp4Codec.parseMp4Samples(mp4SampledFixture(id, text))
          .getOrElse(sys.error(s"unparseable sampled MP4 for media $id"))
        m.syncSamples.map { i =>
          (id, m.codec, m.nSamples, m.syncSamples.length.toLong, i,
            m.unitsBefore(i) * 1000L / m.timescale)
        }
      }
      .toDF("media_id", "codec", "n_samples", "n_sync", "sync_idx", "ts_ms")
      .orderBy($"media_id", $"sync_idx")
  }

  /** KEYFRAME BYTE RANGES from the real chunk tables (r9 — the fetch
    * side of [[mmMp4Samples]]'s schedule): knowing WHEN to sample is
    * half the job; a remote sampler must also know WHICH BYTES to
    * request, and that lives in stsz (per-sample sizes) + stsc
    * (sample→chunk runs) + stco (absolute chunk offsets). Every
    * column comes from [[graft.multimodal.Mp4Codec.parseMp4Samples]]
    * walking the actual bytes and `byteRangeOf` resolving each sync
    * sample through the REAL stsc run walk (chunk = run's
    * first_chunk + remainder arithmetic) plus the intra-chunk size
    * prefix — and because the writer records stco from the ASSEMBLED
    * buffer's true positions, a parser that miscounts any box length
    * upstream of mdat hash-fails on every offset. The oracle states
    * the offsets in closed form (cyclic sizes → arithmetic prefix
    * sums; the container prologue length is a linear function of the
    * table sizes).
    *
    * Scale shape: map-only per payload; one output sort. */
  val mmMp4ByteRanges: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 === 3)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val m = graft.multimodal.Mp4Codec.parseMp4Samples(mp4SampledFixture(id, text))
          .getOrElse(sys.error(s"unparseable sampled MP4 for media $id"))
        m.syncSamples.map { i =>
          val (chunk, off, len) = m.byteRangeOf(i)
            .getOrElse(sys.error(s"unresolvable byte range $i for media $id"))
          (id, i, chunk, off, len)
        }
      }
      .toDF("media_id", "sync_idx", "chunk_idx", "byte_off", "n_bytes")
      .orderBy($"media_id", $"sync_idx")
  }

  /** Video frame-sampling PLAN: for every video payload (the mp4
    * residue class, doc_id%7==3), read its duration from the REAL
    * container — [[mp4Fixture]] bytes through
    * [[graft.multimodal.Mp4Codec.parseMp4]], duration_ms =
    * mvhd units·1000/timescale (r7 verdict #5: the schedule now
    * consumes an actual header field, not a payload-size stand-in) —
    * and emit the frames a decoder should fetch: one every 2 s
    * starting at t=1 s, capped at 8 per video — the standard
    * sparse-sampling schedule for video-understanding training data.
    * The parse is map-only per payload; the schedule explode
    * (sequence inside the projection) shuffles only at the output
    * sort; the stubbed decode consumes (media_id, ts_ms) pairs
    * exactly as a real frame extractor would. Frame count and
    * timestamps stay pure integer arithmetic, so the oracle replays
    * the schedule exactly. */
  val mmFrameSample: QueryFn = (s, dir) => {
    import s.implicits._
    val vids = Tables.documents(s, dir)
      .where($"doc_id" % 7 === 3)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val m = graft.multimodal.Mp4Codec.parseMp4(mp4Fixture(id, text))
          .getOrElse(sys.error(s"unparseable MP4 for media $id"))
        (id, m.durationMs)
      }
      .toDF("media_id", "duration_ms")
      .select($"media_id", $"duration_ms",
        (floor(($"duration_ms" - 1001) / 2000.0) + 1).cast("long").as("nf"))
      .where($"nf" >= 1)
      .select($"media_id", $"duration_ms",
        least($"nf", lit(8L)).cast("int").as("n_frames"))
    vids
      .select($"media_id", $"duration_ms", $"n_frames".cast("long").as("n_frames"),
        explode(sequence(lit(1), $"n_frames")).as("frame_idx"))
      .select($"media_id", $"duration_ms", $"n_frames",
        $"frame_idx".cast("long").as("frame_idx"),
        (lit(1000L) + ($"frame_idx" - 1).cast("long") * 2000L).as("ts_ms"))
      .orderBy($"media_id", $"frame_idx")
  }

  /** VAD-style audio segmentation PLAN — the audio twin of
    * [[mmFrameSample]]'s video schedule: each audio payload (the
    * RIFF residue class, doc_id%7==2) splits into 20 ms frames, a
    * deterministic per-frame "energy" gate marks silence (frame
    * digest ≡ 0 mod 8 — a real VAD's energy threshold drops into
    * the same column), and maximal runs of voiced frames become the
    * segments a transcription pipeline would dispatch. The run
    * detection is the SQL islands pattern: group = frame_idx −
    * row_number over voiced frames — gaps break the arithmetic
    * progression, so each island gets a distinct group key with no
    * iteration.
    *
    * Map-only until the (media, island) fold; windows run per media
    * over frame counts, never payload bytes. Frame digests replay in
    * SQL (FNV), so the whole schedule hash-verifies. */
  val mmAudioSegments: QueryFn = (s, dir) => {
    import s.implicits._
    val audio = Tables.documents(s, dir)
      .where($"doc_id" % 7 === 2 && length($"text") >= 64)
      .select($"doc_id".as("media_id"), $"text".as("t"),
        length($"text").cast("long").as("len"))
    val frames = audio
      .select($"media_id",
        posexplode(graft.functions.VectorExpressions.fnv_shingles(
          transform(sequence(lit(0), (($"len" - 1) / 64).cast("int")),
            i => $"t".substr(i * 64 + 1, lit(64))), 1)))
      .select($"media_id", ($"pos" + 1).as("fi"),
        (pmod($"col", lit(8L)) === 0).as("silent"))
    val w = Window.partitionBy($"media_id").orderBy($"fi")
    val islands = frames.where(!$"silent")
      .withColumn("grp", $"fi" - row_number().over(w))
      .groupBy($"media_id", $"grp")
      .agg(min($"fi").as("f0"), max($"fi").as("f1"), count(lit(1)).as("n_frames"))
    islands
      .withColumn("seg", row_number().over(
        Window.partitionBy($"media_id").orderBy($"f0")).cast("long"))
      .select($"media_id", $"seg",
        (($"f0" - 1) * 20).cast("long").as("start_ms"),
        ($"f1" * 20).cast("long").as("end_ms"), $"n_frames")
      .orderBy($"media_id", $"seg")
  }

  /** Audio metadata extraction through a REAL header parser — the
    * de-stubbed multimodal corner (r5 verdict #7): each audio-class
    * payload (doc_id%7==2, the RIFF residue) is materialized as a
    * complete PCM WAV — deterministic sample rate 8/12/16 kHz by
    * doc_id residue, mono 16-bit, the text bytes as the data chunk —
    * and the reported columns come from
    * [[graft.multimodal.WavCodec.parseWav]] WALKING THE ACTUAL BYTES
    * (RIFF → fmt → data chunk traversal), not from the generation
    * arithmetic. The DuckDB oracle replays the closed form the
    * header ENCODES, so a parser that misreads any field — wrong
    * endianness, fixed-offset peeking, stale data size — hash-fails.
    * duration_ms = data_bytes·1000/byteRate (floor), and the VAD
    * frame budget at 20 ms/frame is what a segmentation pass
    * dispatches on.
    *
    * Scale shape: map-only per payload (Dataset map through the same
    * mapPartitions-class seam as the codec featurize), one output
    * sort. Payload bytes never shuffle — parsed scalars do. */
  val mmWavMeta: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 === 2)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        // one payload byte per Unicode CODE POINT (low 8 bits) — the unit
        // the oracle's length() counts, so data_bytes/duration_ms stay in
        // sync even for non-BMP text (ISO_8859_1 getBytes would emit one
        // byte per UTF-16 unit and desync on surrogate pairs)
        val cps = text.codePoints().toArray
        val data = new Array[Byte](cps.length)
        var ci = 0
        while (ci < cps.length) { data(ci) = (cps(ci) & 0xff).toByte; ci += 1 }
        val sr = 8000 + (id % 3).toInt * 4000
        val wav = graft.multimodal.WavCodec.writeWav(sr, 1, 16, data)
        val m = graft.multimodal.WavCodec.parseWav(wav).getOrElse(
          sys.error(s"unparseable WAV for media $id"))
        (id, m.channels.toLong, m.sampleRateHz.toLong, m.bitsPerSample.toLong,
          m.dataBytes, m.durationMs, m.durationMs / 20L)
      }
      .toDF("media_id", "n_channels", "sample_rate", "bits", "data_bytes",
        "duration_ms", "n_vad_frames")
      .orderBy($"media_id")
  }

  /** Image metadata extraction through REAL JDK ImageIO decode — the
    * image twin of [[mmWavMeta]] (r6 verdict #5): each image-class
    * payload (doc_id%7 ∈ {0,1} — the JPEG/PNG residues) is
    * materialized as a complete encoded image (deterministic
    * test-card, dimensions a closed form of doc_id and the text
    * length, container PNG/BMP/JPEG by doc_id residue), and every
    * reported column comes from DECODING THE ACTUAL BYTES with
    * `javax.imageio`: `format` is the name of the ImageReader that
    * claimed the stream from its magic bytes, width/height/pixel sums
    * come from the decoded raster. The DuckDB oracle replays the
    * closed form the encoder embedded — a decoder that misreads a
    * header or loses a row of pixels hash-fails. `sum_luma` (exact
    * pixel-luminance sum, closed form h·w(w−1)/2 + w·h(h−1)/2 +
    * w·h·(id%64)) verifies LOSSLESS rasters end-to-end; JPEG rows
    * report NULL there (lossy by design — their perceptual fidelity
    * is spec-asserted via the real aHash instead, ImageSpec).
    *
    * Scale shape: map-only per payload; encoded bytes never shuffle —
    * parsed scalars do. One output sort. */
  val mmImageMeta: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 <= 1)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        // code-point count = the oracle's length(text) for ANY input
        // (the mm_wav_meta encoding-desync lesson, applied from day 1)
        val len = text.codePointCount(0, text.length).toLong
        val w = 8 + (len % 32).toInt
        val h = 8 + (id % 24).toInt
        val fmt = (id % 3).toInt match {
          case 0 => "png"; case 1 => "bmp"; case _ => "jpeg"
        }
        val bytes = graft.multimodal.ImageCodec.encode(
          graft.multimodal.ImageCodec.renderGray(id, w, h), fmt)
        val d = graft.multimodal.ImageCodec.decode(bytes).getOrElse(
          sys.error(s"undecodable image for media $id"))
        (id, d.format, d.width.toLong, d.height.toLong,
          d.width.toLong * d.height,
          if (d.format == "jpeg") None
          else Some(graft.multimodal.ImageCodec.sumLuma(d.image)))
      }
      .toDF("media_id", "format", "width", "height", "n_pixels", "sum_luma")
      .orderBy($"media_id")
  }

  /** True perceptual hash over REAL decoded pixels, HASH-VERIFIED —
    * the step past [[mmImageMeta]] (header facts) and the byte-level
    * stand-in `mm_phash_neardup`: each image doc renders a
    * deterministic 32×32 blocky pattern (8×8 cells, cell c bright ⇔
    * fnv64("img:id:c") is even — the fixture discipline), encodes to
    * REAL PNG bytes, decodes them back through `javax.imageio`, and
    * computes the TRUE 8×8 block-mean-luminance aHash from the
    * decoded raster. Because 32 divides by 8 and PNG is lossless,
    * the aHash has a closed form the DuckDB oracle replays exactly:
    * bit c = 1 ⇔ cell c bright AND not all 64 bright (a bright cell
    * clears the global mean iff any dark cell exists; block means
    * and the ÷64 global mean are exact dyadic doubles, so the
    * comparison is deterministic). Any decoder pixel slip or aHash
    * cell-mapping bug hash-fails. The 64-bit value ships as two
    * unsigned 32-bit BIGINT halves — the one integer width both
    * engines' parquet/pandas paths render identically.
    *
    * Scale shape: map-only per payload (render+encode+decode+hash in
    * one task); 8-byte signatures shuffle to the output sort, pixels
    * never do. */
  val mmImagePhash: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 <= 1)
      .select($"doc_id").as[Long]
      .map { id =>
        val img = new java.awt.image.BufferedImage(
          32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 32) {
          var x = 0
          while (x < 32) {
            val c = (y * 8 / 32) * 8 + (x * 8 / 32)
            // DOUBLE-hashed bit: FNV-1a is multiplicatively
            // structured — a shared id-digit difference propagates as
            // the SAME integer delta across every cell string, leaving
            // single extracted bits correlated between ids (measured:
            // whole-pattern collisions). Re-hashing the decimal
            // expansion of the first hash destroys that linearity
            // (measured min pairwise pattern hamming 16/64, mean 32).
            val bright = ((graft.functions.Hashes.fnv64(
              java.lang.Long.toUnsignedString(
                graft.functions.Hashes.fnv64(s"img:$id:$c"))) >>> 32) & 1L) == 0L
            val v = if (bright) 230 else 25
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bytes = graft.multimodal.ImageCodec.encode(img, "png")
        val d = graft.multimodal.ImageCodec.decode(bytes).getOrElse(
          sys.error(s"undecodable phash fixture for media $id"))
        val h = graft.multimodal.ImageCodec.aHash(d.image)
        (id, h, java.lang.Long.bitCount(h).toLong)
      }
      .toDF("media_id", "h", "n_bits")
      .select($"media_id",
        shiftrightunsigned($"h", 32).as("ph_hi"),
        $"h".bitwiseAND(lit(0xFFFFFFFFL)).as("ph_lo"),
        $"n_bits")
      .orderBy($"media_id")
  }

  /** Image RESIZE through the full real-bytes pipeline (r9 — the
    * resize leg of the multimodal surface, until now implicit inside
    * aHash): decode actual container bytes with `javax.imageio`, box-
    * downsample ×2 with EXACT integer means over the decoded raster
    * (crop-to-multiple first — partial edge blocks would make the
    * floor data-dependent), re-ENCODE the thumbnail through the same
    * container, decode it AGAIN, and report the second decode's
    * dimensions and exact luma sum. Two full encode/decode round
    * trips bracket the resample, so a lossy writer, a stride bug, or
    * a mean that truncates differently all hash-fail. Lossless
    * containers only (png/bmp — the jpeg residue is excluded exactly
    * as mm_image_meta NULLs its sum). The test-card's box mean has
    * the closed form out(X,Y) = 2X + 2Y + (id%64) + 1, so the oracle
    * states the thumbnail's luma sum without a pixel loop.
    *
    * Scale shape: map-only per payload; one output sort. */
  val mmImageResize: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir)
      .where($"doc_id" % 7 <= 1 && $"doc_id" % 3 <= 1)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val len = text.codePointCount(0, text.length).toLong
        val w = 8 + (len % 32).toInt
        val h = 8 + (id % 24).toInt
        val fmt = if (id % 3 == 0) "png" else "bmp"
        val bytes = graft.multimodal.ImageCodec.encode(
          graft.multimodal.ImageCodec.renderGray(id, w, h), fmt)
        val d = graft.multimodal.ImageCodec.decode(bytes).getOrElse(
          sys.error(s"undecodable image for media $id"))
        val small = graft.multimodal.ImageCodec.boxDownsample(d.image, 2)
        val d2 = graft.multimodal.ImageCodec.decode(
          graft.multimodal.ImageCodec.encode(small, fmt)).getOrElse(
          sys.error(s"undecodable thumbnail for media $id"))
        (id, d.width.toLong, d.height.toLong,
          d2.width.toLong, d2.height.toLong,
          graft.multimodal.ImageCodec.sumLuma(d2.image))
      }
      .toDF("media_id", "in_w", "in_h", "out_w", "out_h", "sum_luma")
      .orderBy($"media_id")
  }

  /** Image near-duplicate detection over REAL decoded pixels — the
    * full banded dedup pass on top of [[mmImagePhash]]'s hash: the
    * registry carries the base image corpus plus DERIVED variants
    * (every 5th image doc gets a copy at id+10⁷ with ~4 of its 64
    * cells deterministically flipped — the "slightly re-edited
    * thumbnail" ground truth), every hash computed by render → PNG →
    * `javax.imageio` decode → true block-mean aHash, then the
    * simhash pigeonhole: four 16-bit bands generate candidates
    * through the [[Blocking]] anchor cap and exact Hamming verifies.
    * Because cell flips move single aHash bits (values stay in
    * {25, 230}, so bit = brightness whenever both shades exist), the
    * DuckDB oracle replays the ENTIRE pass closed-form — bits, band
    * values, capped admission, Hamming — and any decoder pixel slip
    * breaks the hash compare.
    *
    * Scale shape: decode+hash map-only; 4 band keys per media
    * shuffle (8-byte signatures, never pixels); Hamming on admitted
    * candidates only. */
  val mmImageNeardup: QueryFn = (s, dir) => {
    import s.implicits._
    val (phWords, phBandBits, phTau) = phashGeometryFor(s, dir)
    val imgIds = Tables.documents(s, dir).where($"doc_id" % 7 <= 1)
      .select($"doc_id")
    // the registry KNOWS which rows are derived — the dirty flag and
    // base id ride the union as columns rather than being re-derived
    // from a numeric id threshold inside the map (r7 advice: StressGen
    // corpora carry base doc_ids at r·2·10⁷ offsets, which a
    // `media_id >= 10⁷` test misclassifies wholesale, silently
    // degenerating the planted near-dup population)
    val reg = imgIds
      .select($"doc_id".as("media_id"), lit(false).as("dirty"),
        $"doc_id".as("base_id"))
      .unionByName(imgIds.where($"doc_id" % 5 === 2)
        .select(($"doc_id" + 10000000L).as("media_id"), lit(true).as("dirty"),
          $"doc_id".as("base_id")))
    val hashed = reg.as[(Long, Boolean, Long)].map { case (mid, dirty, id) =>
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 32) {
        var x = 0
        while (x < 32) {
          val c = (y * 8 / 32) * 8 + (x * 8 / 32)
          // double-hashed bits — see mmImagePhash's comment
          var bright = ((graft.functions.Hashes.fnv64(
            java.lang.Long.toUnsignedString(
              graft.functions.Hashes.fnv64(s"img:$id:$c"))) >>> 32) & 1L) == 0L
          if (dirty && ((graft.functions.Hashes.fnv64(
              java.lang.Long.toUnsignedString(
                graft.functions.Hashes.fnv64(s"flip:$id:$c"))) >>> 32) & 15L) == 0L)
            bright = !bright
          val v = if (bright) 230 else 25
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bytes = graft.multimodal.ImageCodec.encode(img, "png")
      val d = graft.multimodal.ImageCodec.decode(bytes).getOrElse(
        sys.error(s"undecodable neardup fixture for media $mid"))
      (mid, graft.multimodal.ImageCodec.aHashGrid(d.image, phWords).toSeq)
    }.toDF("media_id", "hs")
      // pinned: the band explode and BOTH verify joins read this, and
      // each row costs a real encode+decode
      .transform(Checkpoints.cut)
    // band keys under the [[phashGeometry]] dial (default: the
    // historical four 16-bit bands of the one-word 8x8 aHash; wide:
    // four 32-bit bands of the 8x16 grid — same content cells per
    // band, 2^16 deeper keys)
    val bb = phBandBits
    val perWord = 64 / bb
    val mask = if (bb == 64) -1L else (1L << bb) - 1
    val bands = hashed.select($"media_id", explode(array((for {
      w <- 0 until phWords; c <- 0 until perWord
    } yield concat_ws(":", lit(w * perWord + c),
      shiftrightunsigned(element_at($"hs", w + 1), c * bb)
        .bitwiseAND(lit(mask)))): _*)).as("key"))
    val cand = Blocking.cappedPairs(
      bands, "media_id", "ma", "mb", Blocking.DefaultCap)
    cand.join(hashed.select($"media_id".as("ma"), $"hs".as("sa")), "ma")
      .join(hashed.select($"media_id".as("mb"), $"hs".as("sb")), "mb")
      .select($"ma".as("media_a"), $"mb".as("media_b"),
        expr("aggregate(zip_with(sa, sb, (x, y) -> cast(bit_count(x ^ y) as bigint)), 0L, (acc, v) -> acc + v)")
          .as("hamming"))
      .where($"hamming" <= phTau.toLong)
      .orderBy($"media_a", $"media_b")
  }

  /** WebVTT cue extraction — the SUBTITLE/caption text track of the
    * video modality (next to mm_mp4_samples' frame schedule: the
    * container says where frames are, the VTT track says what is
    * SAID when — the alignment a caption-training pipeline consumes).
    * Every %7==5 doc gets a deterministic VTT payload written by
    * [[graft.multimodal.Vtt.formatTs]] and read back by the REAL
    * [[graft.multimodal.Vtt.parse]]: both timestamp shapes (hourful
    * on even ids, hour-less on odd — a one-shape parser hash-fails),
    * CRLF line endings on id%4==2, NOTE blocks, optional cue-id
    * lines on odd cues, cue settings after the arrow on even cues,
    * 1-vs-2-line payloads, and a MALFORMED trailing cue on id%6==0
    * that must be skipped whole (keeping it adds a row — hash fail).
    * The oracle constructs the kept cues closed-form from the
    * residues; every parser slip (mis-timed ms, kept settings text,
    * swallowed second line, unskipped NOTE) lands on a value.
    *
    * Scale shape: map-only parse per payload (text-track files are
    * KB-scale); the only exchange is the output sort. */
  /** The deterministic VTT payload behind [[mmVttCues]] AND
    * [[mmCaptionAlign]] — one builder so the two consumers can never
    * drift (both parse the SAME bytes; the oracle states the same
    * closed-form cue schedule for both). */
  private[operators] def vttFixture(id: Long): String = {
    val nl = if (id % 4 == 2) "\r\n" else "\n"
    val sb = new StringBuilder
    sb.append("WEBVTT").append(nl).append(nl)
    sb.append("NOTE generated fixture").append(nl)
      .append("meta " + id).append(nl).append(nl)
    val n = 2 + (id % 5).toInt
    val base = (id % 3) * 400
    for (i <- 1 to n) {
      val st = base + (i - 1) * 2500L
      val en = st + 1500 + 100 * (i % 4)
      val short = id % 2 == 1
      if (i % 2 == 1) sb.append(s"c$i").append(nl)
      sb.append(graft.multimodal.Vtt.formatTs(st, short))
        .append(" --> ")
        .append(graft.multimodal.Vtt.formatTs(en, short))
      if (i % 2 == 0) sb.append(" align:start line:0")
      sb.append(nl)
      sb.append(s"cue $i of media $id").append(nl)
      if (i % 2 == 0) sb.append("line two").append(nl)
      sb.append(nl)
    }
    if (id % 6 == 0) {
      sb.append("bad").append(nl)
        .append("99:99 --> nonsense").append(nl)
        .append("dropped payload").append(nl)
    }
    sb.toString
  }

  val mmVttCues: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).where($"doc_id" % 7 === 5)
      .select($"doc_id").as[Long]
      .flatMap { id =>
        graft.multimodal.Vtt.parse(vttFixture(id)).map { c =>
          (id, c.idx.toLong, c.startMs, c.endMs, c.endMs - c.startMs,
            c.lines.length.toLong, c.lines.mkString(" / "))
        }
      }
      .toDF("media_id", "cue_idx", "start_ms", "end_ms", "dur_ms",
        "n_lines", "text")
      .orderBy($"media_id", $"cue_idx")
  }

  /** Caption-to-frame ALIGNMENT — the multimodal JOIN a
    * caption-training pipeline actually computes: which sampled
    * video frame does each subtitle cue describe? Cues come from the
    * REAL VTT parse (the [[vttFixture]] bytes, shared with
    * [[mmVttCues]]); the frame schedule is the sparse sampler's
    * (every 2 s from t=1 s, capped at 8 — the [[mmFrameSample]]
    * discipline) over a duration of last-cue-end + 1 s; the match is
    * the engine's own [[graft.operators.AsOf.asofBackward]] — latest
    * frame at-or-before the cue start, per media — while the oracle
    * uses DuckDB's native ASOF LEFT JOIN over the closed-form
    * schedules, so the check is independent of the operator under
    * test. Every media's FIRST cue starts before the first frame
    * (base < 1000 ms), so the null/no-prior-frame path is exercised
    * on every row group.
    *
    * Scale shape: parse and schedule are map-only; the as-of is one
    * shuffle of |cues|+|frames| on media_id with a running window —
    * the operator's standing sort-merge shape. One output sort. */
  val mmCaptionAlign: QueryFn = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).where($"doc_id" % 7 === 5)
      .select($"doc_id").as[Long]
    val cues = media.flatMap { id =>
      graft.multimodal.Vtt.parse(vttFixture(id)).map { c =>
        (id, c.idx.toLong, c.startMs)
      }
    }.toDF("media_id", "cue_idx", "start_ms")
    val frames = media
      .flatMap { id =>
        val n = 2 + (id % 5)
        val dur = (id % 3) * 400 + (n - 1) * 2500 + 1500 + 100 * (n % 4) + 1000
        (0 to 7).map(k => (id, 1000L + 2000L * k)).filter(_._2 < dur)
      }
      .toDF("media_id", "frame_ms")
    AsOf.asofBackward(cues, frames,
      key = "media_id", leftTime = "start_ms", rightTime = "frame_ms",
      payload = Seq("frame_ms"))
      .select($"media_id", $"cue_idx", $"start_ms", $"frame_ms",
        ($"start_ms" - $"frame_ms").as("lag_ms"))
      .orderBy($"media_id", $"cue_idx")
  }

  /** PNG CONTAINER walk over real encoder output — the structural
    * triage a 100 TB image corpus runs before (or instead of) any
    * pixel decode: chunk framing, IHDR scalars, per-chunk CRC-32
    * validation, `tEXt` provenance metadata, and the corruption
    * classes transit actually produces. Each %7==3 doc encodes a
    * deterministic test card through the REAL `javax.imageio` PNG
    * writer, then a residue class mutates the bytes:
    * id%6==0 gets a `tEXt` chunk framed by [[graft.multimodal.Png
    * .insertText]] (our CRC — the walker must verify a chunk we
    * framed, not trust the encoder), id%6==1 flips an IHDR CRC byte
    * (counted, walk continues — ancillary corruption must not hide
    * the table), id%6==2 truncates mid-IEND, id%6==3 breaks the
    * signature. The oracle states every field closed-form from the
    * residues, so a walker slip — a swallowed bad-CRC chunk, scalars
    * dropped on truncation, a tEXt keyword split at the wrong NUL —
    * lands on a value. The encoder's choices (8-bit truecolor,
    * no interlace) are pinned: a JDK that changed them would fail
    * loudly here AND in PngSpec, which is the desired alarm.
    *
    * Scale shape: map-only per payload (encode+mutate+walk in one
    * task, no pixel decode); the only exchange is the output sort. */
  val mmPngMeta: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).where($"doc_id" % 7 === 3)
      .select($"doc_id").as[Long]
      .map { id =>
        val w = 8 + (id % 16).toInt
        val h = 8 + (id % 10).toInt
        val clean = graft.multimodal.ImageCodec.encode(
          graft.multimodal.ImageCodec.renderGray(id, w, h), "png")
        val bytes = (id % 6) match {
          case 0 => graft.multimodal.Png.insertText(clean, "src", s"doc$id")
          case 1 =>
            val b = clean.clone()
            // sig(8) + len(4) + type(4) + ihdr data(13) = first crc byte
            b(29) = (b(29) ^ 0x5A).toByte
            b
          case 2 => clean.dropRight(7) // mid-IEND cut
          case 3 => val b = clean.clone(); b(0) = 0x00; b
          case _ => clean
        }
        val m = graft.multimodal.Png.parse(bytes)
        (id, m.status, m.width.map(_.toLong), m.height.map(_.toLong),
          m.bitDepth.map(_.toLong), m.colorType.map(_.toLong),
          m.interlace.map(_.toLong),
          m.texts.length.toLong,
          m.texts.headOption.map { case (k, v) => s"$k=$v" },
          m.badCrcCount.toLong, m.sawIend)
      }
      .toDF("media_id", "status", "width", "height", "bit_depth",
        "color_type", "interlace", "n_text", "text_kv", "n_bad_crc",
        "saw_iend")
      .orderBy($"media_id")
  }

  /** JPEG/JFIF segment walk over real encoder output — the dominant
    * byte format of any web image corpus, triaged structurally (the
    * [[mmPngMeta]] discipline): marker framing with LENGTHLESS
    * standalone markers and FF fill bytes (the two desync classes a
    * naive reader hits first), SOF scalars (dims, precision,
    * component count, baseline-vs-progressive — the decode-cost
    * split), JFIF version, Exif presence, the COM provenance text
    * taggers splice after SOI, and the entropy-scan to EOI that must
    * skip FF00 stuffing and RST markers or it ends the image early.
    * Each %7==1 doc encodes a deterministic test card through the
    * REAL `javax.imageio` JPEG writer, then a residue class mutates:
    * id%6==0 splices a COM comment ([[graft.multimodal.Jpeg
    * .insertComment]] — our framing, the walker can't trust the
    * encoder), id%6==1 an APP1 Exif stub, id%6==2 cuts mid-entropy
    * (SOF scalars SURVIVE — the bytes were there; saw_eoi false),
    * id%6==3 breaks SOI (not_jpeg, all null), id%6==4 appends 9
    * trailing bytes (counted, still `ok` — concatenation/padding is
    * not corruption). Encoder choices (JFIF 1.2, baseline SOF0,
    * 3-component YCbCr, 8-bit) are pinned closed-form — a JDK that
    * changed them fails loudly here and in JpegSpec, the desired
    * alarm.
    *
    * Scale shape: map-only per payload (encode+mutate+walk in one
    * task, no pixel decode); the only exchange is the output sort. */
  val mmJpegMeta: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).where($"doc_id" % 7 === 1)
      .select($"doc_id").as[Long]
      .map { id =>
        val w = 8 + (id % 13).toInt
        val h = 8 + (id % 9).toInt
        val clean = graft.multimodal.ImageCodec.encode(
          graft.multimodal.ImageCodec.renderGray(id, w, h), "jpg")
        val bytes = (id % 6) match {
          case 0 => graft.multimodal.Jpeg.insertComment(clean, s"doc$id")
          case 1 => graft.multimodal.Jpeg.insertExifStub(clean)
          case 2 => clean.dropRight(4) // mid-entropy cut: EOI + 2 bytes
          case 3 => val b = clean.clone(); b(1) = 0x00; b
          case 4 => clean ++ Array.fill[Byte](9)(0x41)
          case _ => clean
        }
        val m = graft.multimodal.Jpeg.parse(bytes)
        (id, m.status, m.width.map(_.toLong), m.height.map(_.toLong),
          m.precision.map(_.toLong), m.nComponents.map(_.toLong),
          m.progressive, m.jfifVersion, m.hasExif, m.comment,
          m.sawEoi, m.trailing.toLong)
      }
      .toDF("media_id", "status", "width", "height", "sof_precision",
        "n_components", "progressive", "jfif_version", "has_exif",
        "comment_text", "saw_eoi", "trailing_bytes")
      .orderBy($"media_id")
  }

  /** GIF block walk over real encoder output — the third web-image
    * triage ([[mmJpegMeta]]/[[mmPngMeta]] discipline) and the
    * ANIMATION-facts one: frame count (static-vs-animated is a
    * routing decision), Graphic Control Extension delay/transparency,
    * interlacing, palette presence, COM provenance — all block
    * framing, no LZW decode. The format's defining hazard is the
    * SUB-BLOCK CHAIN (len+data … 0): unknown extensions must be
    * skipped by their chain, and a chain running off the buffer is
    * lost framing, not an exception. Each %7==4 doc encodes a test
    * card through the REAL `javax.imageio` GIF writer (89a, global
    * color table, INTERLACED — pinned encoder choices, the JDK-drift
    * alarm), then residues mutate: %6==0 splices a COM comment,
    * %6==1 a GCE (delay id%90+1 cs, transparency on even ids),
    * %6==2 truncates mid-chain (screen scalars and the frame count
    * SURVIVE; saw_trailer false), %6==3 breaks the signature,
    * %6==4 appends 7 trailing bytes (counted, still ok).
    *
    * Scale shape: map-only encode+mutate+walk; one output sort. */
  val mmGifMeta: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).where($"doc_id" % 7 === 4)
      .select($"doc_id").as[Long]
      .map { id =>
        val w = 8 + (id % 12).toInt
        val h = 8 + (id % 11).toInt
        val clean = graft.multimodal.ImageCodec.encode(
          graft.multimodal.ImageCodec.renderGray(id, w, h), "gif")
        val bytes = (id % 6) match {
          case 0 => graft.multimodal.Gif.insertComment(clean, s"doc$id")
          case 1 => graft.multimodal.Gif.insertGce(
            clean, (id % 90 + 1).toInt, transparent = id % 2 == 0)
          case 2 => clean.dropRight(5) // trailer + 4 data bytes
          case 3 => val b = clean.clone(); b(2) = 'X'; b
          case 4 => clean ++ Array.fill[Byte](7)(0x20)
          case _ => clean
        }
        val m = graft.multimodal.Gif.parse(bytes)
        (id, m.status, m.version, m.width.map(_.toLong),
          m.height.map(_.toLong), m.hasGct, m.interlaced,
          m.nFrames.toLong, m.delayCs.map(_.toLong), m.transparent,
          m.comment, m.sawTrailer, m.trailing.toLong)
      }
      .toDF("media_id", "status", "version", "width", "height",
        "has_gct", "interlaced", "n_frames", "delay_cs", "transparent",
        "comment_text", "saw_trailer", "trailing_bytes")
      .orderBy($"media_id")
  }

  /** FLAC metadata walk — the COMPRESSED-audio triage next to
    * [[mmWavMeta]]'s PCM RIFF walk: crawled audio is overwhelmingly
    * compressed, and FLAC puts every stream fact (rate, channels,
    * bit depth, total samples → duration) in a leading bit-packed
    * STREAMINFO block precisely so a pipeline can read them WITHOUT
    * a frame decode. Each %7==2 doc gets a conforming metadata
    * prologue from [[graft.multimodal.Flac.write]] and is walked
    * back by the real parser: the 20/3/5/36-bit STREAMINFO packing,
    * the LITTLE-endian VORBIS_COMMENT inside the big-endian
    * container (the endianness switch is the parser slip class this
    * gate pins), PADDING skipped by length. Residue classes replay
    * the corruption taxonomy — mid-STREAMINFO truncation (fields
    * null), a block length past the buffer (fields read before the
    * overrun SURVIVE), broken magic. Oracle states every field
    * closed-form; duration is the demuxer arithmetic
    * total·1000/rate floored.
    *
    * Scale shape: map-only per payload; one output sort. */
  val mmFlacMeta: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).where($"doc_id" % 7 === 2)
      .select($"doc_id").as[Long]
      .map { id =>
        val rate = (id % 5) match {
          case 0 => 8000; case 1 => 16000; case 2 => 22050
          case 3 => 44100; case _ => 48000
        }
        val ch = 1 + (id % 2).toInt
        val bps = if (id % 3 == 0) 24 else 16
        val total = 1000L + (id % 9000)
        val comments = Seq("TITLE" -> s"doc$id", "LANG" -> s"l${id % 4}")
        val bytes = (id % 6) match {
          case 0 => graft.multimodal.Flac.write(rate, ch, bps, total, comments)
          case 1 => graft.multimodal.Flac.write(rate, ch, bps, total, comments)
            .take(4 + 4 + 17) // mid-STREAMINFO cut
          case 2 =>
            val b = graft.multimodal.Flac.write(rate, ch, bps, total, comments)
            b(0) = 0x00; b
          case 3 =>
            val si = graft.multimodal.Flac.write(rate, ch, bps, total, Seq.empty)
            si(4) = (si(4) & 0x7F).toByte // clear last: a block "follows"
            si ++ Array[Byte](0x04, 0x7F, 0x00, 0x00) // length past buffer
          case 4 => graft.multimodal.Flac.write(rate, ch, bps, total, comments,
            padding = Some(10))
          case _ => graft.multimodal.Flac.write(rate, ch, bps, total, Seq.empty)
        }
        val m = graft.multimodal.Flac.parse(bytes)
        (id, m.status, m.sampleRate.map(_.toLong), m.channels.map(_.toLong),
          m.bitsPerSample.map(_.toLong), m.totalSamples, m.durationMs,
          m.nBlocks.toLong, m.comments.get("TITLE"), m.comments.get("LANG"))
      }
      .toDF("media_id", "status", "sample_rate", "channels", "bps",
        "total_samples", "duration_ms", "n_blocks", "title", "lang")
      .orderBy($"media_id")
  }

  /** ZIP archive listing from the CENTRAL DIRECTORY — the archive
    * triage of a crawl (docx/epub/apk/jar are ZIPs; a pipeline lists
    * entries long before inflating any). The format's defining
    * property is that the truth is at the END: the EOCD record hides
    * behind a variable-length comment (found by a bounded BACKWARD
    * scan with the comment-length consistency check, so in-comment
    * magic can't fake it), and entry facts come from the central
    * directory, never the local headers. Each %7==4 doc builds a
    * real `java.util.zip` archive (1–3 entries, even entries
    * STORED with our CRC, odd DEFLATED); residues replay the
    * corruption taxonomy — id%6==1 cuts the tail (no EOCD at all →
    * a reader has NOTHING, which is why crawlers carry partial-zip
    * recovery queues), id%6==5 patches the EOCD's entry count (the
    * walk lists the real entries and reports the lie), id%6==0
    * carries an archive comment. Oracle states per-archive
    * counts/sizes/names closed-form.
    *
    * Scale shape: map-only per payload; one output sort. */
  val mmZipEntries: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).where($"doc_id" % 7 === 4)
      .select($"doc_id").as[Long]
      .map { id =>
        val k = 1 + (id % 3).toInt
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(bos)
        if (id % 6 == 0) z.setComment(s"c$id")
        (1 to k).foreach { i =>
          val e = new java.util.zip.ZipEntry(s"doc$id/e$i.txt")
          val bytes = (s"doc$id entry$i " + "y" * ((id + i) % 64).toInt)
            .getBytes("UTF-8")
          if (i % 2 == 0) {
            e.setMethod(java.util.zip.ZipEntry.STORED)
            e.setSize(bytes.length.toLong)
            e.setCompressedSize(bytes.length.toLong)
            val c = new java.util.zip.CRC32; c.update(bytes)
            e.setCrc(c.getValue)
          }
          z.putNextEntry(e); z.write(bytes); z.closeEntry()
        }
        z.close()
        val clean = bos.toByteArray
        val bytes = (id % 6) match {
          case 1 => clean.dropRight(3)
          case 5 =>
            val b = clean.clone()
            val eocd = b.length - 22 // no comment in this class
            b(eocd + 8) = (k + 1).toByte  // entries-on-disk
            b(eocd + 10) = (k + 1).toByte // total entries
            b
          case _ => clean
        }
        val m = graft.multimodal.Zip.parse(bytes)
        (id, m.status, m.claimed.toLong, m.entries.length.toLong,
          m.entries.count(_.method == 0).toLong,
          m.entries.map(_.uncompressedSize).sum,
          m.entries.map(_.name).mkString(","),
          m.comment)
      }
      .toDF("media_id", "status", "claimed", "n_entries", "n_stored",
        "sum_usize", "names", "comment")
      .orderBy($"media_id")
  }

  /** ID3v2 tag walk — lossy-audio metadata triage next to
    * [[mmFlacMeta]] (MP3 carries no in-stream metadata; title/album/
    * track ride the front tag). The gate makes BOTH classic parser
    * traps load-bearing: ids alternate v2.3/v2.4 so frame sizes
    * alternate plain-BE/SYNCSAFE, and the album frame is >127 bytes
    * so the two decodings genuinely diverge (a one-version parser
    * mis-frames half the corpus — hash fail); the title alternates
    * UTF-16-BOM (v2.3) and UTF-8 (v2.4) against one closed-form
    * string, so an assumed-encoding read corrupts it. Corruption
    * classes: id%6==1 cuts the tail (the trailing unknown frame
    * drops, every walked frame KEEPS — truncation must not zero the
    * tag), id%6==2 breaks the magic. Padding on id%4==0 ends the
    * walk without inventing frames.
    *
    * Scale shape: map-only per payload; one output sort. */
  val mmId3Tags: QueryFn = (s, dir) => {
    import s.implicits._
    Tables.documents(s, dir).where($"doc_id" % 7 === 0)
      .select($"doc_id").as[Long]
      .map { id =>
        val major = if (id % 2 == 0) 4 else 3
        val titleEnc = if (major == 4) 3 else 1
        val clean = graft.multimodal.Id3.write(major,
          Seq(("TIT2", titleEnc, s"T★$id"),
            ("TALB", 0, s"A$id" + "z" * 130),
            ("TRCK", 0, s"${id % 12}")),
          extra = Seq(("WXYZ", Array[Byte](1, 2, 3, 4, 5))),
          padding = if (id % 4 == 0) 32 else 0)
        val bytes = (id % 6) match {
          case 1 => clean.dropRight(6) // lands in the trailing WXYZ
          case 2 => val b = clean.clone(); b(0) = 0x00; b
          case _ => clean
        }
        val m = graft.multimodal.Id3.parse(bytes)
        (id, m.status, m.version.map(_.toLong), m.nFrames.toLong,
          m.title, m.album, m.track)
      }
      .toDF("media_id", "status", "version", "n_frames", "title",
        "album", "track")
      .orderBy($"media_id")
  }

  /** Byte-grain CDC boundary mask (low 5 bits ⇒ ~32-byte average
    * chunks) and minimum reported chunk size. */
  val ByteCdcMask = 31L
  val ByteCdcMinLen = 16

  /** One-pass content-defined chunker (r14, guide §1.2 per-task work
    * + §2.4 remove shuffles): emits exactly the chunks the former
    * three-stage plan produced — FNV-1a (UTF-16-char fold, the
    * [[graft.functions.FnvShinglesExpr]] discipline) over every
    * 8-code-point window; positions whose digest has the
    * [[ByteCdcMask]] bits clear are boundaries; chunks are the
    * code-point substrings between [1] ++ boundaries ++ [len+1].
    * Replaces a per-CODE-POINT posexplode (corpus-bytes rows), a
    * boundary collect_list groupBy SHUFFLE, the join back, and two
    * interpreted substring HOFs with one tight loop per media row. */
  private val byteCdcChunksUdf = udf { (t: String) =>
    val nChars = t.length
    val cpCount = t.codePointCount(0, nChars)
    // code-point index -> char offset (cpOff(cpCount) = end)
    val cpOff = new Array[Int](cpCount + 1)
    var ci = 0; var off = 0
    while (off < nChars) { cpOff(ci) = off; off = t.offsetByCodePoints(off, 1); ci += 1 }
    cpOff(cpCount) = nChars
    val edges = scala.collection.mutable.ArrayBuffer[Int](0)
    val nWins = cpCount - 7
    var p = 0
    while (p < nWins) {
      var h = 0xcbf29ce484222325L
      var j = cpOff(p)
      val end = cpOff(p + 8)
      while (j < end) { h ^= t.charAt(j).toLong; h *= 0x100000001b3L; j += 1 }
      if ((h & ByteCdcMask) == 0L) edges += p
      p += 1
    }
    edges += cpCount
    val out = new Array[String](edges.length - 1)
    var k = 0
    while (k < out.length) {
      out(k) = t.substring(cpOff(edges(k)), cpOff(edges(k + 1)))
      k += 1
    }
    out.toSeq
  }

  /** Byte-level content-defined chunking over media payloads — the
    * SURVEY r5 candidate landed: `dedup_cdc_chunks` cuts at TOKEN
    * grain (text semantics); this cuts raw payload BYTES with a
    * rolling 8-byte window digest (the rsync/LBFS/restic trick), so
    * it works on opaque media where no tokenizer exists. Shared
    * ≥2-media chunks expose PARTIAL duplication — embedded assets,
    * common headers, re-encoded middles — that whole-payload hashing
    * (mm_phash_neardup's aHash) summarizes but can't localize. The
    * registry reuses the deterministic re-encoded copies, whose
    * heads/tails differ but middles are identical: boundary
    * RESYNCHRONIZATION after the head edit is exactly the property
    * CDC exists for, and the spec asserts it.
    *
    * Scale shape: windows and boundary flags are map-only; the only
    * corpus shuffle is the chunk groupBy (volume ≈ bytes/32); the
    * per-media boundary list is L/32 ints, collected per MEDIA ROW
    * (not driver-side). */
  val mmCdcChunks: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir).where(length($"text") >= 64)
    val base = docs.select($"doc_id".as("media_id"), $"text".as("t"))
    val dirty = docs.where($"doc_id" % 11 === 5)
      .select(($"doc_id" + 10000000L).as("media_id"),
        concat(upper(substring($"text", 1, 10)),
          $"text".substr(lit(11), length($"text") - 20),
          upper($"text".substr(length($"text") - 9, lit(10)))).as("t"))
    // r14: boundaries + chunk extraction fused into one map-side
    // tight loop ([[byteCdcChunksUdf]]) — the former plan posexploded
    // every code-point window (corpus-BYTES rows), shuffled the
    // boundary lists through a collect_list groupBy, and joined them
    // back; only the chunk-support groupBy below shuffles now
    val m = base.unionByName(dirty)
    val chunks = m
      .select($"media_id", explode(byteCdcChunksUdf($"t")).as("chunk"))
      .where(length($"chunk") >= ByteCdcMinLen)
    chunks.groupBy($"chunk")
      .agg(countDistinct($"media_id").as("n_media"),
        count(lit(1)).as("n_occ"),
        min($"media_id").as("first_media"))
      .where($"n_media" >= 2)
      .select($"chunk", length($"chunk").cast("long").as("n_bytes"),
        $"n_media", $"n_occ", $"first_media")
      .orderBy($"chunk")
  }

  /** Perceptual-hash band geometry `(words, bandBits, tau)` — the
    * simhash geometry applied to the image/byte-payload family (r9
    * verdict #1). The default `(1, 16, 12)` is the historical
    * 64-slice signature in four 16-bit bands with hamming ≤ 12
    * (re-encoded copies flip ≤ 4 of 64 blocks, random pairs sit near
    * 32 — 12 splits the populations with wide margin). The wide
    * geometry `(2, 32, 24)` DOUBLES the signature (128
    * slices / an 8×16 aHash grid) so bands widen to 32 bits at the
    * SAME per-band content coverage: the flip FRACTION of an edit is
    * grid-invariant (an edited byte span covers the same share of
    * finer slices), so tau scales with the signature and planted
    * recall is preserved while the random band-collision floor drops
    * from n²·4/2¹⁶ to n²·4/2³² — the exact simhash (1, 16, 6) →
    * (2, 32, 12) move. The n-aware Hamming schedule picks it on large
    * corpora; specs pin a geometry through the test-visible override.
    * Both neardup oracles interpolate these accessors; the default
    * preserves the gate hashes. bands = 64·words/bandBits. */
  @volatile var overridePhashGeometry: Option[(Int, Int, Int)] = None
  def phashGeometry: (Int, Int, Int) =
    GeometryContext.resolve(overridePhashGeometry.getOrElse((1, 16, 12)))(
      phashGeometryFor)

  /** The geometry the phash faces USE for this corpus: the override
    * if set, else the n-aware Hamming schedule on the document count
    * (the media registries are doc-derived, so doc count is the
    * registry-size proxy the schedule needs). */
  def phashGeometryFor(
      s: org.apache.spark.sql.SparkSession, dir: String): (Int, Int, Int) =
    overridePhashGeometry.getOrElse(
      AnnOps.scheduledHammingGeometry(DedupOps.nDocs(s, dir), (1, 16, 12)))
  def PhashWords: Int = phashGeometry._1
  def PhashBandBits: Int = phashGeometry._2
  def PhashBands: Int = 64 * PhashWords / PhashBandBits
  def PhashTau: Long = phashGeometry._3.toLong

  /** Perceptual-hash near-duplicate detection over media payloads —
    * the IMAGE dedup pass next to the text stack (minhash/simhash
    * find shared TOKENS; this finds shared BYTES): a 64-bit blockwise
    * hash (payload split into 64 equal slices — the 8×8 grid of a
    * real aHash; bit = slice-digest parity, so two payloads agree on
    * a bit exactly where the slice bytes agree — a real decoder's
    * per-cell luminance drops into the same column), banded into
    * four 16-bit keys for candidate generation (the simhash
    * pigeonhole: ≤ 15 flipped bits guarantee a shared band), then
    * exact Hamming distance on candidates only.
    *
    * The registry carries DERIVED "re-encoded" copies (deterministic
    * head/tail perturbation of every 11th payload — the CdcOps
    * discipline): detection is the real machinery, the plant is the
    * ground truth, and the spec asserts recall 1.0 on it.
    *
    * Scale shape: hashing is map-only; the band join is the only
    * corpus shuffle (4 keys/media); Hamming runs on candidates, not
    * pairs. The multimodal story at 100 TB: payloads never move —
    * 8-byte signatures do. */
  val mmPhashNeardup: QueryFn = (s, dir) => {
    import s.implicits._
    val docs = Tables.documents(s, dir).where(length($"text") >= 64)
    val base = docs.select($"doc_id".as("media_id"), $"text".as("t"))
    val dirty = docs.where($"doc_id" % 11 === 5)
      .select(($"doc_id" + 10000000L).as("media_id"),
        concat(upper(substring($"text", 1, 10)),
          $"text".substr(lit(11), length($"text") - 20),
          upper($"text".substr(length($"text") - 9, lit(10)))).as("t"))
    val geo = phashGeometryFor(s, dir) // n-aware unless pinned
    phashCandPairs(base.unionByName(dirty), geo)
      .where($"hamming" <= geo._3.toLong)
      .orderBy($"media_a", $"media_b")
  }

  /** The phash index chain over an explicit (media_id, t) registry —
    * slice-parity signature under [[phashGeometry]], banded
    * candidates through the [[Blocking]] anchor cap, exact Hamming
    * on every candidate (UNfiltered: [[mmPhashNeardup]] thresholds
    * at [[PhashTau]]; PhashFloorSpec counts the candidates
    * themselves — the floor is a property of the band stage, not the
    * verify). */
  private[graft] def phashCandPairs(
      reg: DataFrame, geo: (Int, Int, Int) = phashGeometry): DataFrame = {
    val sess = reg.sparkSession
    import sess.implicits._
    val (phWords, phBandBits, _) = geo
    val m = reg.withColumn("L", length($"t").cast("long"))
    // slice count and band width ride the [[phashGeometry]] dial
    // (default 64 slices / 16-bit bands — the historical literals)
    val slices = 64 * phWords
    val bb = phBandBits
    val bits = m
      .select($"media_id", graft.functions.VectorExpressions.fnv_shingles(
        transform(sequence(lit(1), lit(slices)), i => {
          val st = floor((i - 1).cast("long") * $"L" / slices.toDouble).cast("int")
          val en = floor(i.cast("long") * $"L" / slices.toDouble).cast("int")
          $"t".substr(st + 1, en - st)
        }), 1).as("hs"))
      .select($"media_id", posexplode(transform($"hs", h => h.bitwiseAND(1L))))
      .withColumnRenamed("col", "bit")
    val bands = bits
      .groupBy($"media_id", ($"pos" / bb).cast("long").as("band"))
      .agg(sum($"bit" * expr(s"shiftleft(1L, pos % $bb)")).as("bv"))
      .transform(Checkpoints.cut)
    val sig = bands.groupBy($"media_id")
      .agg(sort_array(collect_list(struct($"band", $"bv"))).as("sgs"))
      .select($"media_id", expr("transform(sgs, x -> x.bv)").as("sg"))
    // per-band anchor-star cap ([[Blocking]]): organic (band, bv)
    // buckets are tiny (16-bit values), but a mass of byte-identical
    // payloads shares all four — the cap keeps that linear
    val cand = Blocking.cappedPairs(
      bands.select($"media_id",
        concat_ws(":", $"band", $"bv").as("key")),
      "media_id", "ma", "mb", Blocking.DefaultCap)
    cand
      .join(sig.select($"media_id".as("ma"), $"sg".as("sa")), "ma")
      .join(sig.select($"media_id".as("mb"), $"sg".as("sb")), "mb")
      .select($"ma".as("media_a"), $"mb".as("media_b"),
        expr("aggregate(zip_with(sa, sb, (x, y) -> cast(bit_count(x ^ y) as bigint)), 0L, (acc, v) -> acc + v)")
          .as("hamming"))
  }
}
