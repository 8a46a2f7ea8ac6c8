package graft

import graft.llm.TextStatsOps
import org.apache.spark.sql.functions._

/** The tokenizer kernels (rank-table BPE over a broadcast merge map;
  * broadcast-HashMap unigram Viterbi) — and the Column functions and
  * DataFrame encoders built on them — pinned exactly equal to the
  * independent Catalyst-expression replays in [[ReferenceTiers]], plus
  * the trained-table integration the r14 verdict asked for
  * (bpeTrainMerges at numMerges ≥ 1000 feeding the ranked encoder). */
class TokenizerKernelSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random corpus: words over a small alphabet
    * (dense merge hits), plus contractions/punctuation/multi-space
    * rows exercising every pretokenizer branch. */
  private def lcgTexts(n: Int): Seq[(Long, String)] = {
    var st = 0x2545F4914F6CDD1DL
    def nx(m: Int): Int = {
      st = st * 6364136223846793005L + 1442695040888963407L
      (((st >>> 33) % m + m) % m).toInt
    }
    (0 until n).map { i =>
      val nw = 1 + nx(8)
      val words = (0 until nw).map { _ =>
        val len = 1 + nx(10)
        new String((0 until len).map(_ => ('a' + nx(6)).toChar).toArray)
      }
      val text = i % 5 match {
        case 0 => words.mkString(" ")
        case 1 => words.mkString("  ") + " "
        case 2 => words.mkString("'s ", ", ", ".")
        case 3 => "don't " + words.mkString("-")
        case 4 => words.mkString(" (", ") [", "] 3.14")
      }
      (i.toLong, text)
    }
  }

  // r19 optimization guard: the unigram seed-candidate enumeration
  // moved from the nested-HOF substr explode to a pre-aggregating
  // mapPartitions kernel — pin them equal on a corpus with repeats,
  // multi-byte chars, and an astral-plane code point (Spark's substr
  // counts code points, not UTF-16 chars; a naive String.substring
  // enumeration would split the surrogate pair).
  test("seedPieceCounts kernel ≡ the substr-explode expression form") {
    val words = Seq(("abcab", 3L), ("ééx", 2L), ("a", 5L),
      ("𝕏ab", 1L), ("abcab", 4L)).toDF("__w", "__cnt")
    val mtl = 3
    val pieces = flatten(transform(
      sequence(lit(1), length(col("__w"))), i =>
        transform(sequence(lit(1),
          least(lit(mtl), length(col("__w")) - i + 1)),
          l => col("__w").substr(i, l))))
    val expr = words.select(explode(pieces).as("p"), col("__cnt"))
      .groupBy("p").agg(sum(col("__cnt")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kern = words.select(col("__w").cast("string"), col("__cnt"))
      .as[(String, Long)]
      .mapPartitions(it => TextStatsOps.seedPieceCounts(it, mtl))
      .toDF("p", "__cnt")
      .groupBy("p").agg(sum(col("__cnt")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kern === expr)
  }

  test("rank-table BPE encoder ≡ regexp-fixpoint encoder, byte-level " +
    "and whitespace tiers, counts included") {
    val df = lcgTexts(300).toDF("doc_id", "text")
    val refBytes = ReferenceTiers.bpeEncodeTokensBytes(df, "doc_id", "text")
    val refWords = ReferenceTiers.bpeEncodeTokens(df, "doc_id", "text")
    // byte-level encode
    assertFrameEqual(
      TextStatsOps.bpeEncodeRanked(df, "doc_id", "text",
        TextStatsOps.BpeDemoMerges, TextStatsOps.bpeVocab()), refBytes)
    assertFrameEqual(
      TextStatsOps.bpeEncodeTokensBytes(df, "doc_id", "text"), refBytes)
    // whitespace-word encode (bpeEncodeTokens names the position
    // word_idx)
    assertFrameEqual(
      TextStatsOps.bpeEncodeRanked(df, "doc_id", "text",
        TextStatsOps.BpeDemoMerges, TextStatsOps.bpeVocab(),
        byteLevel = false),
      refWords.withColumnRenamed("word_idx", "tok_idx"))
    assertFrameEqual(
      TextStatsOps.bpeEncodeTokens(df, "doc_id", "text"), refWords)
    // counting: the DataFrame kernel and both Column functions
    val refCountBytes = df.select(col("doc_id"),
      ReferenceTiers.bpeTokenCountBytes(col("text")).as("n_bpe"))
    val refCountWords = df.select(col("doc_id"),
      ReferenceTiers.bpeTokenCount(col("text")).as("n_bpe"))
    assertFrameEqual(
      TextStatsOps.bpeTokenCountRanked(df, "doc_id", "text",
        TextStatsOps.BpeDemoMerges), refCountBytes)
    assertFrameEqual(
      TextStatsOps.bpeTokenCountRanked(df, "doc_id", "text",
        TextStatsOps.BpeDemoMerges, byteLevel = false), refCountWords)
    assertFrameEqual(df.select(col("doc_id"),
      TextStatsOps.bpeTokenCountBytes(col("text")).as("n_bpe")),
      refCountBytes)
    assertFrameEqual(df.select(col("doc_id"),
      TextStatsOps.bpeTokenCount(col("text")).as("n_bpe")), refCountWords)
  }

  test("bpeMergeRanked: lowest-rank-first (not leftmost-first), L2R " +
    "non-overlapping replace, re-scan after merge") {
    def rk(ms: (String, String)*): java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      ms.zipWithIndex.foreach { case ((a, b), i) =>
        m.putIfAbsent(a + " " + b, Integer.valueOf(i)) }
      m
    }
    def run(w: String, m: java.util.HashMap[String, Integer]) =
      TextStatsOps.bpeMergeRanked(w.map(_.toString).toArray, m).toSeq
    // (a,b) outranks (x,a): "xab" → [x, ab], NOT [xa, b]
    assert(run("xab", rk("a" -> "b", "x" -> "a")) === Seq("x", "ab"))
    // leftmost-first would win here only if ranks said so
    assert(run("xab", rk("x" -> "a", "a" -> "b")) === Seq("xa", "b"))
    // a merge RESULT feeds an earlier-rank rule (the th+e→the shape)
    assert(run("the", rk("th" -> "e", "t" -> "h")) === Seq("the"))
    // non-overlapping L2R: "aaa" with (a,a) merges the first pair only;
    // "aaaa" stops at [aa, aa] — the merged symbols form pair (aa,aa),
    // which needs its OWN rule
    assert(run("aaa", rk("a" -> "a")) === Seq("aa", "a"))
    assert(run("aaaa", rk("a" -> "a")) === Seq("aa", "aa"))
    assert(run("aaaa", rk("a" -> "a", "aa" -> "aa")) === Seq("aaaa"))
    // no applicable rule: unchanged
    assert(run("zq", rk("a" -> "b")) === Seq("z", "q"))
  }

  test("bpeTrainMerges at numMerges=1000 feeds the ranked encoder: " +
    "table trains full-size and the encoding round-trips") {
    // one long pseudo-random word: unique-word training state is a
    // single row, so 1000 rounds stay cheap while every round still
    // finds a mergeable pair (each merge removes >= 1 symbol)
    var st = 0x9E3779B97F4A7C15L
    val w = new String((0 until 1400).map { _ =>
      st = st * 6364136223846793005L + 1442695040888963407L
      ('a' + (((st >>> 33) % 20 + 20) % 20).toInt).toChar
    }.toArray)
    val corpus = Seq((0L, w)).toDF("doc_id", "text")
    val trained = TextStatsOps.bpeTrainMerges(corpus, "text",
      numMerges = 1000)
    assert(trained.size === 1000, s"trained only ${trained.size} merges")
    val enc = TextStatsOps.bpeEncodeRanked(corpus, "doc_id", "text",
      trained, TextStatsOps.bpeVocabWide(trained), byteLevel = false)
      .orderBy("sym_idx").collect()
    // 1000 applied merges leave exactly 1400 - 1000 = 400 symbols
    // (every training round merges the counted occurrences, here on a
    // single word each round's winning pair occurs >= 1 time; the
    // encoder replays the same table to the same fixpoint)
    assert(enc.map(_.getString(3)).mkString === w,
      "ranked encoding does not reconstruct the trained word")
    // every multi-char token carries its wide vocab id
    assert(enc.forall(r => r.getString(3).length == 1 || !r.isNullAt(4)))
    // and the encoding is the training fixpoint: re-running the
    // trainer's own replace sequence cannot shrink it further — no
    // adjacent pair of the final symbols is in the table
    val syms = enc.map(_.getString(3))
    val pairs = syms.zip(syms.drop(1)).map { case (a, b) => (a, b) }
    val tset = trained.toSet
    assert(pairs.forall(p => !tset.contains(p)),
      "encoder left a mergeable pair")
  }

  test("unigram kernel ≡ column DP: pieces, counts, ties, unk " +
    "fallback") {
    val vocab = Map(
      "the" -> -1000000L, "theory" -> -1500000L, "ory" -> -1200000L,
      "matic" -> -1100000L, "cat" -> -900000L, "s" -> -800000L,
      "ab" -> -2000000L, "a" -> -1000000L, "b" -> -1000000L,
      "ba" -> -2000000L, "aa" -> -1900000L)
    val vm = new java.util.HashMap[String, java.lang.Long]()
    vocab.foreach { case (k, v) => vm.put(k, java.lang.Long.valueOf(v)) }
    // pseudo-random words over the vocab alphabet — tie-rich ("ab" at
    // exactly a+b, "ba"/"aa" interleavings) plus OOV chars
    var st = 42L
    val alpha = "abstheorymczq"
    val words = (0 until 400).map { _ =>
      st = st * 6364136223846793005L + 1442695040888963407L
      val len = 1 + (((st >>> 40) % 11 + 11) % 11).toInt
      new String((0 until len).map { j =>
        st = st * 6364136223846793005L + 1442695040888963407L
        alpha((((st >>> 35) % alpha.length + alpha.length)
          % alpha.length).toInt)
      }.toArray)
    }.distinct
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "w")
    // piece-level: kernel segmentation and the Column function ==
    // the reference DP's pieces
    def pieces(f: (org.apache.spark.sql.Column, Map[String, Long], Long,
        Int) => org.apache.spark.sql.Column) =
      df.select(col("id"), f(col("w"), vocab, -10000000L, 6).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq)
        .toMap
    val colPieces = pieces(ReferenceTiers.unigramViterbiPieces)
    assert(pieces(TextStatsOps.unigramViterbiPieces) === colPieces)
    words.zipWithIndex.foreach { case (w, i) =>
      val k = TextStatsOps.viterbiSegment(w, vm, -10000000L, 6).toSeq
      assert(k === colPieces(i.toLong), s"word '$w'")
    }
    // doc-level rollups == column counts; recon == the text
    val docs = words.grouped(7).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val kern = TextStatsOps.unigramEncodeDocsKernel(docs, "doc_id",
      "text", vocab, unkCharMicro = -10000000L, maxTokenLen = 6)
    val refCounts = docs.select(col("doc_id"),
      ReferenceTiers.unigramTokenCountDoc(col("text"), vocab,
        unkCharMicro = -10000000L, maxTokenLen = 6).as("n_tokens"))
    assertFrameEqual(kern.select("doc_id", "n_tokens"), refCounts)
    assertFrameEqual(docs.select(col("doc_id"),
      TextStatsOps.unigramTokenCountDoc(col("text"), vocab,
        unkCharMicro = -10000000L, maxTokenLen = 6).as("n_tokens")),
      refCounts)
    assertFrameEqual(
      kern.select("doc_id", "recon"),
      docs.select(col("doc_id"), col("text").as("recon")))
    // unk chars: pieces outside the vocab, re-derived via the
    // reference pieces
    val colUnk = docs.select(col("doc_id"),
      aggregate(TextStatsOps.words(col("text")), lit(0L), (acc, w0) =>
        acc + size(filter(
          ReferenceTiers.unigramViterbiPieces(w0, vocab, -10000000L, 6),
          p => element_at(typedLit(vocab), p).isNull)).cast("long"))
        .as("n_unk_chars"))
    assertFrameEqual(kern.select("doc_id", "n_unk_chars"), colUnk)
  }

  test("trainUnigramLm em=soft: expected counts train pieces Viterbi " +
    "counts starve, and the vocabulary is partitioning-invariant") {
    val wl1 = Seq("banana", "bandana", "cabana", "nacho")
    val wl2 = Seq("anna", "cab", "nan")
    val docs = (0 until 500).map { i =>
      (i.toLong, wl1(i % 4) + " " + wl2((i + 1) % 3))
    }.toDF("doc_id", "text")
    def train(df: org.apache.spark.sql.DataFrame, mode: String) =
      TextStatsOps.trainUnigramLm(df, "text", vocabSize = 14,
        rounds = 2, maxTokenLen = 4, minCount = 2,
        unkCharMicro = -20000000L, em = mode)
    val hard = train(docs, "hard")
    val soft = train(docs, "soft")
    // the soft E-step's raison d'être: posterior mass spreads over
    // ALL segmentations, so the trained vocabulary and scores differ
    // from winner-take-all Viterbi counts — here soft keeps na/ban
    // alive (hard's all-or-nothing counts elect acho/bana instead)
    // and banana segments 2 ([ban, ana]) instead of 3 ([bana, n, a])
    assert(soft !== hard)
    assert(soft.contains("na") && !hard.contains("na"),
      s"soft=${soft.keys.toSeq.sorted} hard=${hard.keys.toSeq.sorted}")
    def count(v: Map[String, Long], w: String): Int =
      TextStatsOps.viterbiSegment(w,
        { val m = new java.util.HashMap[String, java.lang.Long]()
          v.foreach { case (k, x) => m.put(k, java.lang.Long.valueOf(x)) }
          m }, -20000000L, 4).length
    assert(count(soft, "banana") === 2 && count(hard, "banana") === 3)
    // per-word micro rounding before the integer sum makes the trained
    // vocabulary independent of data layout
    val repart = train(docs.repartition(17), "soft")
    assert(repart === soft)
    val coalesced = train(docs.coalesce(1), "soft")
    assert(coalesced === soft)
  }

  test("tokenizer tables round-trip through storage bit-exactly and " +
    "feed the encoders unchanged") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-tok-artifacts-${ProcessHandle.current().pid()}").toString
    // unigram vocab: integer scores, maxTokenLen recorded
    val vocab = Map("the" -> -1000000L, "cat" -> -900000L,
      "s" -> -800000L, "a" -> -1000000L)
    TextStatsOps.writeUnigramVocab(spark, s"$dir/uv", vocab, 5)
    val (v2, mtl) = TextStatsOps.readUnigramVocab(spark, s"$dir/uv")
    assert(v2 === vocab && mtl === 5)
    // BPE merges: rank order is the contract
    val merges = TextStatsOps.BpeDemoMerges
    TextStatsOps.writeBpeMerges(spark, s"$dir/bm", merges)
    assert(TextStatsOps.readBpeMerges(spark, s"$dir/bm") === merges)
    // and the loaded table encodes identically to the in-memory one
    val df = lcgTexts(50).toDF("doc_id", "text")
    assertFrameEqual(
      TextStatsOps.bpeEncodeRanked(df, "doc_id", "text",
        TextStatsOps.readBpeMerges(spark, s"$dir/bm"),
        TextStatsOps.bpeVocab()),
      TextStatsOps.bpeEncodeRanked(df, "doc_id", "text", merges,
        TextStatsOps.bpeVocab()))
    // empty reads/writes are loud
    intercept[IllegalArgumentException] {
      TextStatsOps.writeBpeMerges(spark, s"$dir/bm2", Nil)
    }
  }

  test("bpeTrainMergesLocal ≡ bpeTrainMerges: same merges, same order " +
      "(incl. tie-breaks and the blocked-adjacent-repeat replace " +
      "corner), and early stop agrees") {
    val docs = lcgTexts(200).toDF("doc_id", "text")
    val dist = TextStatsOps.bpeTrainMerges(docs, "text", numMerges = 60)
    val local = TextStatsOps.bpeTrainMergesLocal(docs, "text",
      numMerges = 60)
    assert(local == dist)
    // the replace corner: "abab"-shaped repeats — the padded replace
    // leaves the second occurrence unmerged within the round
    val rep = Seq((1L, "abab abab cc"), (2L, "abab cc cc"))
      .toDF("doc_id", "text")
    val d2 = TextStatsOps.bpeTrainMerges(rep, "text", numMerges = 8)
    val l2 = TextStatsOps.bpeTrainMergesLocal(rep, "text", numMerges = 8)
    assert(l2 == d2)
    // early stop: a corpus of single-char words has no pairs at all
    val tiny = Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text")
    assert(TextStatsOps.bpeTrainMergesLocal(tiny, "text", 5) ==
      TextStatsOps.bpeTrainMerges(tiny, "text", 5))
    // maxTrainRows slices identically (both delegate to trainingSlice)
    val ds = TextStatsOps.bpeTrainMerges(docs, "text", numMerges = 20,
      maxTrainRows = 120)
    val ls = TextStatsOps.bpeTrainMergesLocal(docs, "text",
      numMerges = 20, maxTrainRows = 120)
    assert(ls == ds)
    // production scale is driver-cheap: 2000 merges on this corpus
    // complete (vocabulary exhausts or merges fill) in-memory
    val big = TextStatsOps.bpeTrainMergesLocal(docs, "text",
      numMerges = 2000)
    assert(big.size > 60)
  }

  test("bpeDecodeRanked: a vocabulary CARRYING <0xNN> byte tokens " +
      "(the SentencePiece/Llama shape) decodes them as raw bytes, " +
      "not their 6-char spelling") {
    // 'ā' = U+0101 = UTF-8 C4 81; the byte pieces price through the
    // VOCAB (ids 600/601 — a hit, not the raw-byte fallback path), so
    // decode must recognize the resolved token as a byte piece
    val vocab = Map("<0xC4>" -> 600, "<0x81>" -> 601, "hi" -> 502)
    val docs = Seq((1L, "hi āhi"), (2L, "āā")).toDF("doc_id", "text")
    val enc = TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
      TextStatsOps.BpeDemoMerges, vocab, byteLevel = true,
      byteFallback = true)
    val ids = enc.filter(col("doc_id") === 2L)
      .orderBy("tok_idx", "sym_idx").select("token_id")
      .as[Int].collect().toSeq
    assert(ids == Seq(600, 601, 600, 601), s"priced $ids")
    val dec = TextStatsOps.bpeDecodeRanked(enc, "doc_id", vocab,
      byteFallback = true)
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(dec == Seq("hi āhi", "āā"))
  }

  test("byteFallback vocab-shape validation: an id in [0, 256) on a " +
      "non-byte token (or on the wrong byte piece) is rejected at " +
      "encode AND decode entry; the correct shape passes") {
    val docs = Seq((1L, "hi")).toDF("doc_id", "text")
    val bad = Map("hi" -> 502, "a" -> 97)
    val wrongByte = Map("hi" -> 502, "<0xC4>" -> 97)
    val good = Map("hi" -> 502, "<0x61>" -> 97, "<0xC4>" -> 196)
    val e1 = intercept[IllegalArgumentException] {
      TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
        TextStatsOps.BpeDemoMerges, bad, byteLevel = true,
        byteFallback = true)
    }
    assert(e1.getMessage.contains("raw byte id"))
    intercept[IllegalArgumentException] {
      TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
        TextStatsOps.BpeDemoMerges, wrongByte, byteLevel = true,
        byteFallback = true)
    }
    val enc = TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
      TextStatsOps.BpeDemoMerges, good, byteLevel = true,
      byteFallback = true)
    intercept[IllegalArgumentException] {
      TextStatsOps.bpeDecodeRanked(enc, "doc_id", bad,
        byteFallback = true)
    }
    val dec = TextStatsOps.bpeDecodeRanked(enc, "doc_id", good,
      byteFallback = true).select("text").as[String].collect()
    assert(dec.toSeq == Seq("hi"))
    // non-fallback mode is unconstrained (demo ids ARE code points)
    TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
      TextStatsOps.BpeDemoMerges, bad, byteLevel = true,
      byteFallback = false).collect()
    ()
  }

  test("byteFallback: a FULL byte alphabet at OFFSET ids (the real " +
      "SentencePiece/Llama numbering) is accepted, prices every miss " +
      "through the vocab pieces, and round-trips byte-exactly") {
    // all 256 byte pieces at ids 3..258 — so plenty of ids in
    // [0, 256) are occupied by byte pieces of OTHER bytes (e.g. id 3
    // is <0x00>), the exact shape the old whole-range check rejected.
    // The raw-byte-id fallback is unreachable: every single-byte,
    // marker, and multi-byte miss resolves to a piece id ≥ 3.
    val offsetVocab: Map[String, Int] =
      (0 until 256).map(b => f"<0x$b%02X>" -> (b + 3)).toMap +
        ("hi" -> 300)
    val docs = Seq((1L, "hi a\tā !")).toDF("doc_id", "text")
    val enc = TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
      TextStatsOps.BpeDemoMerges, offsetVocab, byteLevel = true,
      byteFallback = true)
    val ids = enc.select("token_id").as[Int].collect()
    assert(ids.forall(_ >= 3), // nothing priced to a raw byte id
      s"raw ids leaked: ${ids.filter(_ < 3).toSeq}")
    val dec = TextStatsOps.bpeDecodeRanked(enc, "doc_id", offsetVocab,
      byteFallback = true).select("text").as[String].collect()
    assert(dec.toSeq == Seq("hi a\tā !"))
    // PARTIAL coverage still rejects a colliding id: byte 0x62 ('b')
    // has no piece, and id 98 holds someone else's byte piece
    val partial = offsetVocab - "<0x62>"
    val e = intercept[IllegalArgumentException] {
      TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
        TextStatsOps.BpeDemoMerges, partial, byteLevel = true,
        byteFallback = true)
    }
    assert(e.getMessage.contains("raw byte id 98"))
  }
}
