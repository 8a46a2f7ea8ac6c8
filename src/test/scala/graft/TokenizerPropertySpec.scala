package graft

import graft.llm.TextStatsOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the tokenizers: the main Column functions and
  * DataFrame kernels against the Catalyst replays in [[ReferenceTiers]]
  * on generated documents — NULL, empty, all-whitespace, non-BMP
  * (astral code points plus the six GPT-2 marker letters), tie-rich
  * (a small alphabet dense in merge and vocabulary hits) and long
  * multi-word documents. Fixed seeds, as in [[PropertySpec]]. Words
  * stay at most 12 code points long: the reference unigram DP is
  * O(len²) per word. */
class TokenizerPropertySpec extends SparkSpec {
  import spark.implicits._

  private val TieRich = "abstheorymczq"
  private val Markers = "ĠĉĊċČč"
  private val Astral = Seq("𝕏", "😀", "𠀋", "🌍")
  private val Spaces = Seq(" ", "\t", "\n", "\r", "\u000B", "\u000C")

  private def wordOf(ch: Gen[String]): Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, ch).map(_.mkString))

  private def docOf(ch: Gen[String], minWords: Int, maxWords: Int)
      : Gen[String] = for {
    n <- Gen.chooseNum(minWords, maxWords)
    ws <- Gen.listOfN(n, wordOf(ch))
    seps <- Gen.listOfN(n, Gen.oneOf(" ", "  ", "\t", "\n", " \r\n", ", ",
      "'s ", "-", ". ", "\u000B"))
  } yield ws.zip(seps).map { case (w, s) => w + s }.mkString.trim

  private val tieRich: Gen[String] = Gen.oneOf(TieRich.map(_.toString))
  private val nonBmp: Gen[String] = Gen.frequency(
    4 -> tieRich,
    2 -> Gen.oneOf(Markers.map(_.toString)),
    2 -> Gen.oneOf(Astral))

  private val docGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    1 -> Gen.const(""),
    1 -> Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Spaces)).map(_.mkString)),
    3 -> docOf(tieRich, 1, 8),
    3 -> docOf(nonBmp, 1, 8),
    1 -> docOf(tieRich, 40, 80))

  /** 160 generated documents (ids 0..159) plus one of each edge class
    * pinned by id: 1000 NULL, 1001 empty, 1002 all-whitespace. */
  private lazy val docs: DataFrame = {
    val gen = (0 until 160).map(i =>
      (i.toLong, docGen.pureApply(Gen.Parameters.default, Seed(9000L + i))))
    (gen ++ Seq((1000L, null), (1001L, ""), (1002L, " \t\n\u000B\r ")))
      .toDF("doc_id", "text").cache()
  }

  /** The distinct generated words plus a NULL and an empty word. */
  private lazy val wordRows: DataFrame =
    docs.select(explode(TextStatsOps.words(col("text"))).as("w"))
      .distinct()
      .union(Seq(null: String, "").toDF("w"))

  private val vocab: Map[String, Long] = Map(
    "the" -> -1000000L, "theory" -> -1500000L, "ory" -> -1200000L,
    "th" -> -1100000L, "cat" -> -900000L, "s" -> -800000L,
    "ab" -> -2000000L, "a" -> -1000000L, "b" -> -1000000L,
    "ba" -> -2000000L, "aa" -> -1900000L, "𝕏a" -> -700000L,
    "ĠĠ" -> -600000L, "čč" -> -1300000L, "😀" -> -500000L)
  private val Unk = -10000000L
  private val Mtl = 6

  private def schemaOf(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => (f.name, f.dataType.simpleString))

  private def assertSame(main: DataFrame, ref: DataFrame): Unit = {
    assert(schemaOf(main) == schemaOf(ref))
    assertFrameEqual(main, ref)
  }

  test("BPE Column functions ≡ reference on generated documents, demo " +
      "and trained tables") {
    val trained = TextStatsOps.bpeTrainMergesLocal(
      docs.filter(col("text").isNotNull), "text", numMerges = 30)
    assert(trained.size > 10)
    Seq(TextStatsOps.BpeDemoMerges, trained).foreach { merges =>
      assertSame(
        docs.select(col("doc_id"),
          TextStatsOps.bpeTokenCount(col("text"), merges).as("ws"),
          TextStatsOps.bpeTokenCountBytes(col("text"), merges).as("by")),
        docs.select(col("doc_id"),
          ReferenceTiers.bpeTokenCount(col("text"), merges).as("ws"),
          ReferenceTiers.bpeTokenCountBytes(col("text"), merges).as("by")))
    }
  }

  test("BPE DataFrame kernels ≡ reference on generated documents") {
    val merges = TextStatsOps.BpeDemoMerges
    val refBytes = ReferenceTiers.bpeEncodeTokensBytes(docs, "doc_id", "text")
    val refWords = ReferenceTiers.bpeEncodeTokens(docs, "doc_id", "text")
    assertSame(TextStatsOps.bpeEncodeTokensBytes(docs, "doc_id", "text"),
      refBytes)
    assertSame(TextStatsOps.bpeEncodeTokens(docs, "doc_id", "text"),
      refWords)
    assertFrameEqual(TextStatsOps.bpeEncodeRanked(docs, "doc_id", "text",
      merges, TextStatsOps.bpeVocab(merges)), refBytes)
    // the count kernel prices NULL text at 0 where the Column is NULL
    assertFrameEqual(
      TextStatsOps.bpeTokenCountRanked(docs, "doc_id", "text", merges),
      docs.select(col("doc_id"), coalesce(
        ReferenceTiers.bpeTokenCountBytes(col("text")), lit(0L))
        .as("n_bpe")))
    assertFrameEqual(
      TextStatsOps.bpeTokenCountRanked(docs, "doc_id", "text", merges,
        byteLevel = false),
      docs.select(col("doc_id"), coalesce(
        ReferenceTiers.bpeTokenCount(col("text")), lit(0L)).as("n_bpe")))
  }

  test("unigram Column functions and kernels ≡ reference on generated " +
      "documents") {
    assertSame(
      wordRows.select(col("w"),
        TextStatsOps.unigramTokenCount(col("w"), vocab, Unk, Mtl).as("n"),
        TextStatsOps.unigramViterbiPieces(col("w"), vocab, Unk, Mtl)
          .as("p")),
      wordRows.select(col("w"),
        ReferenceTiers.unigramTokenCount(col("w"), vocab, Unk, Mtl).as("n"),
        ReferenceTiers.unigramViterbiPieces(col("w"), vocab, Unk, Mtl)
          .as("p")))
    val refDoc = docs.select(col("doc_id"),
      ReferenceTiers.unigramTokenCountDoc(col("text"), vocab, Unk, Mtl)
        .as("n_tokens"))
    assertSame(docs.select(col("doc_id"),
      TextStatsOps.unigramTokenCountDoc(col("text"), vocab, Unk, Mtl)
        .as("n_tokens")), refDoc)
    assertFrameEqual(TextStatsOps.unigramEncodeDocsKernel(docs, "doc_id",
      "text", vocab, Unk, Mtl).select("doc_id", "n_tokens"), refDoc)
    val refRows = docs
      .select(col("doc_id"),
        posexplode(TextStatsOps.words(col("text"))).as(Seq("word_idx", "w")))
      .select(col("doc_id"), col("word_idx"),
        posexplode(ReferenceTiers.unigramViterbiPieces(col("w"), vocab, Unk,
          Mtl)).as(Seq("piece_idx", "piece")))
    assertFrameEqual(TextStatsOps.unigramEncodeRowsKernel(docs, "doc_id",
      "text", vocab, Unk, Mtl).drop("in_vocab"), refRows)
  }

  test("rewired Column functions: NULL and empty results and types") {
    val edge = docs.filter(col("doc_id") >= 1000L)
      .select(col("doc_id"),
        TextStatsOps.bpeTokenCount(col("text")).as("ws"),
        TextStatsOps.bpeTokenCountBytes(col("text")).as("by"),
        TextStatsOps.unigramTokenCount(col("text"), vocab, Unk).as("uw"),
        TextStatsOps.unigramTokenCountDoc(col("text"), vocab, Unk).as("ud"),
        TextStatsOps.unigramViterbiPieces(col("text"), vocab, Unk).as("up"))
    assert(edge.schema.tail.map(f => (f.name, f.dataType)) ==
      Seq("ws" -> LongType, "by" -> LongType, "uw" -> IntegerType,
        "ud" -> LongType, "up" -> ArrayType(StringType)))
    val got = edge.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // NULL: bpe counts NULL, unigram counts 0, pieces []
    assert(got(1000L) == Seq(null, null, 0, 0L, Seq.empty[String]))
    // empty: every count 0, pieces []
    assert(got(1001L) == Seq(0L, 0L, 0, 0L, Seq.empty[String]))
    // all-whitespace: no words, but the byte-level pretokenizer keeps
    // three pretokens — " \t\n", the \x0B (punctuation branch) and
    // "\r " — at one marked symbol per char
    assert(got(1002L).take(2) == Seq(0L, 6L))
    assert(got(1002L)(3) == 0L)
    // the encoders emit no rows for NULL, empty or all-whitespace text
    // on the word tier
    val edgeDocs = docs.filter(col("doc_id") >= 1000L)
    assert(TextStatsOps.bpeEncodeTokens(edgeDocs, "doc_id", "text")
      .count() == 0)
    assert(TextStatsOps.bpeEncodeTokensBytes(edgeDocs, "doc_id", "text")
      .filter(col("doc_id") =!= 1002L).count() == 0)
  }
}
