package graft

import graft.llm.TextStatsOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the Gopher repetition kernels:
  * `TextStatsOps.gopherRepetition` and `gopherRepetitionKept` against
  * the staged-expression replay `ReferenceTiers.gopherRepetitionExpr`
  * on generated documents — NULL, empty, all-whitespace, non-BMP
  * (accented and astral code points) and repetition-heavy documents
  * whose lines come from a small per-document pool over a small
  * alphabet, so duplicate lines, paragraphs and word n-grams are
  * common — plus one document above 1 MB. Fixed seeds, as in
  * [[TokenizerPropertySpec]]. Empty text is the one input the two
  * tiers treat differently (the replay throws DIVIDE_BY_ZERO under
  * ANSI, the kernel yields NaN and drops the document; see
  * [[GopherKernelSpec]]), so the replay runs on the other documents
  * and the empty ones are checked on the kernel side. */
class GopherPropertySpec extends SparkSpec {
  import spark.implicits._

  private val letter: Gen[String] = Gen.oneOf("abcxyz".map(_.toString))
  private val nonBmp: Gen[String] = Gen.frequency(
    4 -> letter,
    1 -> Gen.oneOf("é", "ñ", "ü"),
    2 -> Gen.oneOf("𝕏", "😀", "𠀋", "🌍"))
  private val Spaces = Seq(" ", "\t", "\n", "\r", "\u000B", "\u000C")

  private def wordOf(ch: Gen[String]): Gen[String] =
    Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, ch).map(_.mkString))

  private def lineOf(ch: Gen[String]): Gen[String] =
    Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, wordOf(ch)).map(_.mkString(" ")))

  /** 1–12 lines drawn from a pool of 1–4, joined by line, paragraph
    * and in-line separators. */
  private def docOf(ch: Gen[String]): Gen[String] = for {
    pool <- Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, lineOf(ch)))
    n <- Gen.chooseNum(1, 12)
    lines <- Gen.listOfN(n, Gen.oneOf(pool))
    seps <- Gen.listOfN(n, Gen.oneOf("\n", "\n\n", "\n\n\n", " ", "\t"))
  } yield lines.zip(seps).map { case (l, s) => l + s }.mkString

  private val docGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    1 -> Gen.const(""),
    1 -> Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Spaces)).map(_.mkString)),
    4 -> docOf(letter),
    4 -> docOf(nonBmp))

  private def sample(g: Gen[String], seed: Long): String =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** 200 generated documents (ids 0..199) plus one of each edge class
    * pinned by id: 1000 NULL, 1001 empty, 1002 all-whitespace, 1003
    * all-blank lines. */
  private lazy val docs: DataFrame =
    ((0 until 200).map(i => (i.toLong, sample(docGen, 7000L + i))) ++
      Seq((1000L, null), (1001L, ""), (1002L, " \t\n\u000B\r "),
        (1003L, "\n\n\n")))
      .toDF("doc_id", "text").cache()

  private def nonEmpty(df: DataFrame): DataFrame =
    df.filter(col("text").isNull || length(col("text")) > 0)

  /** Ids whose reference `keep` is true (NULL keep is not kept). */
  private def referenceKept(df: DataFrame): Set[Long] =
    ReferenceTiers.gopherRepetitionExpr(nonEmpty(df), "doc_id", "text")
      .collect().filter(r => !r.isNullAt(r.fieldIndex("keep")) &&
        r.getBoolean(r.fieldIndex("keep"))).map(_.getLong(0)).toSet

  private def kernelKept(df: DataFrame): Set[Long] =
    TextStatsOps.gopherRepetitionKept(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet

  test("gopherRepetition ≡ reference on generated documents") {
    val bad = GopherKernelSpec.mismatches(nonEmpty(docs))
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
    // the generated set exercises both outcomes of the gate
    val keeps = TextStatsOps.gopherRepetition(docs, "doc_id", "text")
      .select("keep").as[Option[Boolean]].collect().toSeq
    assert(keeps.contains(Some(true)) && keeps.contains(Some(false)) &&
      keeps.contains(None), keeps.groupBy(identity).map(kv =>
        kv._1 -> kv._2.size).toString)
  }

  test("gopherRepetitionKept ≡ the reference keep on generated " +
      "documents; NULL and empty text never survive") {
    val kept = kernelKept(docs)
    assert(kept == referenceKept(docs),
      s"kernel-only ${kept -- referenceKept(docs)}, reference-only " +
        s"${referenceKept(docs) -- kept}")
    val nullOrEmpty = docs.filter(col("text").isNull || col("text") === "")
      .select("doc_id").as[Long].collect().toSet
    assert(nullOrEmpty.contains(1000L) && nullOrEmpty.contains(1001L))
    assert((kept & nullOrEmpty).isEmpty, kept & nullOrEmpty)
    // empty text: every char fraction is 0/0 = NaN, so keep is false
    val empty = TextStatsOps.gopherRepetition(
        docs.filter(col("text") === ""), "doc_id", "text")
      .select("keep", "dup_line_cfrac").collect()
    assert(empty.nonEmpty && empty.forall(r =>
      !r.getBoolean(0) && r.getDouble(1).isNaN))
  }

  test("a document above 1 MB: kernel ≡ reference, and " +
      "gopherRepetitionKept agrees with keep") {
    val sb = new StringBuilder
    var seed = 90000L
    while (sb.toString.getBytes("UTF-8").length <= (1 << 20) + 4096) {
      (0 until 256).foreach { _ =>
        sb.append(sample(docOf(nonBmp), seed)).append('\n'); seed += 1 }
    }
    val long = Seq((1L, sb.toString)).toDF("doc_id", "text")
    val bad = GopherKernelSpec.mismatches(long)
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
    assert(kernelKept(long) == referenceKept(long))
  }
}
