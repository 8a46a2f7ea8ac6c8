package graft

import graft.llm.TextDedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the MinHash signature kernel:
  * `TextDedupOps.minHashSignatures` against the explode + `min`
  * aggregation in [[ReferenceTiers]], compared on the full schema (the
  * signature's `containsNull` included) and on exact rows. Documents:
  * NULL, empty, all-whitespace, punctuation-only, shorter than the
  * shingle length, non-BMP, one of more than 1 MB, and generated
  * multi-word texts over a small alphabet (dense in shared shingles).
  * Parameters: every shingle length in {1, 2, 3, 5, 6, 7} (6 and 7
  * wrap the five polynomial coefficients) × k in {1, 8, 32, 64} × two
  * seeds. Bit-identity is the contract: persisted LSH indexes hold
  * signatures, and nothing recomputes them. Fixed seeds, as in
  * [[PropertySpec]]. */
class MinHashKernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Letters = "abcdeABCDE0123"
  private val Astral = Seq("𝕏", "😀", "𠀋", "🌍")
  private val Punct = Seq("!", ".", ",", "-", "'", "?", "…", "é")

  private val charGen: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf(Letters.map(_.toString)),
    1 -> Gen.oneOf(Astral),
    1 -> Gen.oneOf(Punct))

  private def docOf(minWords: Int, maxWords: Int): Gen[String] = for {
    n <- Gen.chooseNum(minWords, maxWords)
    ws <- Gen.listOfN(n, Gen.chooseNum(1, 6)
      .flatMap(l => Gen.listOfN(l, charGen).map(_.mkString)))
    seps <- Gen.listOfN(n, Gen.oneOf(" ", "  ", "\t", "\n", ", ", ". ",
      " - "))
  } yield ws.zip(seps).map { case (w, s) => w + s }.mkString

  private val docGen: Gen[String] = Gen.frequency(
    2 -> docOf(1, 2),
    5 -> docOf(3, 12),
    2 -> docOf(20, 60))

  /** More than 1 MB of short words from a five-letter alphabet. */
  private val bigDoc: String = {
    val rnd = new scala.util.Random(17L)
    val sb = new StringBuilder
    while (sb.length < (1 << 20) + 1000)
      sb.append((0 to rnd.nextInt(6)).map(_ => "abcde"(rnd.nextInt(5)))
        .mkString).append(' ')
    sb.toString
  }

  /** 150 generated documents (ids 0..149) plus one of each edge class
    * pinned by id. */
  private lazy val docs: DataFrame = {
    val gen = (0 until 150).map(i =>
      (i.toLong, docGen.pureApply(Gen.Parameters.default, Seed(7000L + i))))
    val edge = Seq(
      1000L -> null, 1001L -> "", 1002L -> " \t\n\u000B\r  ",
      1003L -> "!!! ... ?! -- …", 1004L -> "word", 1005L -> "Two  words!",
      1006L -> "𝕏😀 𠀋🌍", 1007L -> "héllo wörld 😀 día 𝕏x",
      1008L -> "a b c d e f g h", 1009L -> bigDoc)
    (gen ++ edge).toDF("doc_id", "text").cache()
  }

  test("signature kernel ≡ reference: schema and rows over shingleN × " +
      "k × seed") {
    assert(bigDoc.length > (1 << 20))
    for (n <- Seq(1, 2, 3, 5, 6, 7); k <- Seq(1, 8, 32, 64);
         seed <- Seq(42L, 7L)) {
      val got = TextDedupOps.minHashSignatures(docs, "doc_id", "text", n,
        k, seed)
      val ref = ReferenceTiers.minHashSignatures(docs, "doc_id", "text", n,
        k, seed)
      assert(got.schema == ref.schema, s"n=$n k=$k seed=$seed")
      withClue(s"n=$n k=$k seed=$seed: ") { assertFrameEqual(got, ref) }
    }
  }

  test("signature type and NULL contract") {
    val sigs = TextDedupOps.minHashSignatures(docs, "doc_id", "text", 3, 8)
    assert(sigs.schema("signature") ==
      StructField("signature", ArrayType(LongType, containsNull = true),
        nullable = false))
    val byId = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Any](1))
      .toMap
    // NULL text (doc 1000) has no signature row
    assert(byId.size == 159 && !byId.contains(1000L))
    byId.foreach { case (id, s) =>
      assert(s.size == 8 && s.forall(_ != null), s"doc $id")
    }
    // everything outside [a-z0-9 ] normalizes away: empty,
    // all-whitespace, punctuation-only and astral-only texts are all
    // the one empty word
    assert(Seq(1002L, 1003L, 1006L).forall(i => byId(i) == byId(1001L)))
  }

  test("NULL-text documents give no signature rows and no candidate " +
      "pairs") {
    val nulls = (0L until 20L).map(i => (i, null: String)).toDF("doc_id",
      "text")
    assert(TextDedupOps.minHashSignatures(nulls, "doc_id", "text").isEmpty)
    val mixed = nulls.unionByName(Seq((100L, "alpha beta gamma delta"),
      (101L, "alpha beta gamma delta")).toDF("doc_id", "text"))
    val pairs = TextDedupOps.lshCandidatePairs(
        TextDedupOps.minHashSignatures(mixed, "doc_id", "text"), "doc_id",
        bands = 8, threshold = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((100L, 101L)), pairs.toSeq)
  }

  test("one signature per input row: ids are a key, never merged") {
    val dup = Seq((1L, "alpha beta gamma"), (1L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val rows = TextDedupOps.minHashSignatures(dup, "doc_id", "text")
      .collect()
    assert(rows.length == 2 && rows.map(_.getSeq[Long](1)).distinct.length == 2)
  }
}
