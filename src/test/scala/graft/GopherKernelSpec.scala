package graft

import graft.llm.TextStatsOps
import org.apache.spark.sql.functions._

/** r20 optimization guard: [[TextStatsOps.gopherRepetition]] moved
  * from the staged column-expression tier to a mapPartitions
  * primitive-array kernel. The two faces a bit-exact DuckDB oracle
  * downstream (every fraction is an int/int IEEE division), so this
  * spec pins the kernel EXACTLY equal — doubleToLongBits on every
  * fraction, strict equality (incl. nullness) on every boolean — to
  * the expression tier, `ReferenceTiers.gopherRepetitionExpr`, on
  * (a) the planted gate corpus the gopher_repetition oracle query
  * uses, and (b) adversarial fixtures: NULL text, empty text (the
  * 0/0 = NaN fence), whitespace-only, all-blank lines, heavy line/
  * paragraph duplication, sub-n documents, top-n-gram count ties with
  * different char masses, overlapping duplicate n-grams, multi-byte
  * and astral-plane code points (Spark `length` counts code points,
  * not UTF-16 units — a naive String.length kernel would diverge). */
class GopherKernelSpec extends SparkSpec {
  import spark.implicits._

  private def assertBitEqual(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = GopherKernelSpec.mismatches(df)
    assert(bad.isEmpty, bad.take(20).mkString("\n"))
  }

  test("kernel ≡ expression tier on the planted gate corpus (sf0.001)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    // the same planting the gopher_repetition oracle query applies:
    // duplicated lines, duplicated paragraphs, a repeated 5-gram tail
    val g5 = array_join(slice(TextStatsOps.words(col("text")), 1, 5), " ")
    val planted = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(col("text"), lit("\n"), col("text")))
      .when(pmod(col("doc_id"), lit(5)) === 1,
        concat(col("text"), lit("\n\n"), col("text")))
      .when(pmod(col("doc_id"), lit(5)) === 2,
        concat(col("text"), lit(" "), repeat(concat(g5, lit(" ")), 8)))
      .otherwise(col("text")).as("text"))
    assertBitEqual(planted)
  }

  test("kernel ≡ expression tier on adversarial fixtures") {
    val fixtures: Seq[(Long, String)] = Seq(
      1L -> null,
      3L -> "   \t  ",
      4L -> "\n\n\n",
      5L -> "a",
      6L -> "a b",
      7L -> "a b c d e f g h i j",           // all-distinct, sub-dup-n sizes
      8L -> "x y x y x y x y x y x y",       // saturated 2-gram repeats
      9L -> "line one\nline one\nline two\n\nline one",
      10L -> "para\n\npara\n\nother\n\n\npara",
      11L -> "aa b aa b cc ddd cc ddd cc ddd", // count tie, mass differs
      12L -> "w w w w w w w w w w w w",        // overlapping dup n-grams
      13L -> "é ü é ü ñ𝕏 ñ𝕏 é ü 𝄞 𝄞 é ü",      // multi-byte + astral
      14L -> ("p q r s t u v w " * 4).trim,    // period-8 repeats
      15L -> "one two three four five one two three four five six",
      16L -> "  leading and trailing   spaces  ",
      17L -> "#### ... #### ...\n#### ... #### ...",
      18L -> (0 until 40).map(i => s"w${i % 7}").mkString(" "),
      19L -> "𝕏" * 12,                          // single astral word
      20L -> Seq.fill(6)("𝕏a b𝄞").mkString(" ") // astral inside n-grams
    )
    assertBitEqual(fixtures.toDF("doc_id", "text"))
  }

  // The ONE deliberate divergence, pinned so it can never drift
  // silently: length(text) = 0 makes every char fraction 0/0. Under
  // ANSI (Spark 4 default) the expression tier's Divide THROWS
  // DIVIDE_BY_ZERO — one empty document would fail a whole curation
  // job — while the kernel computes the IEEE 0.0/0.0 = NaN the DuckDB
  // oracle twin also produces: NaN fails every `<= threshold` rule, so
  // the empty document is cleanly dropped (keep = false).
  test("empty text: kernel yields NaN-driven keep=false where the " +
      "expression tier throws under ANSI") {
    val df = Seq((1L, "")).toDF("doc_id", "text")
    val thrown = intercept[Throwable] {
      ReferenceTiers.gopherRepetitionExpr(df, "doc_id", "text").collect()
    }
    assert(thrown.getMessage.contains("DIVIDE_BY_ZERO"),
      s"expected ANSI divide-by-zero, got: ${thrown.getMessage}")
    val r = TextStatsOps.gopherRepetition(df, "doc_id", "text").collect()(0)
    val cols = TextStatsOps.gopherRepetition(df, "doc_id", "text").columns
    assert(r.getDouble(cols.indexOf("dup_line_frac")) == 0.0)   // guarded 0/0
    assert(r.getDouble(cols.indexOf("dup_line_cfrac")).isNaN)
    assert(r.getDouble(cols.indexOf("top_2gram_cfrac")).isNaN)
    assert(r.getDouble(cols.indexOf("dup_5gram_cfrac")).isNaN)
    assert(r.getBoolean(cols.indexOf("ok_dup_line")))           // 0.0 <= 0.3
    assert(!r.getBoolean(cols.indexOf("ok_dup_line_chars")))    // NaN fails
    assert(!r.getBoolean(cols.indexOf("keep")))
  }

  test("gopherRepetitionKept: direct kernel filter ≡ aggregation-barrier filter") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit("\n"), col("text"), lit("\n"), col("text")))
        .otherwise(col("text")))
    val kept = TextStatsOps.gopherRepetitionKept(docs, "doc_id", "text")
    val viaBarrier = docs.join(
      ReferenceTiers.gopherRepetitionExpr(docs, "doc_id", "text")
        .groupBy(col("doc_id")).agg(max(col("keep")).as("__keep"))
        .filter(col("__keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    assertFrameEqual(kept, viaBarrier)
    // the gate must actually discriminate on this fixture
    val n = docs.count(); val k = kept.count()
    assert(k > 0 && k < n, s"degenerate fixture: $k of $n kept")
  }

  test("n-gram table capacity: power of two ≥ 2·starts in long " +
      "arithmetic; past 2^30 slots it rejects naming the word count") {
    import TextStatsOps.ngramTableCapacity
    assert(ngramTableCapacity(-3, 2) == 4) // sub-n document
    assert(ngramTableCapacity(0, 5) == 4)
    assert(ngramTableCapacity(2, 6) == 4)
    assert(ngramTableCapacity(3, 7) == 8)
    assert(ngramTableCapacity(1000, 1004) == 2048)
    // the boundary: 2^29 starts fit exactly; one more start (or the
    // Int-overflow range the old loop spun on) must fail, not hang
    assert(ngramTableCapacity(1 << 29, (1 << 29) + 4) == (1 << 30))
    for (starts <- Seq((1 << 29) + 1, 1 << 30, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException] {
        ngramTableCapacity(starts, starts)
      }
      assert(e.getMessage.contains(s"$starts words"), e.getMessage)
    }
  }
}

object GopherKernelSpec {

  /** Every difference between the kernel and the expression tier on
    * `df` (doc_id, text): column names and types, the row ids, then
    * doubleToLongBits on each fraction and strict equality (incl.
    * nullness) on each boolean. Empty when the two agree exactly. */
  def mismatches(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val kern = TextStatsOps.gopherRepetition(df, "doc_id", "text")
    val expr = ReferenceTiers.gopherRepetitionExpr(df, "doc_id", "text")
    def typed(d: org.apache.spark.sql.DataFrame) =
      d.schema.map(f => (f.name, f.dataType))
    if (typed(kern) != typed(expr))
      return Seq(s"schemas differ: ${typed(kern)} vs ${typed(expr)}")
    val k = kern.collect().map(r => r.getLong(0) -> r).toMap
    val e = expr.collect().map(r => r.getLong(0) -> r).toMap
    if (k.keySet != e.keySet)
      return Seq(s"row sets differ: ${k.keySet.diff(e.keySet)} vs " +
        s"${e.keySet.diff(k.keySet)}")
    def same(kv: Any, ev: Any): Boolean = (kv, ev) match {
      case (kd: Double, ed: Double) =>
        java.lang.Double.doubleToLongBits(kd) ==
          java.lang.Double.doubleToLongBits(ed)
      case _ => kv == ev
    }
    for {
      (id, kr) <- k.toSeq.sortBy(_._1)
      c <- 1 until kern.columns.length
      if !same(kr.get(c), e(id).get(c))
    } yield s"doc $id col ${kern.columns(c)}: kernel=${kr.get(c)} " +
      s"expr=${e(id).get(c)}"
  }
}
