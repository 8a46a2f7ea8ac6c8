package graft

import graft.llm.{ClassifierOps, TextDedupOps, TextStatsOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Test-scope reference implementations that exist only to pin a main
  * kernel. Each replays the kernel's semantics as Catalyst
  * expressions, written independently of the JVM loop, so the ≡ specs
  * compare two implementations instead of main with itself:
  *   - BPE: the replace fixpoint over the space-joined symbol string
  *     (the form the DuckDB oracles replay), against
  *     `TextStatsOps.bpeMergeRanked` and the functions built on it;
  *   - unigram: the Viterbi DP as an `aggregate` over prefix cells,
  *     against `TextStatsOps.viterbiSegment`;
  *   - Gopher repetition: the staged expression form, against
  *     `TextStatsOps.gopherRepetition`;
  *   - MinHash: the shingle explode + k-way `min` aggregation, against
  *     `TextDedupOps.minHashSignatures`;
  *   - hashed classifier: the per-occurrence word-bucket explode, against
  *     `ClassifierOps`' histogram kernel and trainer.
  * Every table rides the plan as a literal and every loop is an
  * interpreted higher-order function: fine for spec-sized inputs,
  * O(len²) and worse per word. */
object ReferenceTiers {

  // ───── BPE ─────

  /** Pretoken array of a text column under the GPT-2 pretokenizer
    * regex. */
  private def gpt2Pretokens(text: Column): Column =
    regexp_extract_all(text, lit(TextStatsOps.Gpt2PretokenRe), lit(0))

  /** GPT-2 byte-encoder marks for the six whitespace/control chars
    * (space→Ġ, tab→ĉ, LF→Ċ, VT→ċ, FF→Č, CR→č). */
  private def byteMark(tok: Column): Column =
    translate(tok, " \t\n\u000B\u000C\r", "ĠĉĊċČč")

  /** Final BPE symbols of ONE word: the state is the symbols
    * space-joined and padded, and each step applies the first
    * (lowest-rank) rule whose pattern the state contains as one
    * non-overlapping left-to-right `replace`, for at most len−1 steps
    * (every step removes a symbol). `rules` is
    * `typedLit(bpeMergePatterns(merges))`. */
  private def bpeWordSymbols(w: Column, rules: Column): Column = {
    val init = concat(lit(" "),
      array_join(transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1))), " "), lit(" "))
    aggregate(
      sequence(lit(1), greatest(length(w) - 1, lit(1))),
      init,
      (st, _) => {
        val applicable = filter(rules, r => contains(st, r.getField("_1")))
        when(size(applicable) > 0,
          replace(st, element_at(applicable, 1).getField("_1"),
            element_at(applicable, 1).getField("_2")))
          .otherwise(st)
      },
      st => split(trim(st), " "))
  }

  private def rulesOf(merges: Seq[(String, String)]): Column =
    typedLit(TextStatsOps.bpeMergePatterns(merges))

  private def countSymbols(units: Column, mark: Column => Column,
      merges: Seq[(String, String)]): Column = {
    val rules = rulesOf(merges)
    aggregate(
      transform(units, t => size(bpeWordSymbols(mark(t), rules)).cast("long")),
      lit(0L), (a, b) => a + b)
  }

  /** `TextStatsOps.bpeTokenCount`: symbols summed over whitespace words. */
  def bpeTokenCount(text: Column,
      merges: Seq[(String, String)] = TextStatsOps.BpeDemoMerges): Column =
    countSymbols(TextStatsOps.words(text), identity, merges)

  /** `TextStatsOps.bpeTokenCountBytes`: symbols summed over byte-marked
    * GPT-2 pretokens. */
  def bpeTokenCountBytes(text: Column,
      merges: Seq[(String, String)] = TextStatsOps.BpeDemoMerges): Column =
    countSymbols(gpt2Pretokens(text), byteMark, merges)

  private def encode(df: DataFrame, idCol: String, units: Column,
      posName: String, mark: Column => Column,
      merges: Seq[(String, String)]): DataFrame = {
    val rules = rulesOf(merges)
    val vocab = typedLit(TextStatsOps.bpeVocab(merges))
    df.select(col(idCol), posexplode(units).as(Seq(posName, "__w")))
      .select(col(idCol), col(posName),
        posexplode(bpeWordSymbols(mark(col("__w")), rules))
          .as(Seq("sym_idx", "token")))
      .withColumn("token_id",
        when(length(col("token")) === 1, ascii(col("token")))
          .otherwise(element_at(vocab, col("token"))).cast("int"))
  }

  /** `TextStatsOps.bpeEncodeTokens`: (id, word_idx, sym_idx, token,
    * token_id) with demo ids. */
  def bpeEncodeTokens(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)] = TextStatsOps.BpeDemoMerges): DataFrame =
    encode(df, idCol, TextStatsOps.words(col(textCol)), "word_idx",
      identity, merges)

  /** `TextStatsOps.bpeEncodeTokensBytes`: (id, tok_idx, sym_idx, token,
    * token_id) over byte-marked GPT-2 pretokens. */
  def bpeEncodeTokensBytes(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)] = TextStatsOps.BpeDemoMerges): DataFrame =
    encode(df, idCol, gpt2Pretokens(col(textCol)), "tok_idx", byteMark,
      merges)

  // ───── Unigram Viterbi ─────

  private val NegInf = -(1L << 50) // headroom: never overflows when summed

  /** Forward DP over the prefix cells of `w`: cell i+1 holds the best
    * (score, −ntok, bp) for prefix [0, i), the lexicographic struct
    * max over candidate last tokens w[j, i) — so full ties go to the
    * largest split position j. */
  private def viterbiCells(w: Column, vocab: Map[String, Long],
      unkCharMicro: Long, maxTokenLen: Int)(finish: Column => Column)
      : Column = {
    val vlit = typedLit(vocab)
    aggregate(
      sequence(lit(1), greatest(length(w), lit(1))), // n=0 guarded by callers
      array(struct(lit(0L).as("score"), lit(0).as("negntok"),
        lit(0).as("bp"))),
      (acc, i) => {
        val jStart = greatest(i - maxTokenLen, lit(0))
        val cands = transform(sequence(jStart, i - 1), j => {
          val tok = w.substr(j + 1, i - j)
          val prev = element_at(acc, j + 1)
          val tokScore = coalesce(element_at(vlit, tok),
            when(i - j === 1, lit(unkCharMicro)).otherwise(lit(NegInf)))
          struct((prev.getField("score") + tokScore).as("score"),
            (prev.getField("negntok") - 1).as("negntok"),
            j.cast("int").as("bp"))
        })
        concat(acc, array(array_max(cands)))
      },
      finish)
  }

  /** `TextStatsOps.unigramTokenCount`: best-path token count, NULL and
    * empty words 0. */
  def unigramTokenCount(w: Column, vocab: Map[String, Long],
      unkCharMicro: Long, maxTokenLen: Int = 8): Column = {
    val state = viterbiCells(w, vocab, unkCharMicro, maxTokenLen)(
      acc => element_at(acc, -1))
    when(w.isNull || length(w) === 0, lit(0))
      .otherwise(-state.getField("negntok"))
  }

  /** `TextStatsOps.unigramTokenCountDoc`: per-word counts summed over
    * whitespace words; NULL text 0. */
  def unigramTokenCountDoc(text: Column, vocab: Map[String, Long],
      unkCharMicro: Long, maxTokenLen: Int = 8): Column =
    aggregate(TextStatsOps.words(coalesce(text, lit(""))), lit(0L),
      (a, w) => a + unigramTokenCount(w, vocab, unkCharMicro, maxTokenLen))
      .cast("long")

  /** `TextStatsOps.unigramViterbiPieces`: the best path's pieces, by a
    * backward walk over the backpointers; NULL and empty words []. */
  def unigramViterbiPieces(w: Column, vocab: Map[String, Long],
      unkCharMicro: Long, maxTokenLen: Int = 8): Column = {
    val n = length(w)
    val pieces = viterbiCells(w, vocab, unkCharMicro, maxTokenLen) { acc =>
      // cut positions n, bp(n), bp(bp(n)), … — exactly ntok hops reach 0
      val ntokN = -element_at(acc, -1).getField("negntok")
      val cuts = aggregate(
        sequence(lit(1), greatest(ntokN, lit(1))),
        struct(n.as("pos"), array().cast("array<int>").as("cuts")),
        (s, _) => {
          val pos = s.getField("pos")
          when(pos > 0, struct(
            element_at(acc, pos + 1).getField("bp").as("pos"),
            concat(array(pos), s.getField("cuts")).as("cuts")))
            .otherwise(s)
        },
        s => s.getField("cuts"))
      // slice the word between consecutive bounds 0 ++ cuts
      flatten(transform(array(concat(array(lit(0)), cuts)), bs =>
        transform(sequence(lit(1), size(bs) - 1), k =>
          w.substr(element_at(bs, k) + 1,
            element_at(bs, k + 1) - element_at(bs, k)))))
    }
    when(w.isNull || n === 0, array().cast("array<string>")).otherwise(pieces)
  }

  // ───── Gopher repetition ─────

  /** `TextStatsOps.gopherRepetition` as staged column expressions:
    * the same 13 fractions (`TextStatsOps.GopherRepetitionRules`
    * order), audit booleans and `keep`. Duplicate n-grams are found by
    * sorting (value, position) pairs and marking adjacent equals;
    * intermediates are staged as real columns (HOF lambdas re-evaluate
    * captured non-attribute trees per element) and each n's staging is
    * dropped before the next n's is built. Empty text throws
    * DIVIDE_BY_ZERO under ANSI, where the kernel yields NaN. Never
    * `.filter` on its columns directly: Catalyst would push the
    * predicate below the staging projects and re-evaluate the HOF trees
    * per element — go through an aggregation barrier. */
  def gopherRepetitionExpr(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val text = col(textCol)
    val emptyS = array().cast("array<string>")
    def ngramsOf(ws: Column, n: Int): Column =
      when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)),
          j => array_join(slice(ws, j, lit(n)), " "))).otherwise(emptyS)

    val dupNs = TextStatsOps.GopherDupNgramRules.map(_._1)
    // Stage the arrays the later lambdas capture — __ws, then PER n the
    // n-grams, their (value, position)-sorted twin, and per-start dup
    // flags — and DROP each n's staging before the next n starts, so
    // only one n's intermediates are ever live in a row at once: peak
    // transient row memory is ~3 arrays ≈ 15× text size, not the ~90×
    // that staging all six n simultaneously would pin at the A1.1
    // 100k-word cap. (The __cov columns that survive are one long
    // each.) Dup-flag algorithm: a start is duplicated iff its sorted
    // neighbor holds the same value; flags computed in sorted order
    // (O(m) adjacent compares), then scattered back to original
    // positions by re-sorting on the index field — O(m log m) total,
    // never a per-element array scan.
    val covStage = dupNs.foldLeft(df.withColumn("__ws", TextStatsOps.words(text))) {
      case (acc, n) =>
        val g = col("__g")
        val sp = col("__sp")
        val m = size(sp)
        val ds = col("__ds")
        acc
          .withColumn("__g", ngramsOf(col("__ws"), n))
          .withColumn("__sp",
            when(size(g) >= 1, array_sort(
              transform(sequence(lit(1), size(g)),
                k => struct(element_at(g, k).as("v"), k.as("i")))))
            .otherwise(array().cast("array<struct<v:string,i:int>>")))
          .withColumn("__ds",
            when(m >= 1, transform(
              array_sort(transform(sequence(lit(1), m), k => {
                val v = element_at(sp, k).getField("v")
                val dup = ((k > 1) && (element_at(sp, k - 1).getField("v") === v)) ||
                  ((k < m) && (element_at(sp, k + 1).getField("v") === v))
                struct(element_at(sp, k).getField("i").as("i"), dup.as("d"))
              })),
              p => p.getField("d")))
            .otherwise(array().cast("array<boolean>")))
          .withColumn(s"__cov$n",
            when(size(col("__ws")) >= n,
              aggregate(sequence(lit(1), size(col("__ws"))), lit(0L), (a, i) => {
                val lo = greatest(i - (n - 1), lit(1))
                val hi = least(i, size(ds))
                a + when(exists(slice(ds, lo, hi - lo + lit(1)), b => b),
                  length(element_at(col("__ws"), i)).cast("long")).otherwise(lit(0L))
              })).otherwise(lit(0L)))
          .drop("__g", "__sp", "__ds")
    }

    // most-frequent-n-gram char mass: one pass over the sorted array
    // tracking (run length, run char mass), best by (count, mass)
    def topMass(n: Int): Column = {
      val sorted = array_sort(ngramsOf(col("__ws"), n))
      aggregate(sorted,
        struct(lit("").as("prev"), lit(0).as("run"),
          lit(0).as("bc"), lit(0L).as("bm")),
        (st, x) => {
          val run = when(x === st.getField("prev"),
            st.getField("run") + 1).otherwise(lit(1))
          val mass = run.cast("long") * length(x)
          val better = (run > st.getField("bc")) ||
            (run === st.getField("bc") && mass > st.getField("bm"))
          struct(x.as("prev"), run.as("run"),
            when(better, run).otherwise(st.getField("bc")).as("bc"),
            when(better, mass).otherwise(st.getField("bm")).as("bm"))
        },
        st => st.getField("bm"))
    }

    val tlen = length(text)
    val lines = filter(split(text, "\n"), l => l =!= "")
    val paras = filter(split(text, "\n{2,}"), p => p =!= "")
    def sumLen(arr: Column): Column =
      aggregate(arr, lit(0L), (a, x) => a + length(x))
    // all-blank input leaves zero elements: define the fraction as 0
    // (ANSI would otherwise throw on the 0-denominator divide)
    def dupFrac(arr: Column): Column =
      when(size(arr) === 0, lit(0.0)).otherwise(
        (size(arr) - size(array_distinct(arr))).cast("double") / size(arr))
    def dupCharFrac(arr: Column): Column =
      (sumLen(arr) - sumLen(array_distinct(arr))).cast("double") / tlen

    val fractions: Seq[Column] =
      Seq(dupFrac(lines), dupCharFrac(lines), dupFrac(paras),
        dupCharFrac(paras)) ++
      TextStatsOps.GopherTopNgramRules.map { case (n, _) =>
        topMass(n).cast("double") / tlen } ++
      TextStatsOps.GopherDupNgramRules.map { case (n, _) =>
        col(s"__cov$n").cast("double") / tlen }
    val rules = TextStatsOps.GopherRepetitionRules
    // project each fraction exactly once, then derive the booleans from
    // the projected attribute (the HOF trees never re-evaluate)
    covStage.select(col(idCol) +:
        fractions.zip(rules).map { case (c, (fn, _, _)) => c.as(fn) }: _*)
      .select(col(idCol) +:
        (rules.map { case (fn, _, _) => col(fn) } ++
          rules.map { case (fn, on, th) => (col(fn) <= th).as(on) } :+
          rules.map { case (fn, _, th) => col(fn) <= th }
            .reduce(_ && _).as("keep")): _*)
  }

  // ───── MinHash ─────

  /** Shingle hashes WITHOUT building shingle strings: each word hashed
    * once, then n consecutive word hashes combined polynomially mod
    * `HashP`, coefficients cycling j % 5. Per shingle: n array lookups
    * + n mod-multiplies; every intermediate stays < 2^62 (ANSI-safe).
    * Shingle multiplicity is NOT deduped — min() is idempotent.
    *
    * `wordHashes` MUST be a materialized column (attribute), not an
    * inline transform(...) expression: HOF lambdas re-evaluate
    * captured subtrees per element (O(words²)).
    *
    * A document of m < n words (empty text normalizes to one empty
    * word) yields ONE shingle, the same polynomial over its m words:
    * terms past the end count 0. A NULL word array yields one NULL
    * shingle. The coefficients are restated here, not read from main:
    * they are part of the persisted signature format. */
  def shingleHashesFromWordHashes(wordHashes: Column, n: Int): Column = {
    val coeffs = Seq(1299709L, 15485863L, 32452843L, 49979687L, 67867967L)
    transform(
      sequence(lit(0), greatest(size(wordHashes) - n, lit(0))),
      i => pmod((0 until n).map { j =>
        val t = pmod(element_at(wordHashes, i + j + 1) *
          lit(coeffs(j % coeffs.size)), lit(TextDedupOps.HashP))
        if (j == 0) t else when(size(wordHashes) > i + j, t).otherwise(0L)
      }.reduce(_ + _), lit(TextDedupOps.HashP)))
  }

  /** MinHash signatures as an explode + map-side-combined `min`
    * aggregation: one row per shingle, k minima per doc behind one
    * exchange. Rows sharing an id merge into one signature; a NULL
    * text has no signature. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, seed: Long = 42L): DataFrame = {
    val p = TextDedupOps.HashP
    val exploded = df.filter(col(textCol).isNotNull)
      .withColumn("__words", split(TextDedupOps.normalize(col(textCol)), " "))
      .withColumn("__wh", transform(col("__words"),
        w => pmod(xxhash64(w), lit(p))))
      .select(col(idCol),
        explode(shingleHashesFromWordHashes(col("__wh"), shingleN)).as("__h"))
    val mins = TextDedupOps.hashParams(k, seed).zipWithIndex.map {
      case ((a, b), i) =>
        min(pmod(col("__h") * lit(a) + lit(b), lit(p))).as(s"__m$i")
    }
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until k).map(i => col(s"__m$i")): _*).as("signature"))
  }

  // ───── Hashed quality classifier ─────

  /** Per-occurrence word-bucket histogram: every whitespace word of the
    * text (NULL reads as empty) exploded, `md5Bucket`ed and counted
    * per (idCol, bucket) — rows only for nonzero counts. Against the
    * histogram kernel `ClassifierOps.bucketCountFeatures`. */
  def classifierHistogram(df: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    df.select(col(idCol), explode(transform(
        TextStatsOps.words(coalesce(col(textCol), lit(""))),
        t => TextStatsOps.md5Bucket(t, buckets))).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("n"))

  /** The hard-sigmoid trainer as a count-then-pass loop: `n` from its
    * own `count()`, then `iters` per-occurrence gradient passes (each
    * word occurrence and one bias slot per document exploded and
    * summed per bucket), weights updated with truncating division by
    * lrDen·n. Against `ClassifierOps.trainHardLogistic`, which folds
    * the count into its first pass over the histogram. */
  def trainHardLogistic(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int, iters: Int, lrDen: Long): Array[Long] = {
    val n = df.count()
    val w = Array.fill(buckets + 1)(0L)
    val txt = coalesce(col(textCol), lit(""))
    for (_ <- 1 to iters) {
      val z = ClassifierOps.logitMicro(txt, w.take(buckets).toSeq, w(buckets))
      val err = (ClassifierOps.hardSigmoidMicro(z) -
        col(labelCol).cast("long") * ClassifierOps.Micro).as("__err")
      val g = df.select(err,
          array_append(
            transform(TextStatsOps.words(txt),
              t => TextStatsOps.md5Bucket(t, buckets)),
            lit(buckets.toLong)).as("__bs"))
        .select(col("__err"), explode(col("__bs")).as("__b"))
        .groupBy("__b").agg(sum("__err").as("__g"))
        .collect()
        .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      for (j <- 0 to buckets) w(j) -= g.getOrElse(j, 0L) / (lrDen * n)
    }
    w
  }
}
