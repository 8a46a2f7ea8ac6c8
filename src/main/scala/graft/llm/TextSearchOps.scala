package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical retrieval and corpus-statistics operators for training-data
  * curation: BM25 keyword search, TF-IDF keyword extraction, and global
  * boilerplate-line removal (the CCNet/RefinedWeb "remove lines that
  * repeat across many documents" step).
  *
  * Scale design (100 TB):
  *  - BM25: per-document term frequencies are row-local HOF arithmetic
  *    inside the scan (no explode of the token stream); the corpus-level
  *    statistics (N, avgdl, one document-frequency per query term) are a
  *    SINGLE partially-aggregated scalar row, attached back via a
  *    broadcast — so the whole query is scan → tiny agg → scan → top-k
  *    (TakeOrderedAndProject), never a token-level shuffle.
  *  - TF-IDF: the one operator here that genuinely needs the token-level
  *    shuffle (df over the full vocabulary). One explode feeding a
  *    map-side-combined (doc, term) count; df derives from THAT
  *    aggregate (already term-clustered), and the per-doc top-n runs on
  *    the same (doc)-clustered layout. Vocabulary is sublinear in corpus
  *    size, so the df side is normally broadcastable — but the broadcast
  *    is guarded by a vocabulary pre-count with a loud AQE-shuffle
  *    fallback past the threshold.
  *  - Boilerplate removal: line frequencies aggregate map-side-combined;
  *    only lines ABOVE the document-frequency threshold (a tiny set by
  *    construction — that is what "boilerplate" means) are collected
  *    into a broadcast anti-join. Documents reassemble with one
  *    doc-keyed shuffle. No all-pairs anything.
  */
object TextSearchOps {

  /** BM25 top-k lexical retrieval (Robertson/Spärck Jones; the k1/b
    * formulation every search engine ships). Query terms are matched
    * against the normalized token stream ([[TextDedupOps.normalize]]).
    *
    * idf_t  = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))   (BM25+ smoothing)
    * score  = Σ_t idf_t · tf_t·(k1+1) / (tf_t + k1·(1 − b + b·dl/avgdl))
    *
    * Returns (idCol, score) for the k highest-scoring documents that
    * match at least one term, ties broken by ascending id. Reference:
    * the reference exposes no retrieval op — this extends the corpus
    * toolkit the way `pandas/core/strings` extends scalar text ops.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    // materialize the token array once (HOF re-evaluation rule — see
    // TextStatsOps.shingles): one normalize+split per row, not per term
    val toks = col("__toks")
    val perDoc = docs
      .withColumn("__toks", TextStatsOps.tokens(col(textCol)))
      .select(
        col(idCol) +: size(toks).cast("double").as("__dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(toks, x => x === lit(t))).cast("double").as(s"__tf$i")
          }: _*)
    // one scalar row: N, avgdl, df per term — partial agg, no shuffle of
    // the documents themselves; broadcast back onto the scan
    val statCols = count(lit(1)).cast("double").as("__n") ::
      avg(col("__dl")).as("__avgdl") ::
      terms.indices.map(i =>
        sum(when(col(s"__tf$i") > 0, 1d).otherwise(0d)).as(s"__df$i")).toList
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i")
      val idf = log(lit(1d) +
        (col("__n") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i") + lit(0.5)))
      idf * tf * lit(k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    scored.withColumn("score", round(score, 6))
      .filter(terms.indices.map(i => col(s"__tf$i") > 0).reduce(_ || _))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Per-document top-n keywords by TF-IDF over the corpus vocabulary.
    *
    * tfidf = (tf/dl) · ln(N/df). Returns (idCol, term, tfidf, rn) with
    * rn ∈ [1,n], ties broken by ascending term. One token explode → one
    * map-side-combined (doc, term) count; df aggregates FROM that count
    * (already term-clustered) and joins back broadcast (vocabulary ≪
    * corpus); top-n is [[SimilarityOps.topKPerQuery]] keyed by document
    * — no unpartitioned window.
    */
  def tfIdfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxBroadcastTerms: Long = 4000000L): DataFrame = {
    val tokenized = docs
      .withColumn("__toks", TextStatsOps.tokens(col(textCol)))
      .select(col(idCol), explode(col("__toks")).as("term"),
        size(col("__toks")).as("__dl"))
    val tf = tokenized.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
    val nRow = docs.agg(countDistinct(col(idCol)).cast("double").as("__n"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    // Guarded broadcast: for natural text the vocabulary is sublinear in
    // corpus size and the forced broadcast is right; a typo/ngram-heavy
    // web corpus can blow past the driver's broadcast ceiling, so count
    // the vocabulary first and past the threshold drop the hint — AQE
    // sizes the join from the real aggregate instead of OOMing the
    // driver (the contaminationScore fallback shape). The pre-count
    // re-evaluates the tf lineage once; corpus-scale callers who know
    // their vocabulary fits pass a higher threshold, or persist upstream.
    val vocab = df.count()
    val dfSide = if (vocab <= maxBroadcastTerms) broadcast(df) else {
      System.err.println(s"graft.TextSearchOps: vocabulary has $vocab terms " +
        s"(> maxBroadcastTerms=$maxBroadcastTerms) — df join falls back " +
        "from broadcast to an AQE-sized shuffle join")
      df
    }
    val scored = tf.join(dfSide, "term").crossJoin(broadcast(nRow))
      .withColumn("tfidf", round(
        col("__tf").cast("double") / col("__dl") * log(col("__n") / col("__df")),
        6))
    SimilarityOps.topKPerQuery(scored, idCol, "term", n, "tfidf")
      .select(col(idCol), col("term"), col("tfidf"), col("rn"))
  }

  /** Remove lines that occur in ≥ `minDocs` distinct documents — the
    * standard cross-document boilerplate filter (navigation bars, cookie
    * banners, licence footers). `sep` delimits lines; line identity is
    * the raw line string (callers wanting normalized matching pass
    * pre-normalized text). Documents whose every line is boilerplate
    * drop out of the result entirely (both a feature and the exact
    * behavior of the reference pipelines this models).
    *
    * Returns (idCol, cleanCol) with line order preserved. The frequent
    * set is collected and broadcast — it is O(#boilerplate lines), tiny
    * by definition; the threshold guards the degenerate corpus where
    * every line is frequent (caller sees the size in the plan).
    */
  def removeBoilerplateLines(docs: DataFrame, idCol: String,
      textCol: String, sep: String, minDocs: Long,
      cleanCol: String = "clean"): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("col", "__line").withColumnRenamed("pos", "__pos")
    val frequent = lines.groupBy(col("__line"))
      .agg(countDistinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("__line")
    lines.join(broadcast(frequent), Seq("__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(array_sort(collect_list(struct(col("__pos"), col("__line"))))
        .getField("__line"), sep).as(cleanCol))
  }
}
