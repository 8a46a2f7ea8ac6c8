package graft

import graft.functions.CosineSimilarity
import graft.llm.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-query top-k core, [[SimilarityOps.topKPerQuery]], and the
  * tiers built on it: the ranking contract (exact ties by id
  * ascending, -0.0 tied with 0.0, NULL last, the same ranks on both
  * sides of Spark's 1000-row partial-limit threshold), the zero-norm
  * rule shared by the HOF and native cosine, and the k and nprobe
  * checks. Hermetic: every fixture is built here. */
class TopKCoreSpec extends SparkSpec {
  import spark.implicits._

  /** 24 deterministic 4-dim float vectors, ids 0..23. */
  private lazy val vecs: DataFrame = (0L until 24L).map { i =>
    (i, (0 until 4).map(j => math.sin(i * 7 + j * 3 + 1).toFloat).toArray)
  }.toDF("vec_id", "embedding")

  private def vec(id: Long, v: Seq[Float]): DataFrame =
    Seq((id, v.toArray)).toDF("vec_id", "embedding")

  private def queriesOf(corpus: DataFrame, below: Long): DataFrame =
    corpus.filter(col("vec_id") < below)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** (q, id, score-or-null, rn) rows ordered by (q, rn). */
  private def ranked(df: DataFrame): Seq[(Long, Long, Option[Double], Int)] =
    df.select("q_id", "vec_id", "score", "rn").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getInt(3)))
      .sortBy(t => (t._1, t._4))

  private def idsOf(rows: Seq[(Long, Long, Option[Double], Int)], q: Long)
      : Seq[Long] = rows.filter(_._1 == q).map(_._2)

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("topKPerQuery: exact ties by id ascending, -0.0 tied with 0.0, " +
      "NULL last, on the partially limited plan") {
    val n: Option[Double] = None
    val scored = Seq(
      (1L, 9L, Some(0.5)), (1L, 4L, Some(0.5)), (1L, 7L, Some(0.5)),
      (1L, 2L, Some(0.0)), (1L, 5L, Some(-0.0)), (1L, 3L, Some(0.0)),
      (1L, 1L, Some(-0.0)), (1L, 0L, n),
      (2L, 8L, n), (2L, 6L, Some(-1.0)), (2L, 3L, n))
      .toDF("q_id", "vec_id", "score").repartition(4)
    val all = ranked(SimilarityOps.topKPerQuery(scored, "q_id", "vec_id", 8))
    assert(idsOf(all, 1L) == Seq(4L, 7L, 9L, 1L, 2L, 3L, 5L, 0L))
    assert(idsOf(all, 2L) == Seq(6L, 3L, 8L))
    assert(all.filter(_._3.isEmpty).map(_._2).toSet == Set(0L, 3L, 8L))
    // a cut inside the signed-zero tie: ordering -0.0 below 0.0 would
    // keep 2, 3 here instead of 1, 2
    val cut = SimilarityOps.topKPerQuery(scored, "q_id", "vec_id", 5)
    assert(planOf(cut).contains("WindowGroupLimit"), planOf(cut))
    assert(idsOf(ranked(cut), 1L) == Seq(4L, 7L, 9L, 1L, 2L))
  }

  test("topKPerQuery: k below and above the 1000-row partial-limit " +
      "threshold both give the sort's ranks") {
    // 2 queries × 1500 candidates, dense in ties, signed zeros and NULLs
    def score(i: Int): Option[Double] =
      if (i % 97 == 0) None
      else if (i % 13 == 0) Some(if (i % 2 == 0) -0.0 else 0.0)
      else Some(((i * 37) % 11 - 5).toDouble)
    val rows = for (q <- Seq(1L, 2L); i <- 0 until 1500)
      yield (q, i.toLong, score(i + q.toInt))
    val scored = rows.toDF("q_id", "vec_id", "score").repartition(4)
    // score desc NULLS LAST, id asc; + 0.0 folds -0.0 into 0.0
    import scala.math.Ordering.Double.TotalOrdering
    val expected = rows.groupBy(_._1).map { case (q, rs) =>
      q -> rs.sortBy(r => (r._3.isEmpty, r._3.fold(0.0)(s => -(s + 0.0)),
        r._2)).map(_._2)
    }
    for (k <- Seq(10, 1000, 1001, 1200)) {
      val top = SimilarityOps.topKPerQuery(scored, "q_id", "vec_id", k)
      assert(planOf(top).contains("WindowGroupLimit") == (k <= 1000),
        s"k=$k:\n${planOf(top)}")
      val got = ranked(top)
      for (q <- Seq(1L, 2L))
        assert(idsOf(got, q) == expected(q).take(k), s"k=$k q=$q")
    }
  }

  test("bruteForceTopK and quantizedTopK: exact score ties by id " +
      "ascending; a zero vector scores NULL and ranks last") {
    val v5 = vecs.filter(col("vec_id") === 5L).select("embedding")
    val copies = Seq(100L, 50L, 75L).map(id =>
      v5.select(lit(id).as("vec_id"), col("embedding")))
    val corpus = (copies :+ vec(200L, Seq(0f, 0f, 0f, 0f)))
      .foldLeft(vecs)(_ unionByName _)
    val queries = queriesOf(corpus, 6L)
    val brute = ranked(SimilarityOps.bruteForceTopK(queries, corpus, 3))
    assert(idsOf(brute, 5L) == Seq(50L, 75L, 100L))
    // the copies share their int8 codes too: a k = 2 shortlist cuts
    // inside the three-way approximate tie
    val quant = ranked(SimilarityOps.quantizedTopK(queries, corpus, 2,
      rerankFactor = 1))
    assert(idsOf(quant, 5L) == Seq(50L, 75L))
    // every candidate ranked: the zero vector is last, with a NULL score
    val n = corpus.count().toInt - 1
    for (tier <- Seq(
        SimilarityOps.bruteForceTopK(queries, corpus, n),
        SimilarityOps.quantizedTopK(queries, corpus, n, rerankFactor = 1))) {
      val all = ranked(tier)
      assert(all.size == 6 * n)
      for (q <- 0L until 6L) {
        val last = all.filter(_._1 == q).last
        assert(last._2 == 200L && last._3.isEmpty && last._4 == n, last)
      }
      assert(all.count(_._3.isEmpty) == 6)
    }
  }

  test("zero-norm vectors score NULL in the HOF and native cosine and " +
      "rank last; MMR and semantic dedup run through them") {
    CosineSimilarity.register(spark)
    val zero = vec(200L, Seq(0f, 0f, 0f, 0f))
    val corpus = vecs.unionByName(zero)
    val pairs = queriesOf(corpus, 3L).unionByName(zero.select(
        col("vec_id").as("q_id"), col("embedding").as("q_emb")))
      .crossJoin(corpus).filter(col("q_id") =!= col("vec_id"))
    val both = pairs.select(col("q_id"), col("vec_id"),
      expr("cosine_sim(q_emb, embedding)").as("native"),
      SimilarityOps.cosine(SimilarityOps.toDoubleArr(col("q_emb")),
        SimilarityOps.toDoubleArr(col("embedding"))).as("hof")).collect()
    both.foreach { r =>
      val zeroSide = r.getLong(0) == 200L || r.getLong(1) == 200L
      assert(r.isNullAt(2) == zeroSide && r.isNullAt(3) == zeroSide,
        s"pair (${r.get(0)}, ${r.get(1)}): native ${r.get(2)}, hof ${r.get(3)}")
      if (!zeroSide) assert(r.getDouble(2) == r.getDouble(3))
    }
    // the native tier through the shared rank: the zero vector is last,
    // not first (0/0 = NaN would sort above every score)
    val native = ranked(SimilarityOps.topKPerQuery(
      pairs.withColumn("score", expr("cosine_sim(q_emb, embedding)")),
      "q_id", "vec_id", 24))
    for (q <- 0L until 3L) {
      val qs = native.filter(_._1 == q)
      assert(qs.last._2 == 200L && qs.last._3.isEmpty, qs.last)
      assert(qs.head._2 != 200L)
    }
    // a zero-norm query scores every candidate NULL: ranks follow ids
    assert(idsOf(native, 200L) == (0L until 24L))
    // the other cosine users: no divide-by-zero, the zero vector is
    // never an MMR pick or a near-duplicate
    val mmr = SimilarityOps.mmrTopK(corpus, Array(1.0, 0.5, 0.0, 0.0), 3)
      .collect().map(_.getLong(1))
    assert(mmr.length == 3 && !mmr.contains(200L))
    val kept = SimilarityOps.semanticDedup(corpus, "vec_id", 2, 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(200L))
  }

  test("the IVF tiers reject nprobe < 1 naming the tier; " +
      "topKPerQuery rejects k < 1") {
    val queries = queriesOf(vecs, 3L)
    val cents = SimilarityOps.trainIvfCentroids(vecs, "vec_id",
      "embedding", 2)
    val cbs = SimilarityOps.trainPqCodebooksResidual(vecs, "vec_id",
      "embedding", cents, m = 2, ksub = 2, iters = 1)
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-topk-${ProcessHandle.current().pid()}").toString
    val ivfDir = s"$base/ivf"; val pqDir = s"$base/ivfpq"
    SimilarityOps.writeIvfIndex(vecs, ivfDir, cents)
    SimilarityOps.writeIvfPqIndex(vecs, pqDir, cents, cbs)
    val tiers: Seq[(String, Int => DataFrame)] = Seq(
      "ivfTopK" -> (np => SimilarityOps.ivfTopK(queries, vecs, 3, cents, np)),
      "ivfTopKIndexed" ->
        (np => SimilarityOps.ivfTopKIndexed(queries, ivfDir, 3, np)),
      "ivfPqTopK" -> (np =>
        SimilarityOps.ivfPqTopK(queries, vecs, 3, cents, cbs, np)),
      "ivfPqTopKIndexed" -> (np =>
        SimilarityOps.ivfPqTopKIndexed(queries, pqDir, vecs, 3, np)))
    try {
      for ((tier, run) <- tiers; np <- Seq(0, -1)) {
        val e = intercept[IllegalArgumentException](run(np).collect())
        assert(e.getMessage.contains(s"$tier: nprobe must be >= 1: $np"),
          e.getMessage)
      }
      // every tier still answers at nprobe = 1
      tiers.foreach { case (tier, run) =>
        assert(run(1).count() > 0, tier) }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
    val scored = Seq((1L, 2L, 0.5)).toDF("q_id", "vec_id", "score")
    for (k <- Seq(0L, -3L)) {
      val e = intercept[IllegalArgumentException](
        SimilarityOps.topKPerQuery(scored, "q_id", "vec_id", k))
      assert(e.getMessage.contains(s"k must be >= 1: $k"), e.getMessage)
    }
    intercept[IllegalArgumentException](
      SimilarityOps.bruteForceTopK(queries, vecs, 0))
  }
}
