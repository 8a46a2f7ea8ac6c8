package graft

import graft.llm.ClassifierOps
import org.apache.spark.SpecListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the hashed quality classifier: the histogram
  * kernel (`ClassifierOps.bucketCountFeatures`) against the
  * per-occurrence explode `ReferenceTiers.classifierHistogram`, and the
  * trainer, which folds the document count into its first gradient
  * pass, against the count-then-pass loop
  * `ReferenceTiers.trainHardLogistic` — on generated documents: NULL,
  * empty, all-whitespace, non-BMP (accented and astral code points)
  * and ASCII word soups, with NULL labels among the 0/1 ones, plus one
  * document above 1 MB. Fixed seeds, as in [[GopherPropertySpec]].
  * The trainer's gradient passes also face NULL-heavy labels, a
  * gradient that overflows a long, a pin of their job shape and a leak
  * check of the persisted features. */
class ClassifierPropertySpec extends SparkSpec {
  import spark.implicits._

  private val ascii: Gen[String] = Gen.oneOf("abcxyz".map(_.toString))
  private val nonBmp: Gen[String] = Gen.frequency(
    4 -> ascii,
    1 -> Gen.oneOf("é", "ñ", "ü"),
    2 -> Gen.oneOf("𝕏", "😀", "𠀋", "🌍"))
  private val Spaces = Seq(" ", "\t", "\n", "\r", "\u000B", "\u000C")

  private def wordOf(ch: Gen[String]): Gen[String] =
    Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, ch).map(_.mkString))

  /** 1–40 words joined by runs of 1–3 whitespace characters, with
    * optional leading and trailing whitespace. */
  private def docOf(ch: Gen[String]): Gen[String] = for {
    n <- Gen.chooseNum(1, 40)
    ws <- Gen.listOfN(n, wordOf(ch))
    seps <- Gen.listOfN(n + 1, Gen.chooseNum(1, 3).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf(Spaces)).map(_.mkString)))
    edges <- Gen.oneOf(true, false)
  } yield {
    val body = ws.zip(seps.tail).map { case (w, s) => w + s }.mkString
    if (edges) seps.head + body else body.trim
  }

  private val docGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    1 -> Gen.const(""),
    1 -> Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Spaces)).map(_.mkString)),
    4 -> docOf(ascii),
    4 -> docOf(nonBmp))

  private val labelGen: Gen[Option[Int]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> Gen.oneOf(0, 1).map(Some(_)))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** 200 generated documents (ids 0..199) plus one of each edge class
    * pinned by id: 1000 NULL, 1001 empty, 1002 all-whitespace. */
  private lazy val docs: DataFrame =
    ((0 until 200).map(i => (i.toLong, sample(docGen, 8000L + i),
        sample(labelGen, 9000L + i))) ++
      Seq((1000L, null, Some(1)), (1001L, "", Some(0)),
        (1002L, " \t\n\u000B\r ", None)))
      .toDF("doc_id", "text", "y").cache()

  /** The kernel's histogram as (doc_id, bucket, n) for nonzero counts,
    * and the number of documents it emitted a row for. */
  private def kernelHistogram(df: DataFrame, buckets: Int)
      : (Set[(Long, Long, Long)], Long) = {
    val feat = ClassifierOps.bucketCountFeatures(df, "text", "y",
      Seq("doc_id"), buckets)
    val rows = feat.select(col("doc_id"), col("__hs")).collect()
    val hist = rows.flatMap { r =>
      val hs = r.getSeq[Long](1)
      hs.indices.filter(hs(_) > 0).map(b => (r.getLong(0), b.toLong, hs(b)))
    }.toSet
    feat.unpersist()
    (hist, rows.length.toLong)
  }

  private def referenceHistogram(df: DataFrame, buckets: Int)
      : Set[(Long, Long, Long)] =
    ReferenceTiers.classifierHistogram(df, "doc_id", "text", buckets)
      .as[(Long, Long, Long)].collect().toSet

  test("histogram kernel ≡ per-occurrence reference on generated " +
      "documents; NULL, empty and all-whitespace documents count no " +
      "word but keep their row") {
    for (buckets <- Seq(1, 7, 64)) {
      val (got, rows) = kernelHistogram(docs, buckets)
      val want = referenceHistogram(docs, buckets)
      assert(rows === docs.count(), s"buckets=$buckets")
      assert(got == want, s"buckets=$buckets: kernel-only " +
        s"${(got -- want).take(10)}, reference-only ${(want -- got).take(10)}")
      assert(!got.exists(t => Set(1000L, 1001L, 1002L)(t._1)))
    }
  }

  test("a document above 1 MB: histogram kernel ≡ reference") {
    val sb = new StringBuilder
    var seed = 95000L
    while (sb.toString.getBytes("UTF-8").length <= (1 << 20) + 4096) {
      (0 until 256).foreach { _ =>
        sb.append(sample(docOf(nonBmp), seed)).append('\n'); seed += 1 }
    }
    val long = Seq((1L, sb.toString, Option(1))).toDF("doc_id", "text", "y")
    val (got, rows) = kernelHistogram(long, 32)
    assert(rows === 1L)
    assert(got == referenceHistogram(long, 32))
  }

  test("the count-folded trainer's weights ≡ the count-then-pass " +
      "reference; the scored logits ≡ logitMicro over the text") {
    for ((buckets, iters, lrDen) <- Seq((16, 2, 100L), (5, 3, 1L))) {
      val got = ClassifierOps.trainHardLogistic(docs, "text", "y",
        buckets, iters, lrDen)
      val want = ReferenceTiers.trainHardLogistic(docs, "text", "y",
        buckets, iters, lrDen)
      assert(got.toSeq === want.toSeq, s"($buckets, $iters, $lrDen)")
      val scored = ClassifierOps.trainHardLogisticScored(docs, "text", "y",
        "doc_id", buckets, iters, lrDen)
      val viaText = docs.select(col("doc_id"), ClassifierOps.logitMicro(
        col("text"), want.take(buckets).toSeq, want(buckets))
        .as("logit_micro"))
      assert(scored.exceptAll(viaText).count() === 0L)
      assert(viaText.exceptAll(scored).count() === 0L)
    }
    // the generated weights moved off zero, so the comparison is not
    // between two untouched arrays
    assert(ClassifierOps.trainHardLogistic(docs, "text", "y", 16, 2, 1L)
      .exists(_ != 0L))
  }

  /** [[docs]] relabelled with NULL for about half of the documents. */
  private lazy val halfNull: DataFrame =
    docs.withColumn("y", when(col("doc_id") % 2 === 0, col("y")))

  test("NULL-label rows: the trainer's weights ≡ the reference's") {
    for ((buckets, iters, lrDen) <-
        Seq((16, 2, 100L), (7, 5, 1L), (1, 3, 3L))) {
      val got = ClassifierOps.trainHardLogistic(halfNull, "text", "y",
        buckets, iters, lrDen)
      val want = ReferenceTiers.trainHardLogistic(halfNull, "text", "y",
        buckets, iters, lrDen)
      assert(got.toSeq === want.toSeq, s"($buckets, $iters, $lrDen)")
    }
    val allNull = docs.withColumn("y", lit(null).cast("int"))
    val e = intercept[IllegalArgumentException](
      ClassifierOps.trainHardLogistic(allNull, "text", "y"))
    assert(e.getMessage.contains("no labelled document"))
  }

  test("a gradient that overflows a long throws ArithmeticException in " +
      "the reference and in the trainer") {
    // y·1e6 = 4e18 fits a long; three such errors summed do not — in
    // the driver's merge of one-row partitions, or within one task
    val big = Seq((1L, "a b", 4000000000000L), (2L, "b c", 4000000000000L),
      (3L, "c a", 4000000000000L)).toDF("doc_id", "text", "y")
    for (df <- Seq(big, big.repartition(1))) {
      intercept[ArithmeticException](
        ReferenceTiers.trainHardLogistic(df, "text", "y", 4, 1, 1L))
      intercept[ArithmeticException](
        ClassifierOps.trainHardLogistic(df, "text", "y", 4, 1, 1L))
    }
  }

  test("after the feature build, each gradient pass is one single-stage " +
      "job") {
    val feat = ClassifierOps.bucketCountFeatures(docs.repartition(3),
      "text", "y", Nil, 16)
    try {
      feat.count()
      for (iters <- Seq(1, 3)) {
        val perJob = SpecListenerBus.stagesRunPerJob(spark.sparkContext)(
          ClassifierOps.trainOnFeatures(feat, 16, iters, 100L, "spec"))
        assert(perJob == Seq.fill(iters)(1), s"iters=$iters")
      }
    } finally feat.unpersist()
  }

  test("trainHardLogisticScored: joining the scores back onto the input " +
      "runs the input lineage no more times; releaseCaches() frees it") {
    val in = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-classifier-join-${ProcessHandle.current().pid()}").toString
    docs.write.mode("overwrite").parquet(in)
    // counts every row the input lineage produces; parquet input keeps
    // the optimizer from folding the filter into a local relation
    val evals = spark.sparkContext.longAccumulator("classifier-input-rows")
    val seen = udf(() => { evals.add(1); true }).asNondeterministic()
    val df = spark.read.parquet(in).filter(seen())
    val scores = ClassifierOps.trainHardLogisticScored(df, "text", "y",
      "doc_id")
    val rows = evals.value
    assert(rows === docs.count())
    assert(df.join(scores, Seq("doc_id")).count() === rows)
    assert(evals.value === rows, "the join-back re-ran the input lineage")
    graft.operators.DistScan.releaseCaches()
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("trainHardLogisticScored leaves a frame the caller persisted " +
      "persisted after releaseCaches()") {
    val df = docs.select("doc_id", "text", "y").persist()
    try {
      ClassifierOps.trainHardLogisticScored(df, "text", "y", "doc_id")
        .count()
      graft.operators.DistScan.releaseCaches()
      assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally df.unpersist()
  }

  test("trainHardLogistic leaves no new persisted RDD behind") {
    docs.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    ClassifierOps.trainHardLogistic(docs, "text", "y", 16, 2, 100L)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
