package graft

import graft.llm.ClassifierOps
import org.apache.spark.sql.functions._

/** trainHardLogistic contracts beyond the differential gate: the loop
  * actually LEARNS a separable fixture, weights are layout-invariant,
  * and the clamp arms of the hard sigmoid behave. */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // separable corpus: positive docs speak one vocabulary, negative
  // docs another (32 distinct words each side, 60 docs per class)
  private def corpus = (0 until 120).map { i =>
    val y = i % 2
    val base = if (y == 1) "pos" else "neg"
    val text = (0 until 8).map(j => s"$base${(i * 3 + j) % 32}").mkString(" ")
    (i.toLong, text, y)
  }.toDF("id", "text", "y")

  test("two steps separate a separable corpus") {
    val w = ClassifierOps.trainHardLogistic(corpus, "text", "y",
      buckets = 64, iters = 2, lrDen = 10L)
    val scored = corpus.select(col("y"),
      (ClassifierOps.logitMicro(col("text"), w.take(64).toSeq, w(64)) > 0)
        .cast("int").as("pred"))
      .collect()
    val acc = scored.count(r => r.getInt(0) == r.getInt(1)).toDouble /
      scored.length
    assert(acc >= 0.9, s"trained accuracy only $acc")
  }

  test("weights are layout-invariant (integer gradients)") {
    val a = ClassifierOps.trainHardLogistic(corpus, "text", "y",
      buckets = 32, iters = 3, lrDen = 10L)
    val b = ClassifierOps.trainHardLogistic(corpus.repartition(13),
      "text", "y", buckets = 32, iters = 3, lrDen = 10L)
    assert(a.toSeq === b.toSeq)
  }

  test("hard sigmoid clamps and truncates toward zero") {
    val df = Seq(-9000000L, -7L, -1L, 0L, 1L, 7L, 9000000L).toDF("z")
      .select(col("z"), ClassifierOps.hardSigmoidMicro(col("z")).as("p"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(-9000000L) === 0L)           // lower clamp
    assert(got(9000000L) === 1000000L)      // upper clamp
    assert(got(-7L) === 500000L - 1L)       // trunc(-7/4) = -1, not -2
    assert(got(-1L) === 500000L)            // trunc(-1/4) = 0
    assert(got(7L) === 500000L + 1L)
    assert(got(0L) === 500000L)
  }

  // r19 optimization guard: training moved from per-occurrence explodes
  // to a one-pass per-doc bucket-count feature frame. The weights and
  // the scored logits must equal the per-occurrence formulation bit for
  // bit (integer gradients — any drift is a bug, not noise).
  test("histogram features match the per-occurrence formulation bit for bit") {
    // include a NULL-text row (trains and scores as bias-only) AND a
    // NULL-label row (r19 ADVICE: the label column is parquet-nullable;
    // the per-occurrence loop null-propagated such a row out of every
    // gradient sum while n counted it — the kernel must reproduce
    // that, not crash)
    val withNull = corpus.unionByName(
      Seq((999L, null.asInstanceOf[String], 0)).toDF("id", "text", "y"))
      .unionByName(Seq((998L, "pos0 neg0"))
        .toDF("id", "text").withColumn("y", lit(null).cast("int")))
    val got = ClassifierOps.trainHardLogistic(withNull, "text", "y",
      buckets = 32, iters = 3, lrDen = 10L)
    val want = ReferenceTiers.trainHardLogistic(withNull, "text", "y", 32, 3,
      10L)
    assert(got.toSeq === want.toSeq)
    val scored = ClassifierOps.trainHardLogisticScored(withNull, "text",
      "y", "id", buckets = 32, iters = 3, lrDen = 10L)
    val viaText = withNull.select(col("id"),
      ClassifierOps.logitMicro(col("text"), want.take(32).toSeq, want(32))
        .as("logit_micro"))
    assert(scored.exceptAll(viaText).count() === 0L)
    assert(viaText.exceptAll(scored).count() === 0L)
  }

  test("empty corpus and bad hyperparameters fail loudly") {
    intercept[IllegalArgumentException] {
      ClassifierOps.trainHardLogistic(
        Seq.empty[(String, Int)].toDF("text", "y"), "text", "y")
    }
    intercept[IllegalArgumentException] {
      ClassifierOps.trainHardLogistic(corpus, "text", "y", iters = 0)
    }
  }
}
