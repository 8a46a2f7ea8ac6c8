package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Distributed TRAINING for the hashed quality classifier
  * ([[TextStatsOps.hashedClassifierLogit]] is the inference side) —
  * full-batch gradient descent where every quantity is an exact
  * integer, so the trained weights are bit-identical on any cluster
  * layout AND replayable by the DuckDB oracle. The float version of
  * this loop could never face a hash gate: each partial-sum merge
  * order drifts the gradient at 1 ulp and iteration compounds it.
  *
  * The trick is the LINK function: instead of the logistic sigmoid
  * (whose exp() differs across libms), we train with the HARD sigmoid
  * σ(z) = clamp(½ + z/4, 0, 1) — the piecewise-linear surrogate used
  * throughout the quantized-network literature (h-sigmoid). In
  * micro-units: p = clamp(500000 + trunc(z/4), 0, 1e6), where
  * trunc(z/4) is exact truncating division by a power of two (the
  * dyadic z/4.0 cast to long; engines agree). Gradient per occurrence is
  * (p − y)·1 on the word's bucket — an integer — and the batch
  * gradient is an integer SUM: order-insensitive.
  *
  * The features are one select over the caller's frame with a named
  * histogram udf ([[bucketCountFeatures]]), persisted, so the cached
  * plan keeps the caller's lineage. Scale shape per iteration: ONE
  * single-stage job over those per-document bucket counts — each task
  * folds its rows' logits and gradients into buckets+3 longs, and the
  * driver merges one such array per partition and updates buckets+1
  * weights. The pass is an `RDD.aggregate` over the feature cache's
  * rows, so no pass is re-analyzed, re-planned or re-compiled, and
  * none shuffles. Nothing grows with corpus size on the driver.
  */
object ClassifierOps {

  val Micro = 1000000L

  /** Hard-sigmoid probability in micro-units from a micro-unit logit:
    * clamp(500000 + trunc(z/4), 0, 1e6). The division is TRUNCATING
    * toward zero — the semantics Scala `/`, Spark `div`, and DuckDB
    * `//` all share (DuckDB's `//` truncates: −7 // 2 = −3, NOT
    * floor — Math.floorDiv would silently disagree on negative
    * logits). Computed as a double→long cast of the exact dyadic
    * z/4.0, which truncates toward zero in both engines. */
  def hardSigmoidMicro(zMicro: Column): Column =
    least(lit(Micro), greatest(lit(0L),
      lit(Micro / 2) + (zMicro / 4.0d).cast("long")))

  /** Micro-unit logit for `text` under word-bucket weights `w` (size
    * buckets) plus bias `wb`: Σ_occurrences w[bucket(word)] + wb.
    * Row-local, zero shuffle. NULL text scores as empty (bias-only
    * logit) — the same treatment training gives it, so a NULL-text
    * document cannot train as one thing and score as another. */
  def logitMicro(text: Column, w: Seq[Long], wb: Long): Column =
    TextStatsOps.hashedClassifierLogit(coalesce(text, lit("")), w) + lit(wb)

  /** Per-document bucket-count feature frame, persisted and
    * materialized by the first gradient pass, so
    * the iterative loop and the scorer never touch text again (r19
    * optimization, guide §1.2 "per-task work" + §2.3 "aggregate
    * before you shuffle"): the md5 word
    * bucketing — the interpreted-HOF hot spot every pass used to
    * re-pay — runs ONCE, and each training pass reads `buckets` longs
    * per document instead of an explode of every word occurrence
    * (measured at sf0.1: 0.86 s → ~0.04 s per gradient pass; the whole
    * query 2.04 s → ~1.1 s).
    *
    * Columns: `keep` passthroughs, `__y` (label·µ-ready long), and
    * `__hs` — the array of per-document occurrence counts per
    * bucket. The bias sentinel needs no column (its count is 1 per
    * document by construction). Counts are exact longs, so every
    * gradient/logit below is the SAME integer the per-occurrence
    * formulation produced — layout-invariant and oracle-replayable,
    * bit for bit.
    *
    * Scale shape: one row-local text scan, no exchange — strictly less
    * than the per-iteration occurrence explode it replaces; the
    * persisted frame is buckets longs per document, far smaller than
    * the corpus. The scoring plan ([[featLogit]]) has O(buckets)
    * arity, fine for the classifier's documented 16-256 bucket range.
    * The histogram is one udf over [[bucketCounts]], named
    * `bucketCountFeatures` in plans, so the cached plan keeps the
    * caller's lineage.
    *
    * NULL text reads as empty: words(NULL) is NULL and would
    * null-propagate through the transform, dropping the row while n
    * still counts it — and diverging from the oracle, which emits a
    * bias row per document. NULL labels pass through as NULL `__y`
    * (the label column is parquet-nullable): the per-occurrence
    * formulation null-propagated such a row out of every gradient sum
    * while `n` still counted it, and the kernel must reproduce that —
    * not throw — so the null stays and the gradient passes skip it
    * exactly as before (r19 ADVICE: the first kernel cut called
    * getLong on the label and crashed on a single NULL-label row).
    *
    * Materialization (r20, guide §5): persist(MEMORY_AND_DISK) —
    * filled by the first gradient pass, which also counts `n` — replaces
    * r19's `localCheckpoint(true)`. The checkpoint truncated
    * lineage to executor-local blocks with NO recompute path: on a
    * real cluster one lost executor mid-GD-loop failed the job. The
    * persisted frame keeps its (deterministic) kernel lineage, so a
    * lost block recomputes; plan and timing shape are unchanged (same
    * one eager job, every GD step still reads materialized blocks).
    * The caller releases it: [[trainHardLogistic]] unpersists it before
    * returning, [[trainHardLogisticScored]] (whose scores read it)
    * registers it with `DistScan`'s release queue. */
  private[graft] def bucketCountFeatures(df: DataFrame, textCol: String,
      labelCol: String, keep: Seq[String], buckets: Int): DataFrame = {
    val hist = udf((t: String) => bucketCounts(t, buckets))
      .asNonNullable().withName("bucketCountFeatures")
    df.select(keep.map(col) ++ Seq(
        col(labelCol).cast("long").as("__y"),
        hist(coalesce(col(textCol), lit(""))).as("__hs")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The classifier histogram of one text: per whitespace word, the
    * count of its md5 bucket. The bucket is bit-equal to
    * [[TextStatsOps.md5Bucket]]
    * (first 4 md5 bytes of the UTF-8 word as an unsigned 32-bit value,
    * mod buckets); ClassifierPropertySpec pins the whole path against
    * the per-occurrence expression formulation. */
  private def bucketCounts(t: String, buckets: Int): Array[Long] = {
    val md = Md5.get
    val hs = new Array[Long](buckets)
    val parts = t.split("\\s+")
    var i = 0
    while (i < parts.length) {
      val w = parts(i)
      if (w.nonEmpty) {
        val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        hs((u % buckets).toInt) += 1L
      }
      i += 1
    }
    hs
  }

  /** One MD5 digest per task thread for [[bucketCounts]]. */
  private val Md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Micro-unit logit of one feature row under weights `w` (buckets
    * word weights + bias): Σ_b h_b·w_b + w_bias — pure codegen'd
    * integer arithmetic over array lookups (element_at with a literal
    * index is an ordinary expression, not a lambda HOF), the same
    * value logitMicro computes per occurrence. */
  private def featLogit(w: Array[Long], buckets: Int): Column =
    (0 until buckets).map(b => element_at(col("__hs"), b + 1) * lit(w(b)))
      .reduceOption(_ + _).getOrElse(lit(0L)) + lit(w(buckets))

  /** One full-batch hard-sigmoid GD loop over a persisted feature
    * frame; mutates nothing, returns the weights. Each iteration is ONE
    * single-stage job: an `RDD.aggregate` over the frame's cached rows
    * ([[Bridge.cachedRows]], so the first pass fills the cache in its
    * own tasks) — the pass ships its weights in the closure instead of
    * re-planning a frame with the weights as literals. Each task folds
    * its rows into buckets+3 longs ([[addGradient]]): the word gradients
    * Σ err·h_b, the bias gradient Σ err, the document count `n` and the
    * labelled-row count; the driver merges the partitions' arrays.
    * NULL-label rows count in `n` and in no gradient. `caller` names
    * the trainer in the empty-corpus error; a corpus with no labelled
    * row fails too (its gradient sums would be NULL). */
  private[graft] def trainOnFeatures(feat: DataFrame, buckets: Int,
      iters: Int, lrDen: Long, caller: String): Array[Long] = {
    val rows = Bridge.cachedRows(feat)
    val (yi, hi) =
      (feat.schema.fieldIndex("__y"), feat.schema.fieldIndex("__hs"))
    val w = Array.fill(buckets + 1)(0L) // [word buckets..., bias]
    for (_ <- 1 to iters) {
      val wp = w.clone()
      // an overflow, in a task or in the driver's merge, surfaces as
      // the ArithmeticException itself, as a SQL aggregate's does
      val g = try rows.aggregate(new Array[Long](buckets + 3))(
          (acc, r) => addGradient(acc, r, yi, hi, wp, buckets), mergeGradients)
        catch { case e: org.apache.spark.SparkException
          if e.getCause.isInstanceOf[ArithmeticException] => throw e.getCause }
      val n = g(buckets + 1)
      require(n > 0, s"$caller: empty corpus")
      require(g(buckets + 2) > 0, s"$caller: no labelled document")
      for (j <- 0 to buckets)
        w(j) -= g(j) / (lrDen * n) // truncating, like //
    }
    w
  }

  /** Adds one feature row (`__y` at ordinal `yi`, `__hs` at `hi`) to a
    * pass's sums `acc` = [Σ err·h_b per
    * bucket b, Σ err, n, labelled rows], in place. The integer twin of
    * [[featLogit]] and [[hardSigmoidMicro]] as Spark evaluates them in
    * ANSI mode: the logit is the left fold of h_b·w_b plus the bias,
    * evaluated for EVERY row (so its overflow fails a NULL-label row
    * too), err = p − y·1e6 only for a labelled row, and every product
    * and sum goes through `Math.*Exact`, so an overflow throws
    * `ArithmeticException` and never wraps. */
  private def addGradient(acc: Array[Long], r: InternalRow, yi: Int,
      hi: Int, w: Array[Long], buckets: Int): Array[Long] = {
    val hs = r.getArray(hi)
    var z = 0L
    var b = 0
    while (b < buckets) {
      z = Math.addExact(z, Math.multiplyExact(hs.getLong(b), w(b)))
      b += 1
    }
    z = Math.addExact(z, w(buckets))
    val p = math.min(Micro, math.max(0L, Micro / 2 + (z / 4.0d).toLong))
    acc(buckets + 1) += 1
    if (!r.isNullAt(yi)) {
      val err = Math.subtractExact(p, Math.multiplyExact(r.getLong(yi), Micro))
      b = 0
      while (b < buckets) {
        acc(b) = Math.addExact(acc(b), Math.multiplyExact(err, hs.getLong(b)))
        b += 1
      }
      acc(buckets) = Math.addExact(acc(buckets), err)
      acc(buckets + 2) += 1
    }
    acc
  }

  private def mergeGradients(a: Array[Long], b: Array[Long]): Array[Long] = {
    for (i <- a.indices) a(i) = Math.addExact(a(i), b(i))
    a
  }

  /** Train `iters` full-batch hard-sigmoid logistic steps on
    * (`textCol`, `labelCol` ∈ {0,1}); returns buckets word weights
    * followed by the bias, all micro-units. Learning rate is the
    * rational 1/(lrDen·n) applied with TRUNCATING division (Scala
    * `/`) — the same semantics as DuckDB's `//`, so an oracle can
    * replay every step. */
  def trainHardLogistic(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int = 16, iters: Int = 2, lrDen: Long = 100L): Array[Long] = {
    require(buckets >= 1 && iters >= 1 && lrDen >= 1,
      s"trainHardLogistic: bad hyperparameters ($buckets, $iters, $lrDen)")
    val feat = bucketCountFeatures(df, textCol, labelCol, Nil, buckets)
    try trainOnFeatures(feat, buckets, iters, lrDen, "trainHardLogistic")
    finally feat.unpersist(blocking = false)
  }

  /** [[trainHardLogistic]] plus the trained scoring pass over the SAME
    * materialized feature frame: returns (`idCol`, logit_micro) for
    * every input document — the identical integers
    * `logitMicro(text, w, wb)` yields, without a third tokenize+md5
    * scan of the corpus (the scorer reads buckets longs per doc from
    * the checkpoint instead).
    *
    * The usual caller joins the scores back onto `df` by `idCol`, which
    * would run `df`'s lineage a second time. So when `df` is not
    * persisted, it is persisted here (MEMORY_AND_DISK, filled by the
    * feature build) and registered with `DistScan`'s release queue, and
    * the join-back reads the cached rows. A frame the caller persisted
    * is left as it is: `releaseCaches()` never unpersists it. */
  def trainHardLogisticScored(df: DataFrame, textCol: String,
      labelCol: String, idCol: String, buckets: Int = 16, iters: Int = 2,
      lrDen: Long = 100L): DataFrame = {
    require(buckets >= 1 && iters >= 1 && lrDen >= 1,
      s"trainHardLogisticScored: bad hyperparameters ($buckets, $iters, $lrDen)")
    // the returned scores read the persisted features, so they stay
    // until the application's step boundary: registered with DistScan's
    // release queue (the minhash-signature convention) — a persist must
    // not turn into per-run storage growth in a long-lived session
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      graft.operators.DistScan.registerCache(df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val feat = graft.operators.DistScan.registerCache(bucketCountFeatures(
      df, textCol, labelCol, Seq(idCol), buckets))
    val w = trainOnFeatures(feat, buckets, iters, lrDen,
      "trainHardLogisticScored")
    feat.select(col(idCol), featLogit(w, buckets).as("logit_micro"))
  }

}
