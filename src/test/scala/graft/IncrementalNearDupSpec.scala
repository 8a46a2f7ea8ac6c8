package graft

import graft.llm.{IngestCommit, TextDedupOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental MinHash and SimHash tiers against a driver-side
  * survivorship reference that shares no code with them, and the
  * hot-bucket caps of the incremental tiers. Every tier runs one core,
  * so comparing tiers with each other cannot catch a fault in that
  * core; the reference takes every pair of documents instead of banded
  * candidates, and its own union-find. */
class IncrementalNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-neardup-$tag-${ProcessHandle.current().pid()}")
    val p = new org.apache.hadoop.fs.Path(d.toString)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    d.toString
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).as[Long].collect().toSet

  private def sigsOf(df: DataFrame): Map[Long, IndexedSeq[Long]] =
    TextDedupOps.minHashSignatures(df, "doc_id", "text", 3, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq)
      .toMap

  private def hashesOf(df: DataFrame): Map[Long, Long] =
    TextDedupOps.simHash(df, "doc_id", "text").as[(Long, Long)].collect()
      .toMap

  /** The MinHash edge: estimated Jaccard — agreeing minima / k — at
    * least `threshold`. */
  private def estAtLeast(threshold: Double)(a: IndexedSeq[Long],
      b: IndexedSeq[Long]): Boolean =
    a.zip(b).count { case (x, y) => x == y }.toDouble / a.size >= threshold

  /** The SimHash edge over the hashes `all` (old and new together):
    * Hamming distance at most `maxHamming`, and a shared chunk bucket
    * (band i, the i-th of `bands` contiguous bit chunks) that holds at
    * most `cap` of `all`. Uncapped with maxHamming < bands, the bucket
    * test always holds (a pair differing in fewer bits than there are
    * chunks agrees on one chunk), so the edge is the Hamming test. */
  private def simHashEdge(all: Iterable[Long], maxHamming: Int, bands: Int,
      cap: Int): (Long, Long) => Boolean = {
    val width = 64 / bands
    def chunk(h: Long, i: Int): Long = (h >>> (i * width)) & ((1L << width) - 1)
    val occupancy = all.toSeq.flatMap(h => (0 until bands).map(i => (i, chunk(h, i))))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    (a, b) => java.lang.Long.bitCount(a ^ b) <= maxHamming &&
      (0 until bands).exists(i => chunk(a, i) == chunk(b, i) &&
        occupancy((i, chunk(a, i))) <= cap)
  }

  /** Survivorship by definition: every pair of documents (old or new)
    * whose payloads (signatures or hashes) satisfy `edge` is an edge,
    * and a batch document survives iff its component holds no existing
    * document and it is the component's minimum batch id. No banding:
    * with bands = 8 and k = 32 a pair that collides in no band has at
    * least 8 mismatches (estimate ≤ 0.75), so for a MinHash threshold
    * above 0.75 banded recall is exact and the tiers must agree with
    * this all-pairs graph; SimHash recall is exact by pigeonhole, see
    * [[simHashEdge]]. */
  private def referenceSurvivors[A](existing: Map[Long, A],
      batch: Map[Long, A], edge: (A, A) => Boolean): Set[Long] = {
    val nodes = existing.toSeq.map { case (id, s) => ((false, id), s) } ++
      batch.toSeq.map { case (id, s) => ((true, id), s) }
    val parent = scala.collection.mutable.Map(nodes.map(n => n._1 -> n._1): _*)
    def find(x: (Boolean, Long)): (Boolean, Long) =
      if (parent(x) == x) x else find(parent(x))
    for (i <- nodes.indices; j <- i + 1 until nodes.size) {
      val (a, sa) = nodes(i)
      val (b, sb) = nodes(j)
      if (edge(sa, sb)) parent(find(a)) = find(b)
    }
    nodes.map(_._1).groupBy(find).values.flatMap { comp =>
      if (comp.exists(n => !n._1)) None else Some(comp.map(_._2).min)
    }.toSet
  }

  /** Two waves with planted near-dup chains: each chain is a
    * `words`-word text and successive edits of it, each replacing
    * `perStep` words, its members spread over the waves by a pattern.
    * Ids rise along each chain, so a chain whose head is new and whose
    * tail is old kills its head only through new-new links. Also: an
    * exact clone across the waves, an exact pair inside wave 2 and
    * unrelated singletons in both. */
  private def chainedWaves(words: Int, perStep: Int,
      seed: Int = 7): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    def fresh(): Vector[String] = Vector.fill(words)(s"v${rnd.nextInt(1000000)}")
    var edits = 0
    def edit(t: Vector[String]): Vector[String] =
      (1 to perStep).foldLeft(t) { (u, _) =>
        edits += 1
        u.updated(5 + rnd.nextInt(words - 10), s"e$edits")
      }
    val patterns = Seq("1222", "2221", "2222", "1122", "2121", "1111",
      "1222", "2221", "2211", "2112")
    val w1 = Seq.newBuilder[(Long, String)]
    val w2 = Seq.newBuilder[(Long, String)]
    var (n1, n2) = (0L, 1000L)
    def put(wave: Char, text: Vector[String]): Unit =
      if (wave == '1') { w1 += n1 -> text.mkString(" "); n1 += 1 }
      else { w2 += n2 -> text.mkString(" "); n2 += 1 }
    patterns.foreach { p =>
      val chain = Iterator.iterate(fresh())(edit).take(p.length).toSeq
      p.zip(chain).foreach { case (w, t) => put(w, t) }
    }
    val clone = fresh()
    put('1', clone); put('2', clone)
    val twin = fresh()
    put('2', twin); put('2', twin)
    (0 until 8).foreach { _ => put('1', fresh()); put('2', fresh()) }
    (w1.result().toDF("doc_id", "text"), w2.result().toDF("doc_id", "text"))
  }

  /** MinHash chains: 60-word texts and one-word edits (Jaccard ≈ 0.9
    * per step, ≈ 0.8 two steps apart). */
  private lazy val waves: (DataFrame, DataFrame) = chainedWaves(60, 1)

  test("incremental MinHash tiers equal an all-pairs driver reference " +
      "over two chained waves (memory, indexed, nearDupIngestBatch)") {
    val threshold = 0.8
    val near = estAtLeast(threshold) _
    val (w1, w2) = waves
    val s1 = sigsOf(w1)
    val s2 = sigsOf(w2)
    val ref1 = referenceSurvivors(Map.empty, s1, near)
    val ref2 = referenceSurvivors(s1.filter(e => ref1(e._1)), s2, near)
    // the fixture exercises every survivor rule: wave-2 docs die to a
    // direct old neighbor, to a new-new link into an old contact, and
    // to a smaller new id in a purely new component; wave 1 dedups too
    val alone2 = referenceSurvivors(Map.empty, s2, near)
    val diedToOld = alone2 -- ref2
    assert(diedToOld.nonEmpty && (s2.keySet -- alone2).nonEmpty &&
      ref1.size < s1.size, (ref1, ref2, alone2))
    assert(diedToOld.exists(b =>
      !s1.filter(e => ref1(e._1)).values.exists(near(_, s2(b)))),
      "no wave-2 doc dies only through a new-new link")

    val empty = TextDedupOps.minHashSignatures(w1.limit(0), "doc_id",
      "text", 3, 32)
    // in-memory tier, the index being wave 1's survivors
    val m1 = ids(TextDedupOps.lshIncremental(w1, empty, "doc_id", "text",
      threshold = threshold))
    assert(m1 === ref1)
    val idx1 = TextDedupOps.minHashSignatures(
      w1.filter(col("doc_id").isin(ref1.toSeq: _*)), "doc_id", "text", 3, 32)
    assert(ids(TextDedupOps.lshIncremental(w2, idx1, "doc_id", "text",
      threshold = threshold)) === ref2)

    // persisted-index tier
    val dir = tmpDir("indexed")
    TextDedupOps.writeLshIndex(empty, dir, "doc_id", bands = 8)
    val (i1, g1) = TextDedupOps.lshIncrementalIndexed(w1, dir, "doc_id",
      "text", threshold = threshold)
    assert(ids(i1) === ref1)
    assert(ids(g1) === ref1)
    TextDedupOps.writeLshIndex(g1, dir, "doc_id", bands = 8,
      mode = "append")
    val (i2, g2) = TextDedupOps.lshIncrementalIndexed(w2, dir, "doc_id",
      "text", threshold = threshold)
    assert(ids(i2) === ref2)
    assert(ids(g2) === ref2)

    // exactly-once ingest, two chained batches
    val root = tmpDir("ingest")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    TextDedupOps.writeLshIndex(empty, index, "doc_id", bands = 8)
    assert(IngestCommit.nearDupIngestBatch(w1, 0L, index, corpus,
      threshold = threshold))
    assert(IngestCommit.nearDupIngestBatch(w2, 1L, index, corpus,
      threshold = threshold))
    assert(ids(spark.read.parquet(s"$corpus/ingest_id=0")) === ref1)
    assert(ids(spark.read.parquet(s"$corpus/ingest_id=1")) === ref2)
  }

  // The boilerplate fixture of LlmSpec's capped lshCandidatePairs test:
  // 40 docs sharing a 29-word template (pairwise Jaccard ≈ 0.93, hot
  // band buckets) and an exact-clone pair in occupancy-2 buckets.
  private lazy val boilerplate: DataFrame = {
    val template = (0 until 29).map(j => s"b$j").mkString(" ")
    val boiler = (200L until 240L).map(i => (i, s"$template unique$i"))
    val pairText = (0 until 30).map(j => s"w${j * 13 % 50}").mkString(" ")
    (boiler ++ Seq((1L, pairText), (101L, pairText))).toDF("doc_id", "text")
  }

  test("capped incremental MinHash tiers: memory and indexed tiers " +
      "agree under a cap on the boilerplate fixture split in two") {
    val old = boilerplate.filter(col("doc_id") < 220 && col("doc_id") =!= 101)
    val batch = boilerplate.filter(col("doc_id") >= 220 || col("doc_id") === 101)
    val idx = TextDedupOps.minHashSignatures(old, "doc_id", "text", 3, 32)
    val dir = tmpDir("capped")
    TextDedupOps.writeLshIndex(idx, dir, "doc_id", bands = 8)
    def memory(cap: Int): Set[Long] = ids(TextDedupOps.lshIncremental(
      batch, idx, "doc_id", "text", maxBucketSize = cap))
    def indexed(cap: Int): Set[Long] = ids(TextDedupOps.lshIncrementalIndexed(
      batch, dir, "doc_id", "text", maxBucketSize = cap)._1)
    val capped = memory(10)
    assert(capped === indexed(10))
    // uncapped, every batch doc touches the index; the cap drops the
    // hot template buckets, so batch boilerplate survives ...
    assert(memory(Int.MaxValue) === Set.empty[Long])
    assert(capped.nonEmpty && capped.forall(_ >= 220), capped)
    // ... while the clone of index doc 1 still dies in its cool buckets
    assert(!capped.contains(101L))
  }

  test("incremental bucket caps count old + new: a bucket at the cap " +
      "on the index side alone is dropped once the batch joins it") {
    val t = (0 until 30).map(j => s"c$j").mkString(" ")
    // five identical index docs fill each of their buckets to 5; the
    // batch's sixth copy makes 6. A cap counting only the index side
    // (5 ≤ 5) would keep the buckets and kill doc 100.
    val old = ((0L until 5L).map(i => (i, t)) ++
      Seq((10L, (0 until 30).map(j => s"o$j").mkString(" "))))
      .toDF("doc_id", "text")
    val batch = Seq((100L, t),
      (110L, (0 until 30).map(j => s"n$j").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = TextDedupOps.minHashSignatures(old, "doc_id", "text", 3, 32)
    val dir = tmpDir("cap-old-new")
    TextDedupOps.writeLshIndex(idx, dir, "doc_id", bands = 8)
    def memory(cap: Int): Set[Long] = ids(TextDedupOps.lshIncremental(
      batch, idx, "doc_id", "text", maxBucketSize = cap))
    def indexed(cap: Int): Set[Long] = ids(TextDedupOps.lshIncrementalIndexed(
      batch, dir, "doc_id", "text", maxBucketSize = cap)._1)
    def simhash(cap: Int): Set[Long] = ids(TextDedupOps.simHashIncremental(
      batch, TextDedupOps.simHash(old, "doc_id", "text"), "doc_id", "text",
      maxHamming = 3, bands = 4, maxBucketSize = cap))
    Seq[(String, Int => Set[Long])]("memory" -> memory, "indexed" -> indexed,
        "simhash" -> simhash).foreach { case (tier, run) =>
      assert(run(5) === Set(100L, 110L), tier)
      assert(run(6) === Set(110L), tier)
    }
  }

  /** SimHash chains: 500-word texts and three-word edits, so
    * consecutive chain members mostly sit within maxHamming = 3 and
    * members further apart drift past it. Seed 6 is one whose waves
    * exercise every survivor rule and the cap (the test asserts it). */
  private lazy val simWaves: (DataFrame, DataFrame) =
    chainedWaves(500, 3, seed = 6)

  test("incremental SimHash tiers equal an all-pairs driver reference " +
      "over two chained waves, capped and uncapped (memory, " +
      "simHashIngestBatch)") {
    val (w1, w2) = simWaves
    val h1 = hashesOf(w1)
    val h2 = hashesOf(w2)
    def reference(cap: Int): (Set[Long], Set[Long]) = {
      val ref1 = referenceSurvivors(Map.empty, h1,
        simHashEdge(h1.values, 3, 4, cap))
      val old = h1.filter(e => ref1(e._1))
      (ref1, referenceSurvivors(old, h2,
        simHashEdge(old.values ++ h2.values, 3, 4, cap)))
    }
    val (ref1, ref2) = reference(Int.MaxValue)
    // as for MinHash: wave-2 docs die to an old neighbor, to a new-new
    // link into an old contact, and to a smaller new id
    val alone2 = referenceSurvivors(Map.empty, h2,
      simHashEdge(h2.values, 3, 4, Int.MaxValue))
    val old1 = h1.filter(e => ref1(e._1)).values
    val diedToOld = alone2 -- ref2
    assert(diedToOld.nonEmpty && (h2.keySet -- alone2).nonEmpty &&
      ref1.size < h1.size, (ref1, ref2, alone2))
    assert(diedToOld.exists(b =>
      !old1.exists(h => java.lang.Long.bitCount(h ^ h2(b)) <= 3)),
      "no wave-2 doc dies only through a new-new link")
    // a cap of 3 drops the buckets a whole chain shares and changes
    // survivors, so the capped run checks the cap, not just the pairs
    assert(reference(3) != (ref1, ref2))
    for (cap <- Seq(Int.MaxValue, 3)) {
      val (r1, r2) = reference(cap)
      val empty = TextDedupOps.simHash(w1.limit(0), "doc_id", "text")
      assert(ids(TextDedupOps.simHashIncremental(w1, empty, "doc_id",
        "text", maxBucketSize = cap)) === r1, s"cap $cap")
      val idx1 = TextDedupOps.simHash(
        w1.filter(col("doc_id").isin(r1.toSeq: _*)), "doc_id", "text")
      assert(ids(TextDedupOps.simHashIncremental(w2, idx1, "doc_id",
        "text", maxBucketSize = cap)) === r2, s"cap $cap")
      val root = tmpDir(s"simhash-ingest-$cap")
      val (hashes, corpus) = (s"$root/hashes", s"$root/corpus")
      Seq(w1, w2).zipWithIndex.foreach { case (w, i) =>
        assert(IngestCommit.simHashIngestBatch(w, i.toLong, hashes, corpus,
          maxBucketSize = cap))
      }
      assert(ids(spark.read.parquet(s"$corpus/ingest_id=0")) === r1)
      assert(ids(spark.read.parquet(s"$corpus/ingest_id=1")) === r2)
      assert(ids(TextDedupOps.committedSimHashes(spark, hashes)) === r1 ++ r2)
    }
  }

  test("either side of the 65,536-pair cap (360 and 370 identical " +
      "batch documents) the MinHash and SimHash tiers equal the " +
      "all-pairs reference") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def words(p: String): String = (0 until 40).map(j => s"$p$j").mkString(" ")
    // three copies of an indexed text, which all die to the index (3
    // new-new and 3 new-old pairs), and two singletons
    val old = Seq((5000L, words("u")), (5001L, words("o")))
      .toDF("doc_id", "text")
    val want = Set(0L, 2000L, 2001L)
    for (copies <- Seq(360L, 370L)) {
      val pairs = copies * (copies - 1) / 2 + 6
      val pastCap = pairs > 65536
      assert(pastCap == (copies == 370L), pairs)
      val batch = ((0L until copies).map(i => (i, words("t"))) ++
        (1000L until 1003L).map(i => (i, words("u"))) ++
        Seq((2000L, words("f")), (2001L, words("g")))).toDF("doc_id", "text")
      // past the cap the step anti-joins the persisted losers; below it
      // the losers are one InSet, never one literal per loser
      def check(survivors: DataFrame, tier: String): Unit = {
        val plan = survivors.queryExecution.analyzed
        assert(plan.exists {
          case j: Join => j.joinType == LeftAnti
          case _ => false
        } == pastCap, s"$tier $copies")
        assert(plan.expressions.exists(_.exists(_.isInstanceOf[InSet])) ==
          !pastCap && !plan.expressions.exists(_.exists(_.isInstanceOf[In])),
          s"$tier $copies")
        assert(ids(survivors) === want, s"$tier $copies")
      }

      val so = sigsOf(old)
      assert(referenceSurvivors(so, sigsOf(batch), estAtLeast(0.8) _) === want)
      check(TextDedupOps.lshIncremental(batch,
        TextDedupOps.minHashSignatures(old, "doc_id", "text", 3, 32),
        "doc_id", "text", threshold = 0.8), "MinHash")

      val ho = hashesOf(old)
      val hb = hashesOf(batch)
      assert(referenceSurvivors(ho, hb,
        simHashEdge(ho.values ++ hb.values, 3, 4, Int.MaxValue)) === want)
      check(TextDedupOps.simHashIncremental(batch,
        TextDedupOps.simHash(old, "doc_id", "text"), "doc_id", "text"),
        "SimHash")
    }
  }

  test("incremental SimHash pairs are new-vs-all: an index whose " +
      "documents all share one chunk emits no pair for a batch that " +
      "shares none") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val rnd = new scala.util.Random(11)
    val batch = (0L until 5L).map(i => (i,
      Seq.fill(30)(s"b${rnd.nextInt(1000000)}").mkString(" ")))
      .toDF("doc_id", "text")
    def chunk(h: Long, i: Int): Long = (h >>> (16 * i)) & 0xffffL
    val used = (0 until 4).map(i => hashesOf(batch).values.map(chunk(_, i)).toSet)
    assert(used.forall(_.size == 5), "batch documents share a chunk")
    // 50 index hashes: one band-0 chunk for all, distinct chunks in
    // the other bands, none of them a batch chunk
    def free(i: Int): Seq[Long] =
      Iterator.from(1).map(_.toLong).filterNot(used(i)).take(50).toSeq
    val (c0, v1, v2, v3) = (free(0).head, free(1), free(2), free(3))
    val index = (0 until 50).map(j => (100L + j,
      c0 | (v1(j) << 16) | (v2(j) << 32) | (v3(j) << 48)))
      .toDF("doc_id", "simhash")
    // AQE replaces a subtree whose stages produced no rows with an
    // empty relation, which would drop the join and its metrics from
    // the final plan
    val aqe = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.SpecListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out = try {
      val o = TextDedupOps.simHashIncremental(batch, index, "doc_id", "text")
      org.apache.spark.SpecListenerBus.drain(spark.sparkContext)
      o
    } finally {
      spark.listenerManager.unregister(listener)
      prevAqe.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    }
    assert(ids(out) === (0L until 5L).toSet)
    object Aqe extends AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    val pairJoins = seen.asScala.toSeq.flatMap(qe =>
      Aqe.collect(qe.executedPlan) { case j: BaseJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "chunk")) => j })
    assert(pairJoins.nonEmpty, "no bucket join ran")
    assert(pairJoins.map(_.metrics("numOutputRows").value).sum === 0L)
  }
}
