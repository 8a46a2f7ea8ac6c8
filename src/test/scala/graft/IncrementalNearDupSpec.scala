package graft

import graft.llm.{IngestCommit, TextDedupOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental MinHash tiers against a driver-side survivorship
  * reference that shares no code with them, and the hot-bucket caps of
  * the incremental tiers. The in-memory and persisted-index tiers run
  * one core, so comparing them with each other cannot catch a fault in
  * that core; the reference takes every pair of signatures instead of
  * banded candidates, and its own union-find. */
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

  /** Survivorship by definition: every pair of documents (old or new)
    * whose estimated Jaccard — agreeing minima / k — reaches
    * `threshold` is an edge, and a batch document survives iff its
    * component holds no existing document and it is the component's
    * minimum batch id. No banding: with bands = 8 and k = 32 a pair
    * that collides in no band has at least 8 mismatches (estimate
    * ≤ 0.75), so for a threshold above 0.75 banded recall is exact and
    * the tiers must agree with this all-pairs graph. */
  private def referenceSurvivors(existing: Map[Long, IndexedSeq[Long]],
      batch: Map[Long, IndexedSeq[Long]], threshold: Double): Set[Long] = {
    val nodes = existing.toSeq.map { case (id, s) => ((false, id), s) } ++
      batch.toSeq.map { case (id, s) => ((true, id), s) }
    val parent = scala.collection.mutable.Map(nodes.map(n => n._1 -> n._1): _*)
    def find(x: (Boolean, Long)): (Boolean, Long) =
      if (parent(x) == x) x else find(parent(x))
    for (i <- nodes.indices; j <- i + 1 until nodes.size) {
      val (a, sa) = nodes(i)
      val (b, sb) = nodes(j)
      val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.size
      if (est >= threshold) parent(find(a)) = find(b)
    }
    nodes.map(_._1).groupBy(find).values.flatMap { comp =>
      if (comp.exists(n => !n._1)) None else Some(comp.map(_._2).min)
    }.toSet
  }

  /** Two waves with planted near-dup chains: each chain is a 60-word
    * text and three successive one-word edits of it (Jaccard ≈ 0.9 per
    * step, ≈ 0.8 two steps apart), its members spread over the waves by
    * a pattern. Ids rise along each chain, so a chain whose head is new
    * and whose tail is old kills its head only through new-new links.
    * Also: an exact clone across the waves, an exact pair inside wave 2
    * and unrelated singletons in both. */
  private lazy val waves: (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(7)
    def fresh(): Vector[String] = Vector.fill(60)(s"v${rnd.nextInt(1000000)}")
    var edits = 0
    def edit(t: Vector[String]): Vector[String] = {
      edits += 1
      t.updated(5 + rnd.nextInt(50), s"e$edits")
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

  test("incremental MinHash tiers equal an all-pairs driver reference " +
      "over two chained waves (memory, indexed, nearDupIngestBatch)") {
    val threshold = 0.8
    val (w1, w2) = waves
    val s1 = sigsOf(w1)
    val s2 = sigsOf(w2)
    val ref1 = referenceSurvivors(Map.empty, s1, threshold)
    val ref2 = referenceSurvivors(s1.filter(e => ref1(e._1)), s2, threshold)
    // the fixture exercises every survivor rule: wave-2 docs die to a
    // direct old neighbor, to a new-new link into an old contact, and
    // to a smaller new id in a purely new component; wave 1 dedups too
    val alone2 = referenceSurvivors(Map.empty, s2, threshold)
    def near(a: IndexedSeq[Long], b: IndexedSeq[Long]): Boolean =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size >= threshold
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
}
