package graft

import graft.llm.{IngestCommit, SimilarityOps, TextDedupOps}
import org.apache.spark.SpecListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._

/** Exactly-once foreachBatch ingest (IngestCommit): kill the ingest at
  * every crash point the protocol distinguishes, replay it, and prove
  * the final corpus + index equal the one-shot oracle — the r17
  * verdict's done-bar for the last standing capability edge.
  *
  * The near-dup corpus is the trilinear synthetic of the
  * near_dup_incremental gates (distinct texts share NO shingle, clones
  * are byte-identical), so at threshold 0.99 the candidate pairs are
  * exactly the planted clone pairs and survivorship is closed-form. */
class IngestCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-ingest-$tag-${ProcessHandle.current().pid()}")
    val p = new org.apache.hadoop.fs.Path(d.toString)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    d.toString
  }

  private def triDocs(ids: Seq[Long]): DataFrame = {
    val mk = array_join(transform(sequence(lit(0), lit(24)),
      j => concat(lit("w"),
        ((col("doc_id") * 97 + j * 13 + col("doc_id") * j * 7) % 1009)
          .cast("string"))), " ")
    ids.toDF("doc_id").withColumn("text", mk)
  }

  /** base 0..39 in two batches, then a third batch of: clones of
    * committed docs (100..104 ≙ texts of 0..4 — must die against the
    * index), fresh docs 50..54, and a within-batch clone pair
    * (200 ≙ text of 52 — 52 survives, 200 dies). */
  private def batches: Seq[DataFrame] = {
    val b0 = triDocs(0L until 20L)
    val b1 = triDocs(20L until 40L)
    val clones = triDocs(0L until 5L)
      .select((col("doc_id") + 100).as("doc_id"), col("text"))
    val inBatch = triDocs(Seq(52L))
      .select((col("doc_id") + 148).as("doc_id"), col("text"))
    val b2 = triDocs(50L until 55L).unionByName(clones).unionByName(inBatch)
    Seq(b0, b1, b2)
  }

  private def oneShotOracle: DataFrame = {
    val all = batches.reduce(_ unionByName _)
    val emptyIdx = TextDedupOps.minHashSignatures(
      all.limit(0), "doc_id", "text", 3, 32)
    TextDedupOps.lshIncremental(all, emptyIdx, "doc_id", "text",
      threshold = 0.99)
  }

  private def initIndex(index: String): Unit =
    TextDedupOps.writeLshIndex(
      TextDedupOps.minHashSignatures(
        triDocs(Nil).limit(0), "doc_id", "text", 3, 32),
      index, "doc_id", bands = 8)

  /** Committed-view index invariants after any completed ingest run:
    * every committed id carries EXACTLY `bands` band rows (a double
    * append would inflate this — the bucket-cap hazard) and exactly
    * one signature row, and the id sets equal the corpus ids. */
  private def assertIndexConsistent(index: String, corpus: String,
      bands: Int = 8): Unit = {
    val hwm = IngestCommit.committedHwm(spark, s"$index/commits")
      .getOrElse(sys.error("no commit log"))
    val corpusIds = IngestCommit.committedCorpus(spark, corpus,
      s"$index/commits").select("doc_id").as[Long].collect().toSet
    val bandRows = spark.read
      .schema(TextDedupOps.bandsReadSchema("doc_id"))
      .parquet(s"$index/bands")
      .filter(col("ingest_id").isNull || col("ingest_id") <= hwm)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(bandRows.keySet == corpusIds,
      s"banded ids ${bandRows.keySet} != corpus ids $corpusIds")
    bandRows.foreach { case (id, n) =>
      assert(n == bands, s"doc $id has $n band rows, expected $bands")
    }
    val sigCounts = TextDedupOps.sigsRead(spark, index, "doc_id")
      .filter(col("ingest_id").isNull || col("ingest_id") <= hwm)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(sigCounts.keySet == corpusIds)
    sigCounts.foreach { case (id, n) =>
      assert(n == 1L, s"doc $id has $n sig rows, expected 1")
    }
  }

  test("exact-dedup ingest: exactly-once across batches, replay of a " +
      "committed batch is a no-op skip") {
    val corpus = tmpDir("exact")
    val b0 = triDocs(0L until 20L)
    val b1 = triDocs(20L until 40L)
      .unionByName(triDocs(0L until 5L) // cross-batch clones — must die
        .select((col("doc_id") + 100).as("doc_id"), col("text")))
    assert(IngestCommit.exactDedupIngestBatch(b0, 0L, corpus))
    assert(IngestCommit.exactDedupIngestBatch(b1, 1L, corpus))
    // replay of the hwm batch (the benign Spark-epoch redelivery):
    // skipped, storage untouched; an OLDER id rejects loudly (the
    // checkpoint-reset guard — see its dedicated test below)
    val before = IngestCommit.committedCorpus(spark, corpus,
      s"$corpus/_commits").collect().toSet
    assert(!IngestCommit.exactDedupIngestBatch(b1, 1L, corpus))
    val after = IngestCommit.committedCorpus(spark, corpus,
      s"$corpus/_commits")
    assert(after.collect().toSet == before)
    val oneShot = TextDedupOps.dedupIncremental(
      b0.unionByName(b1), b0.limit(0), "doc_id", "text")
    assertFrameEqual(after, oneShot)
  }

  test("exact-dedup ingest: kill after the corpus write, before the " +
      "commit — replay converges to the one-shot result") {
    val corpus = tmpDir("exact-kill")
    val b0 = triDocs(0L until 20L)
    val b1 = triDocs(20L until 40L)
    assert(IngestCommit.exactDedupIngestBatch(b0, 0L, corpus))
    intercept[RuntimeException] {
      IngestCommit.exactDedupIngestBatch(b1, 1L, corpus,
        failpoint = p => if (p == "after-corpus") sys.error("kill"))
    }
    // uncommitted partial publish is INVISIBLE to committed readers
    assert(IngestCommit.committedCorpus(spark, corpus,
      s"$corpus/_commits").count() == 20)
    // replay completes it
    assert(IngestCommit.exactDedupIngestBatch(b1, 1L, corpus))
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$corpus/_commits"),
      TextDedupOps.dedupIncremental(
        b0.unionByName(b1), b0.limit(0), "doc_id", "text"))
  }

  test("near-dup ingest: happy path + committed-batch replay skip " +
      "equals the one-shot oracle, index consistent") {
    val root = tmpDir("near")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(IngestCommit.nearDupIngestBatch(b, i.toLong, index, corpus,
        threshold = 0.99))
    }
    // redelivery of the hwm batch is a skip
    assert(!IngestCommit.nearDupIngestBatch(batches.last, 2L, index,
      corpus, threshold = 0.99))
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShotOracle)
    assertIndexConsistent(index, corpus)
  }

  test("near-dup ingest: kill AFTER the corpus write, BEFORE the index " +
      "append — replay recovers to the one-shot oracle") {
    val root = tmpDir("near-kill-corpus")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val bs = batches
    assert(IngestCommit.nearDupIngestBatch(bs(0), 0L, index, corpus,
      threshold = 0.99))
    intercept[RuntimeException] {
      IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
        threshold = 0.99,
        failpoint = p => if (p == "after-corpus") sys.error("kill"))
    }
    // a crashed in-flight batch BLOCKS maintenance (the rewrite would
    // promote its uncommitted rows to unconditionally-visible)
    val ex = intercept[IllegalArgumentException] {
      TextDedupOps.vacuumLshIndex(spark, index)
    }
    assert(ex.getMessage.contains("in-flight"))
    // replay recovers, remaining batches proceed
    assert(IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
      threshold = 0.99))
    assert(IngestCommit.nearDupIngestBatch(bs(2), 2L, index, corpus,
      threshold = 0.99))
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShotOracle)
    assertIndexConsistent(index, corpus)
  }

  test("near-dup ingest: kill AFTER the index append, BEFORE the " +
      "commit — replay neither double-appends nor self-matches") {
    val root = tmpDir("near-kill-index")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val bs = batches
    assert(IngestCommit.nearDupIngestBatch(bs(0), 0L, index, corpus,
      threshold = 0.99))
    intercept[RuntimeException] {
      IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
        threshold = 0.99,
        failpoint = p => if (p == "after-index") sys.error("kill"))
    }
    // the hazard this protocol exists for: on replay the crashed
    // attempt's stamped index rows must be invisible to the survivor
    // computation (else every batch-1 doc near-dup-matches its own
    // half-committed copy and the whole batch vanishes), and the
    // re-append must subtract them (else duplicate band rows inflate
    // bucket counts)
    assert(IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
      threshold = 0.99))
    assert(IngestCommit.nearDupIngestBatch(bs(2), 2L, index, corpus,
      threshold = 0.99))
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShotOracle)
    assertIndexConsistent(index, corpus)
  }

  test("near-dup ingest: a NULL-id document reaches the corpus but not " +
      "the index") {
    val root = tmpDir("near-null")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val nullDoc = triDocs(Seq(500L))
      .select(lit(null).cast("long").as("doc_id"), col("text"))
    assert(IngestCommit.nearDupIngestBatch(
      triDocs(0L until 10L).unionByName(nullDoc), 0L, index, corpus,
      threshold = 0.99))
    val ids = IngestCommit.committedCorpus(spark, corpus,
      s"$index/commits").select("doc_id").as[Option[Long]].collect()
    assert(ids.count(_.isEmpty) === 1, ids.toSeq)
    assert(ids.flatten.toSet == (0L until 10L).toSet)
    val bandIds = spark.read.schema(TextDedupOps.bandsReadSchema("doc_id"))
      .parquet(s"$index/bands").select("doc_id").as[Option[Long]]
      .collect().toSet
    val sigIds = TextDedupOps.sigsRead(spark, index, "doc_id")
      .select("doc_id").as[Option[Long]].collect().toSet
    assert(bandIds == (0L until 10L).map(Option(_)).toSet, bandIds)
    assert(sigIds == bandIds, sigIds)
  }

  test("near-dup ingest: NULL-text documents reach the corpus but not " +
      "the index") {
    val root = tmpDir("near-null-text")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val nullText = triDocs(Seq(500L, 501L))
      .select(col("doc_id"), lit(null).cast("string").as("text"))
    assert(IngestCommit.nearDupIngestBatch(
      triDocs(0L until 10L).unionByName(nullText), 0L, index, corpus,
      threshold = 0.99))
    val ids = IngestCommit.committedCorpus(spark, corpus,
      s"$index/commits").select("doc_id").as[Long].collect()
    assert(ids.sorted.toSeq == (0L until 10L) ++ Seq(500L, 501L))
    val bandIds = spark.read.schema(TextDedupOps.bandsReadSchema("doc_id"))
      .parquet(s"$index/bands").select("doc_id").as[Long].collect().toSet
    val sigIds = TextDedupOps.sigsRead(spark, index, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(bandIds == (0L until 10L).toSet, bandIds)
    assert(sigIds == bandIds, sigIds)
  }

  /** Runs `body` and returns each query it executed, by the plan AQE
    * started from (its initial plan, before any stage ran) or, where
    * AQE left a query alone, by its executed plan. */
  private def initialPlans(body: => Unit): Seq[(QueryExecution, SparkPlan)] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    SpecListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; SpecListenerBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.map(qe => qe -> qe.executedPlan.transformUp {
      case a: AdaptiveSparkPlanExec => a.initialPlan
    })
  }

  /** The output path of a write query, if `qe` is one. */
  private def writePath(qe: QueryExecution): Option[String] =
    qe.logical.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
    }

  /** Ingests a 250-doc base as batch 0, then captures the plans of a
    * 250-row batch 1 (240 fresh docs and 10 clones of base docs) that is
    * joined to its own ids, as a scored batch is: the join's size
    * estimate (the product of its sides) is far above the broadcast
    * threshold, so only the checkpoint's measured size can make the
    * batch a broadcast side. */
  private def batchOnePlans(tag: String): Seq[(QueryExecution, SparkPlan)] = {
    val root = tmpDir(tag)
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    assert(IngestCommit.nearDupIngestBatch(triDocs(0L until 250L), 0L,
      index, corpus, threshold = 0.99))
    val clones = triDocs(0L until 10L)
      .select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val fresh = triDocs(250L until 490L).unionByName(clones)
    val b1 = fresh.join(fresh.select("doc_id"), Seq("doc_id"))
    val plans = initialPlans(assert(IngestCommit.nearDupIngestBatch(
      b1, 1L, index, corpus, threshold = 0.99)))
    val ids = IngestCommit.committedCorpus(spark, corpus,
      s"$index/commits").select("doc_id").as[Long].collect().toSet
    assert(ids == (0L until 490L).toSet)
    plans
  }

  private def shuffles(p: SparkPlan) = p.collect {
    case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
  }

  /** The pair probe: the one collect over the banded join. */
  private def probePlan(plans: Seq[(QueryExecution, SparkPlan)]): SparkPlan = {
    val probes = plans.collect { case (qe, p) if writePath(qe).isEmpty &&
        p.toString.contains("band_hash") => p }
    assert(probes.size == 1, probes.mkString("\n\n"))
    probes.head
  }

  test("near-dup ingest plans: the corpus write and both appends plan " +
      "no shuffle; the pair probe broadcasts the batch bands") {
    import org.apache.spark.sql.execution.{GenerateExec, RDDScanExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val plans = batchOnePlans("near-plans")
    val writes = plans.flatMap { case (qe, p) => writePath(qe).map(_ -> p) }
    Seq("corpus/ingest_id=1", "index/bands", "index/sigs").foreach { w =>
      val ps = writes.collect { case (path, p) if path.endsWith(w) => p }
      assert(ps.size == 1, s"$w: ${writes.map(_._1)}")
      assert(shuffles(ps.head).isEmpty, s"$w shuffles:\n${ps.head}")
    }
    // the batch bands (explode of the checkpointed signatures) are a
    // broadcast side; the index scan streams past them
    val probe = probePlan(plans)
    val bandBroadcast = probe.collect { case b: BroadcastExchangeExec
        if b.child.exists(_.isInstanceOf[GenerateExec]) &&
          b.child.exists(_.isInstanceOf[RDDScanExec]) => b }
    assert(bandBroadcast.nonEmpty, probe.toString)
  }

  test("near-dup ingest plans: with broadcasts off the pair probe " +
      "plans shuffle joins (the broadcast is chosen by size, not a hint)") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val probe = probePlan(batchOnePlans("near-plans-nobc"))
      assert(probe.collect { case b: BroadcastExchangeExec => b }.isEmpty,
        probe.toString)
      assert(probe.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        probe.toString)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("near-dup ingest evaluates its input lineage once per batch") {
    val root = tmpDir("near-once")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    ingestCountingRows(root)(IngestCommit.nearDupIngestBatch(_, _, index,
      corpus, threshold = 0.99))
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShotOracle)
    assertIndexConsistent(index, corpus)
  }

  /** Writes each of `batches` to parquet under `root` and ingests it
    * with `ingest`(batch, id) through a filter that counts every row the
    * batch lineage produces; asserts the lineage ran once per batch. */
  private def ingestCountingRows(root: String)(
      ingest: (DataFrame, Long) => Boolean): Unit = {
    // every row the batch lineage produces passes this filter once per
    // evaluation of the lineage; parquet input keeps the optimizer from
    // folding the filter into a driver-side local relation
    val evals = spark.sparkContext.longAccumulator("batch-rows")
    val seen = udf(() => { evals.add(1); true }).asNondeterministic()
    batches.zipWithIndex.foreach { case (b, i) =>
      val in = s"$root/in-$i"
      b.write.parquet(in)
      val rows = spark.read.parquet(in).count()
      evals.reset()
      assert(ingest(spark.read.parquet(in).filter(seen()), i.toLong))
      assert(evals.value == rows, s"batch $i: ${evals.value} row " +
        s"evaluations for $rows rows")
    }
  }

  /** The one-shot SimHash replay over every batch at once. */
  private def simHashOneShot: DataFrame = {
    val all = batches.reduce(_ unionByName _)
    TextDedupOps.simHashIncremental(all,
      TextDedupOps.simHash(all.limit(0), "doc_id", "text"),
      "doc_id", "text")
  }

  test("simhash ingest evaluates its input lineage once per batch") {
    val root = tmpDir("simhash-once")
    val (hashes, corpus) = (s"$root/hashes", s"$root/corpus")
    ingestCountingRows(root)(
      IngestCommit.simHashIngestBatch(_, _, hashes, corpus))
    val committed = IngestCommit.committedCorpus(spark, corpus,
      s"$hashes/_commits")
    assertFrameEqual(committed, simHashOneShot)
    assert(TextDedupOps.committedSimHashes(spark, hashes)
      .select("doc_id").as[Long].collect().sorted.toSeq ==
      committed.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("simhash ingest: a NULL-id document reaches the corpus but not " +
      "the hash store") {
    val root = tmpDir("simhash-null")
    val (hashes, corpus) = (s"$root/hashes", s"$root/corpus")
    val nullDoc = triDocs(Seq(500L))
      .select(lit(null).cast("long").as("doc_id"), col("text"))
    assert(IngestCommit.simHashIngestBatch(
      triDocs(0L until 10L).unionByName(nullDoc), 0L, hashes, corpus))
    val ids = IngestCommit.committedCorpus(spark, corpus,
      s"$hashes/_commits").select("doc_id").as[Option[Long]].collect()
    assert(ids.count(_.isEmpty) === 1, ids.toSeq)
    assert(ids.flatten.toSet == (0L until 10L).toSet)
    val stored = TextDedupOps.committedSimHashes(spark, hashes)
      .select("doc_id").as[Option[Long]].collect()
    assert(stored.sorted.toSeq == (0L until 10L).map(Option(_)), stored.toSeq)
  }

  test("near-dup ingest of a batch with losers runs no job whose only " +
      "stage broadcasts a local relation") {
    val root = tmpDir("near-nolocal")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val bs = batches
    Seq(0, 1).foreach(i => assert(IngestCommit.nearDupIngestBatch(
      bs(i), i.toLong, index, corpus, threshold = 0.99)))
    val jobs = SpecListenerBus.stageScopesPerJob(spark.sparkContext)(
      assert(IngestCommit.nearDupIngestBatch(bs(2), 2L, index, corpus,
        threshold = 0.99)))
    val localBroadcasts = jobs.filter(j => j.size == 1 &&
      j.head.contains("LocalTableScan") &&
      j.head.subsetOf(Set("LocalTableScan", "BroadcastExchange")))
    assert(localBroadcasts.isEmpty, jobs.mkString("\n"))
    // batch 2 has losers: its clones of committed docs 0..4 and of 52
    val ids = spark.read.parquet(s"$corpus/ingest_id=2").select("doc_id")
      .as[Long].collect().toSet
    assert(ids == (50L until 55L).toSet)
  }

  test("simhash ingest: kills at both crash points replay to the " +
      "one-shot result; committed batches skip; hash index consistent") {
    val root = tmpDir("simhash")
    val (hashes, corpus) = (s"$root/hashes", s"$root/corpus")
    val bs = batches
    assert(IngestCommit.simHashIngestBatch(bs(0), 0L, hashes, corpus))
    intercept[RuntimeException] {
      IngestCommit.simHashIngestBatch(bs(1), 1L, hashes, corpus,
        failpoint = p => if (p == "after-index") sys.error("kill"))
    }
    assert(IngestCommit.simHashIngestBatch(bs(1), 1L, hashes, corpus))
    intercept[RuntimeException] {
      IngestCommit.simHashIngestBatch(bs(2), 2L, hashes, corpus,
        failpoint = p => if (p == "after-corpus") sys.error("kill"))
    }
    assert(IngestCommit.simHashIngestBatch(bs(2), 2L, hashes, corpus))
    assert(!IngestCommit.simHashIngestBatch(bs(2), 2L, hashes, corpus))
    val committed = IngestCommit.committedCorpus(spark, corpus,
      s"$hashes/_commits")
    assertFrameEqual(committed, simHashOneShot)
    // exactly one committed hash row per corpus id (a replay
    // double-append would inflate this)
    val hwm = IngestCommit.committedHwm(spark, s"$hashes/_commits")
      .getOrElse(sys.error("no log"))
    val hs = spark.read.parquet(s"$hashes/hashes") // r19 subdir layout
      .filter(col("ingest_id").isNull || col("ingest_id") <= hwm)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val cids = committed.select("doc_id").as[Long].collect().toSet
    assert(hs.keySet == cids)
    hs.foreach { case (id, n) => assert(n == 1L, s"doc $id: $n rows") }
  }

  test("compaction folds the commit log to one row, preserving the " +
      "high-water-mark and replay-skip semantics") {
    val root = tmpDir("near-compact")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      assert(IngestCommit.nearDupIngestBatch(b, i.toLong, index, corpus,
        threshold = 0.99))
    }
    TextDedupOps.compactLshIndex(spark, index)
    val logFiles = new java.io.File(s"$index/commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSeq // crc sidecars
    assert(logFiles == Seq("commit-2"), s"log after compaction: $logFiles")
    // skip semantics intact after compaction: the hwm batch still
    // skips, and an older id still trips the regression guard
    assert(!IngestCommit.nearDupIngestBatch(bs(2), 2L, index, corpus,
      threshold = 0.99))
    val exReg = intercept[IllegalArgumentException] {
      IngestCommit.nearDupIngestBatch(bs(0), 0L, index, corpus,
        threshold = 0.99)
    }
    assert(exReg.getMessage.contains("regressed"))
    // compaction folded the stamps into the unstamped base — the
    // committed view is unchanged
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShotOracle)
    assertIndexConsistent(index, corpus)
  }

  /** Clustered deterministic vectors for the IVF-PQ ingest test. */
  private lazy val vecs = {
    val rows = (0L until 60L).map { i =>
      val c = (i % 4).toInt
      (i, Array.tabulate(8)(d =>
        (if (d == c * 2) 1.0 else 0.1) +
          ((i * 31 + d * 7) % 13).toDouble / 100).toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("ivfpq ingest: exactly-once append — a crashed attempt's rows " +
      "never serve, replay converges cells + corpus + serving to the " +
      "clean run, maintenance blocked in-flight") {
    val root = tmpDir("ivfpq")
    val seed = vecs.filter(col("vec_id") < 30)
    val b0 = vecs.filter(col("vec_id").between(30, 44))
    val b1 = vecs.filter(col("vec_id") >= 45)
    val cents = SimilarityOps.trainIvfCentroids(seed, "vec_id",
      "embedding", 4)
    val cbs = SimilarityOps.trainPqCodebooksResidual(seed, "vec_id",
      "embedding", cents, m = 4, ksub = 4, iters = 1)
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def serve(idx: String): Seq[(Long, Long, Double, Int)] =
      SimilarityOps.ivfPqTopKIndexed(queries, idx, vecs, 3,
        nprobe = cents.length, rerankFactor = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq
    for (tag <- Seq("clean", "killed", "seedonly"))
      SimilarityOps.writeIvfPqIndex(seed, s"$root/$tag/index", cents, cbs)
    assert(IngestCommit.ivfPqIngestBatch(b0, 0L, s"$root/clean/index",
      s"$root/clean/corpus"))
    assert(IngestCommit.ivfPqIngestBatch(b1, 1L, s"$root/clean/index",
      s"$root/clean/corpus"))
    val (kIdx, kCorp) = (s"$root/killed/index", s"$root/killed/corpus")
    intercept[RuntimeException] {
      IngestCommit.ivfPqIngestBatch(b0, 0L, kIdx, kCorp,
        failpoint = p => if (p == "after-index") sys.error("kill"))
    }
    // mid-crash: the stamped partial append is INVISIBLE to serving —
    // results equal an index that only ever held the seed — and
    // maintenance refuses to fold it into the base
    assert(serve(kIdx) == serve(s"$root/seedonly/index"))
    val exM = intercept[IllegalArgumentException] {
      SimilarityOps.compactIvfPqIndex(spark, kIdx)
    }
    assert(exM.getMessage.contains("in-flight"))
    // replay batch 0, kill batch 1 at the other crash point, replay
    assert(IngestCommit.ivfPqIngestBatch(b0, 0L, kIdx, kCorp))
    intercept[RuntimeException] {
      IngestCommit.ivfPqIngestBatch(b1, 1L, kIdx, kCorp,
        failpoint = p => if (p == "after-corpus") sys.error("kill"))
    }
    assert(IngestCommit.ivfPqIngestBatch(b1, 1L, kIdx, kCorp))
    assert(!IngestCommit.ivfPqIngestBatch(b1, 1L, kIdx, kCorp)) // skip
    // cells content identical to the clean run, exactly one row per id
    def cells(idx: String): Seq[(Long, Seq[Int], Double, Int)] =
      spark.read.parquet(s"$idx/cells")
        .select("vec_id", "pq_codes", "recon_normsq", "cell")
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1),
          r.getDouble(2), r.getInt(3))).sortBy(_._1).toSeq
    val kc = cells(kIdx)
    assert(kc == cells(s"$root/clean/index"))
    assert(kc.map(_._1).distinct.size == kc.size)
    assert(kc.size == 60)
    // serving + committed corpus equal the clean run
    assert(serve(kIdx) == serve(s"$root/clean/index"))
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, kCorp, s"$kIdx/commits"),
      IngestCommit.committedCorpus(spark, s"$root/clean/corpus",
        s"$root/clean/index/commits"))
    // maintenance now allowed, folds the stamps + the log, serving
    // unchanged
    val before = serve(kIdx)
    SimilarityOps.compactIvfPqIndex(spark, kIdx)
    assert(serve(kIdx) == before)
    val logFiles = new java.io.File(s"$kIdx/commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSeq
    assert(logFiles == Seq("commit-1"), s"log: $logFiles")
  }

  test("entry guards: a batch id below the hwm (checkpoint-reset " +
      "regression) and a foreign in-flight id both reject loudly") {
    val root = tmpDir("guards")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val bs = batches
    assert(IngestCommit.nearDupIngestBatch(bs(0), 0L, index, corpus,
      threshold = 0.99))
    assert(IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
      threshold = 0.99))
    // a stream restarted with a FRESH checkpoint restarts ids at 0 —
    // the old silent skip would drop its data; now it is loud
    val exReg = intercept[IllegalArgumentException] {
      IngestCommit.nearDupIngestBatch(bs(2), 0L, index, corpus,
        threshold = 0.99)
    }
    assert(exReg.getMessage.contains("regressed"))
    // same guard on the no-write-ahead and simhash families
    assert(IngestCommit.exactDedupIngestBatch(bs(0), 0L, s"$root/ex"))
    assert(IngestCommit.exactDedupIngestBatch(bs(1), 1L, s"$root/ex"))
    assert(intercept[IllegalArgumentException] {
      IngestCommit.exactDedupIngestBatch(bs(2), 0L, s"$root/ex")
    }.getMessage.contains("regressed"))
    // leave batch 2 begun-but-uncommitted, then enter batch 3: the
    // only in-flight id an entry may observe is its own crashed
    // attempt — a skipped-ahead id would promote batch 2's partial
    // stamped rows to committed when batch 3's marker lands
    intercept[RuntimeException] {
      IngestCommit.nearDupIngestBatch(bs(2), 2L, index, corpus,
        threshold = 0.99,
        failpoint = p => if (p == "after-index") sys.error("kill"))
    }
    val exFly = intercept[IllegalArgumentException] {
      IngestCommit.nearDupIngestBatch(bs(2), 3L, index, corpus,
        threshold = 0.99)
    }
    assert(exFly.getMessage.contains("single-writer"))
    // replaying the in-flight id itself recovers, then 3 may proceed
    assert(IngestCommit.nearDupIngestBatch(bs(2), 2L, index, corpus,
      threshold = 0.99))
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShotOracle)
    assertIndexConsistent(index, corpus)
  }

  test("maintenance lease: ingest backs off (begin retracted) while a " +
      "lease is live; a stale lease blocks until re-run or broken; " +
      "foreign files in the log dir survive compaction") {
    val root = tmpDir("lease")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val bs = batches
    assert(IngestCommit.nearDupIngestBatch(bs(0), 0L, index, corpus,
      threshold = 0.99))
    val logDir = s"$index/commits"
    // ingest entering DURING maintenance rejects and leaves no
    // in-flight begin behind (the retract half of intent-then-check)
    val exLease = intercept[IllegalArgumentException] {
      IngestCommit.withMaintenanceLease(spark, logDir, "test") {
        IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
          threshold = 0.99)
      }
    }
    assert(exLease.getMessage.contains("maintenance lease"))
    assert(IngestCommit.logState(spark, logDir)._2.isEmpty,
      "back-off left an in-flight begin")
    // a lease left by a DEAD maintainer blocks new batches...
    val fs = new org.apache.hadoop.fs.Path(logDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$logDir/maint-42"), false)
      .close()
    intercept[IllegalArgumentException] {
      IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
        threshold = 0.99)
    }
    // ...until the maintenance op is RE-RUN (idempotent takeover:
    // recovers, completes, releases — the stale-lease rule)...
    TextDedupOps.compactLshIndex(spark, index)
    assert(IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
      threshold = 0.99))
    // ...or broken manually
    fs.create(new org.apache.hadoop.fs.Path(s"$logDir/maint-43"), false)
      .close()
    IngestCommit.breakMaintenanceLease(spark, logDir)
    assert(IngestCommit.nearDupIngestBatch(bs(2), 2L, index, corpus,
      threshold = 0.99))
    // compaction folds ONLY recognized markers — a foreign file (a
    // stray _SUCCESS, future metadata) is not its to destroy
    fs.create(new org.apache.hadoop.fs.Path(s"$logDir/_SUCCESS"), false)
      .close()
    TextDedupOps.compactLshIndex(spark, index)
    val names = new java.io.File(logDir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(names == Set("commit-2", "_SUCCESS"), s"log: $names")
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShotOracle)
    assertIndexConsistent(index, corpus)
  }

  test("compaction interleaved BETWEEN live ingest batches preserves " +
      "the corpus, the index layout, and serving") {
    val root = tmpDir("interleave")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val bs = batches
    assert(IngestCommit.nearDupIngestBatch(bs(0), 0L, index, corpus,
      threshold = 0.99))
    TextDedupOps.compactLshIndex(spark, index) // between batches: fine
    assert(IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
      threshold = 0.99))
    TextDedupOps.compactLshIndex(spark, index)
    assert(IngestCommit.nearDupIngestBatch(bs(2), 2L, index, corpus,
      threshold = 0.99))
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShotOracle)
    assertIndexConsistent(index, corpus)
  }

  test("simhash store lifecycle: tombstone deletes take effect on the " +
      "next batch's matching; compaction folds tombstones + stamps + " +
      "log; r18 root layouts migrate on first touch") {
    val root = tmpDir("simhash-life")
    val (hashes, corpus) = (s"$root/hashes", s"$root/corpus")
    val bs = batches
    assert(IngestCommit.simHashIngestBatch(bs(0), 0L, hashes, corpus))
    assert(IngestCommit.simHashIngestBatch(bs(1), 1L, hashes, corpus))
    // delete docs 0..4: their +100 clones in batch 2 (texts of 0..4)
    // must now SURVIVE, while the in-batch clone (200 ≙ 52) still dies
    TextDedupOps.deleteFromSimHashStore(
      spark.range(5).select(col("id").as("doc_id")), hashes)
    val survTomb = TextDedupOps.simHashIncremental(bs(2),
      TextDedupOps.committedSimHashes(spark, hashes), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert((100L until 105L).toSet.subsetOf(survTomb),
      s"clones of deleted docs must survive: $survTomb")
    assert(!survTomb.contains(200L))
    // compaction (physical fold) must not change the matching view...
    TextDedupOps.compactSimHashStore(spark, hashes)
    val survVac = TextDedupOps.simHashIncremental(bs(2),
      TextDedupOps.committedSimHashes(spark, hashes), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(survVac == survTomb,
      s"compaction changed survivors: $survTomb -> $survVac")
    // ...log folded to one marker, tombstones gone, ingest continues
    val logFiles = new java.io.File(s"$hashes/_commits").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSeq.sorted
    assert(logFiles == Seq("commit-1"), s"log: $logFiles")
    assert(!new java.io.File(s"$hashes/tombstones").exists())
    assert(IngestCommit.simHashIngestBatch(bs(2), 2L, hashes, corpus))
    val corpusIds = IngestCommit.committedCorpus(spark, corpus,
      s"$hashes/_commits").select("doc_id").as[Long].collect().toSet
    assert((100L until 105L).toSet.subsetOf(corpusIds))
    // r18 ROOT-layout migration: move the data files back to the root
    // (the old layout) — the next wrapper touch must migrate and the
    // view must be unchanged
    val before = TextDedupOps.committedSimHashes(spark, hashes)
      .as[(Long, Long)].collect().toSet
    val dataDir = new java.io.File(s"$hashes/hashes")
    dataDir.listFiles().filter(_.getName.startsWith("part-"))
      .foreach { f =>
        assert(f.renameTo(new java.io.File(s"$hashes/${f.getName}")))
      }
    val after = TextDedupOps.committedSimHashes(spark, hashes)
      .as[(Long, Long)].collect().toSet
    assert(after == before, "migration changed the committed view")
    assert(new java.io.File(s"$hashes/hashes").listFiles()
      .exists(_.getName.startsWith("part-")), "files not migrated back")
  }

  test("strict begin-create detects a same-id writer race: a begin " +
      "landing between the log read and the create rejects; tolerant " +
      "kinds still absorb their own re-create") {
    val logDir = s"${tmpDir("strict")}/commits"
    // winner's begin is already on disk; the loser's strict create —
    // the state a second writer reaches after reading a log that did
    // not yet show it — must throw, not proceed to writes
    IngestCommit.appendLog(spark, logDir, 7L, "begin")
    val ex = intercept[IllegalStateException] {
      IngestCommit.appendLog(spark, logDir, 7L, "begin", strict = true)
    }
    assert(ex.getMessage.contains("concurrent ingest writer"))
    // non-strict re-create (commit redelivery, replayed begin): no-op
    IngestCommit.appendLog(spark, logDir, 7L, "commit")
    IngestCommit.appendLog(spark, logDir, 7L, "commit")
    assert(IngestCommit.committedHwm(spark, logDir).contains(7L))
  }

  test("compactIngestLog folds a corpus-only log to one marker; hwm, " +
      "skip, and regression semantics intact") {
    val corpus = tmpDir("logfold")
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      assert(IngestCommit.exactDedupIngestBatch(b, i.toLong, corpus))
    }
    val logDir = s"$corpus/_commits"
    IngestCommit.compactIngestLog(spark, logDir)
    val names = new java.io.File(logDir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSeq
    assert(names == Seq("commit-2"), s"log after fold: $names")
    assert(IngestCommit.committedHwm(spark, logDir).contains(2L))
    assert(!IngestCommit.exactDedupIngestBatch(bs(2), 2L, corpus))
    assert(intercept[IllegalArgumentException] {
      IngestCommit.exactDedupIngestBatch(bs(0), 0L, corpus)
    }.getMessage.contains("regressed"))
  }

  test("lshIndexOrphans reads the COMMITTED view: a crashed in-flight " +
      "batch's stamped rows are a replay's job, not orphans") {
    val root = tmpDir("orphans")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    val bs = batches
    assert(IngestCommit.nearDupIngestBatch(bs(0), 0L, index, corpus,
      threshold = 0.99))
    intercept[RuntimeException] {
      IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
        threshold = 0.99,
        failpoint = p => if (p == "after-index") sys.error("kill"))
    }
    // the crashed batch's rows are on disk (bands + sigs, stamped 1)
    // but uncommitted — reconciliation must NOT report them
    assert(TextDedupOps.lshIndexOrphans(spark, index) == ((0L, 0L, 0L)))
    assert(IngestCommit.nearDupIngestBatch(bs(1), 1L, index, corpus,
      threshold = 0.99))
    assert(TextDedupOps.lshIndexOrphans(spark, index) == ((0L, 0L, 0L)))
  }

  test("ivfpq: compaction interleaved BETWEEN live ingest batches — " +
      "post-compaction ingest appends, recovers, and serves") {
    val root = tmpDir("ivfpq-interleave")
    val seed = vecs.filter(col("vec_id") < 30)
    val b0 = vecs.filter(col("vec_id").between(30, 44))
    val b1 = vecs.filter(col("vec_id") >= 45)
    val cents = SimilarityOps.trainIvfCentroids(seed, "vec_id",
      "embedding", 4)
    val cbs = SimilarityOps.trainPqCodebooksResidual(seed, "vec_id",
      "embedding", cents, m = 4, ksub = 4, iters = 1)
    val idx = s"$root/index"; val corp = s"$root/corpus"
    SimilarityOps.writeIvfPqIndex(seed, idx, cents, cbs)
    val queries = vecs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def serve(): Seq[(Long, Long, Int)] =
      SimilarityOps.ivfPqTopKIndexed(queries, idx, vecs, 3,
        nprobe = cents.length, rerankFactor = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    assert(IngestCommit.ivfPqIngestBatch(b0, 0L, idx, corp))
    SimilarityOps.compactIvfPqIndex(spark, idx) // between batches
    val afterCompact = serve()
    // post-compaction ingest with a mid-append kill + recovery: the
    // recover path's stamped-row subtraction must work against a
    // store whose base files were just rewritten stamp-free
    intercept[RuntimeException] {
      IngestCommit.ivfPqIngestBatch(b1, 1L, idx, corp,
        failpoint = p => if (p == "after-index") sys.error("kill"))
    }
    assert(serve() == afterCompact) // uncommitted append never serves
    assert(IngestCommit.ivfPqIngestBatch(b1, 1L, idx, corp))
    val ids = spark.read.parquet(s"$idx/cells").select("vec_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == (0L until 60L), s"cells ids: $ids")
    // and maintenance still folds cleanly afterward
    val before = serve()
    SimilarityOps.compactIvfPqIndex(spark, idx)
    assert(serve() == before)
  }

  test("ivfpq ingest dedupIds: a vec_id already committed is dropped " +
      "from a later batch; replay of the deduped batch converges") {
    val root = tmpDir("ivfpq-dedup")
    val seed = vecs.filter(col("vec_id") < 30)
    val b0 = vecs.filter(col("vec_id").between(30, 44))
    // overlap: ids 40..44 ride again in batch 1 with the SAME vectors
    val b1 = vecs.filter(col("vec_id") >= 40)
    val cents = SimilarityOps.trainIvfCentroids(seed, "vec_id",
      "embedding", 4)
    val cbs = SimilarityOps.trainPqCodebooksResidual(seed, "vec_id",
      "embedding", cents, m = 4, ksub = 4, iters = 1)
    val idx = s"$root/index"
    SimilarityOps.writeIvfPqIndex(seed, idx, cents, cbs)
    assert(IngestCommit.ivfPqIngestBatch(b0, 0L, idx, s"$root/corpus",
      dedupIds = true))
    // kill the overlapping batch mid-append, then replay — the dedup
    // must be deterministic across the replay (committed view frozen
    // at the hwm) so the recovery subtraction still converges
    intercept[RuntimeException] {
      IngestCommit.ivfPqIngestBatch(b1, 1L, idx, s"$root/corpus",
        dedupIds = true,
        failpoint = p => if (p == "after-index") sys.error("kill"))
    }
    assert(IngestCommit.ivfPqIngestBatch(b1, 1L, idx, s"$root/corpus",
      dedupIds = true))
    val ids = spark.read.parquet(s"$idx/cells").select("vec_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == (0L until 60L), s"cells ids: $ids")
  }

  test("streaming restart from checkpoint: a foreachBatch crash " +
      "mid-ingest replays to the one-shot oracle") {
    val root = tmpDir("near-stream")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    val staged = s"$root/in"; val ckpt = s"$root/ckpt"
    initIndex(index)
    val all = batches.reduce(_ unionByName _)
    // 3 id-ordered files → 3 deterministic micro-batches at
    // maxFilesPerTrigger=1 (mtimes pin the replay order)
    all.repartitionByRange(3, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(staged)
    new java.io.File(staged).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified((i + 1) * 60000L) }
    val schema = spark.read.parquet(staged).schema
    @volatile var killed = false
    def run(kill: Boolean): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          IngestCommit.nearDupIngestBatch(batch, bid, index, corpus,
            threshold = 0.99,
            failpoint = p => if (kill && !killed && bid == 1L &&
              p == "after-corpus") { killed = true; sys.error("kill") })
          // maintenance UNDER the live stream (r18 verdict #7): the
          // lease serializes it against the NEXT batch's append, and
          // batch 0 is committed by the time its foreachBatch call
          // returns, so compaction between triggers is legal — the
          // final oracle diff proves it stayed invisible
          if (bid == 0L) TextDedupOps.compactLshIndex(spark, index)
          ()
        }.queryName(s"graft_ingest_restart_$kill").start()
      try q.processAllAvailable()
      catch { case _: Exception => () }
      finally q.stop()
      if (kill) assert(killed, "failpoint never fired")
    }
    run(kill = true)   // dies inside batch 1, offsets already logged
    run(kill = false)  // restart from the same checkpoint replays it
    val oneShot = {
      val staged0 = spark.read.parquet(staged)
      TextDedupOps.lshIncremental(staged0,
        TextDedupOps.minHashSignatures(staged0.limit(0), "doc_id",
          "text", 3, 32),
        "doc_id", "text", threshold = 0.99)
    }
    assertFrameEqual(
      IngestCommit.committedCorpus(spark, corpus, s"$index/commits"),
      oneShot)
    assertIndexConsistent(index, corpus)
  }

  test("corpus takedown: deletes leave the committed view immediately, " +
      "a copy of a deleted text re-admits, and vacuum folds ONLY the " +
      "affected partitions") {
    val corpus = tmpDir("takedown")
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(0L until 20L), 0L, corpus))
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(20L until 40L), 1L, corpus))
    IngestCommit.deleteFromCorpus(
      spark.range(5).select(col("id").as("doc_id")), corpus)
    def view(): Set[Long] = IngestCommit.committedCorpus(spark, corpus,
      s"$corpus/_commits").select("doc_id").as[Long].collect().toSet
    assert(view() == (5L until 40L).toSet)
    // a copy of deleted doc 0's text re-admits (takedown surrenders
    // the content claim); a copy of live doc 20's text still dies
    val b2 = triDocs(Seq(0L)).select(lit(100L).as("doc_id"), col("text"))
      .unionByName(
        triDocs(Seq(20L)).select(lit(101L).as("doc_id"), col("text")))
    assert(IngestCommit.exactDedupIngestBatch(b2, 2L, corpus))
    val viaTombstones = view()
    assert(viaTombstones == (5L until 40L).toSet + 100L)
    def partFiles(n: Long): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$corpus/ingest_id=$n")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).map(f => f.getPath.getName + ":" +
          f.getModificationTime).toSet
    }
    val untouched = partFiles(1L)
    IngestCommit.vacuumCorpus(spark, corpus)
    // logical view identical across the fold; tombstones gone; the
    // PHYSICAL partition 0 lost exactly the taken-down rows; the
    // unaffected partitions were never rewritten (file-for-file)
    assert(view() == viaTombstones)
    assert(partFiles(1L) == untouched,
      "vacuum rewrote a partition with no tombstoned rows")
    assert(!new org.apache.hadoop.fs.Path(s"$corpus/_tombstones")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$corpus/_tombstones")))
    assert(spark.read.parquet(s"$corpus/ingest_id=0")
      .select("doc_id").as[Long].collect().toSet == (5L until 20L).toSet)
  }

  test("corpus vacuum: crashes mid-fold (between partitions, before " +
      "the tombstone clear) re-run to completion; the logical view " +
      "never changes; the lease excludes ingest for the whole rewrite") {
    val corpus = tmpDir("takedown-kill")
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(0L until 20L), 0L, corpus))
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(20L until 40L), 1L, corpus))
    // tombstones span BOTH partitions so the partial-fold state is
    // reachable: one partition folded, one not, tombstones still live
    IngestCommit.deleteFromCorpus(
      Seq(0L, 20L).toDF("doc_id"), corpus)
    def view(): Set[Long] = IngestCommit.committedCorpus(spark, corpus,
      s"$corpus/_commits").select("doc_id").as[Long].collect().toSet
    val expect = (1L until 40L).toSet - 20L
    assert(view() == expect)
    intercept[RuntimeException] {
      IngestCommit.vacuumCorpus(spark, corpus,
        failpoint = p => if (p == "after-partition") sys.error("kill"))
    }
    // partial fold: partition 0 rewritten, partition 1 not, tombstones
    // still present — the anti-join stays correct over both states
    assert(view() == expect)
    intercept[RuntimeException] {
      IngestCommit.vacuumCorpus(spark, corpus,
        failpoint = p =>
          if (p == "before-tombstone-clear") sys.error("kill"))
    }
    assert(view() == expect)
    // the lease (written before any rewrite) excludes ingest entries
    // for the whole maintenance window — intent-first on both sides
    var rejected = false
    IngestCommit.vacuumCorpus(spark, corpus, failpoint = p =>
      if (p == "before-tombstone-clear") {
        val e = intercept[IllegalArgumentException] {
          IngestCommit.exactDedupIngestBatch(
            triDocs(Seq(50L)), 2L, corpus)
        }
        assert(e.getMessage.contains("maintenance lease"))
        rejected = true
      })
    assert(rejected)
    assert(view() == expect)
    assert(!new org.apache.hadoop.fs.Path(s"$corpus/_tombstones")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$corpus/_tombstones")))
    // and the released lease admits the next batch
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(Seq(50L)), 2L, corpus))
  }

  test("corpus vacuum: a delete landing mid-maintenance (after the " +
      "tombstone read, before the clear) stays pending and excluded, " +
      "and the next vacuum folds it") {
    val corpus = tmpDir("takedown-race")
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(0L until 20L), 0L, corpus))
    IngestCommit.deleteFromCorpus(Seq(0L).toDF("doc_id"), corpus)
    def view(): Set[Long] = IngestCommit.committedCorpus(spark, corpus,
      s"$corpus/_commits").select("doc_id").as[Long].collect().toSet
    def stored(): Set[Long] = spark.read.parquet(s"$corpus/ingest_id=0")
      .select("doc_id").as[Long].collect().toSet
    val tombDir = new org.apache.hadoop.fs.Path(s"$corpus/_tombstones")
    val fs = tombDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IngestCommit.vacuumCorpus(spark, corpus, failpoint = p =>
      if (p == "before-tombstone-clear")
        IngestCommit.deleteFromCorpus(Seq(5L).toDF("doc_id"), corpus))
    assert(view() == (1L until 20L).toSet - 5L)
    assert(stored() == (1L until 20L).toSet) // 5 is pending, not folded
    IngestCommit.vacuumCorpus(spark, corpus)
    assert(view() == (1L until 20L).toSet - 5L)
    assert(stored() == (1L until 20L).toSet - 5L)
    assert(!fs.exists(tombDir))
    // a marker-only tombstone directory (a clear cut short between its
    // files and its markers) means nothing pending
    fs.mkdirs(tombDir)
    fs.create(new org.apache.hadoop.fs.Path(tombDir, "_SUCCESS")).close()
    assert(view() == (1L until 20L).toSet - 5L)
    IngestCommit.vacuumCorpus(spark, corpus)
    assert(stored() == (1L until 20L).toSet - 5L)
  }

  test("corpus takedown composes with the index delete: the near-dup " +
      "shadow outlives the takedown until deleteFromLshIndex " +
      "reconciles it, and both vacuums fold cleanly") {
    val root = tmpDir("takedown-compose")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    assert(IngestCommit.nearDupIngestBatch(
      triDocs(0L until 20L), 0L, index, corpus, threshold = 0.99))
    // takedown docs 0..2: they leave the committed CORPUS view at
    // once, but their near-dup shadow (the index rows) deliberately
    // stays — export and matching are different lifecycles
    IngestCommit.deleteFromCorpus(
      spark.range(3).select(col("id").as("doc_id")), corpus)
    def corpusIds(): Set[Long] = IngestCommit.committedCorpus(spark,
      corpus, s"$index/commits").select("doc_id").as[Long]
      .collect().toSet
    assert(corpusIds() == (3L until 20L).toSet)
    // a clone of taken-down doc 0's text still DIES: the shadow matches
    val clone0 = triDocs(Seq(0L))
      .select(lit(100L).as("doc_id"), col("text"))
    assert(IngestCommit.nearDupIngestBatch(clone0, 1L, index, corpus,
      threshold = 0.99))
    assert(corpusIds() == (3L until 20L).toSet)
    // the index delete reconciles: the next clone is admitted
    TextDedupOps.deleteFromLshIndex(
      spark.range(3).select(col("id").as("doc_id")), index)
    val clone0b = triDocs(Seq(0L))
      .select(lit(101L).as("doc_id"), col("text"))
    assert(IngestCommit.nearDupIngestBatch(clone0b, 2L, index, corpus,
      threshold = 0.99))
    assert(corpusIds() == (3L until 20L).toSet + 101L)
    // both folds run under their leases on the SAME pipeline log and
    // leave the logical views unchanged
    TextDedupOps.vacuumLshIndex(spark, index)
    IngestCommit.vacuumCorpus(spark, corpus, s"$index/commits")
    assert(corpusIds() == (3L until 20L).toSet + 101L)
    val clone0c = triDocs(Seq(0L))
      .select(lit(102L).as("doc_id"), col("text"))
    assert(IngestCommit.nearDupIngestBatch(clone0c, 3L, index, corpus,
      threshold = 0.99))
    // 102 dies against 101 (the post-reconciliation owner of the text)
    assert(corpusIds() == (3L until 20L).toSet + 101L)
  }

  test("index delete landing between a crash and its replay: " +
      "survivorship grows monotonically (a delete only removes " +
      "matches), so the recovery subtraction stays sound") {
    val root = tmpDir("replay-delete")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    assert(IngestCommit.nearDupIngestBatch(
      triDocs(0L until 20L), 0L, index, corpus, threshold = 0.99))
    // batch 1: clones of committed docs 0..4 (die at attempt time)
    // plus fresh docs 30..34 (survive) — killed AFTER the index
    // append, so the fresh docs' stamped rows are already on disk
    val b1 = triDocs(0L until 5L)
      .select((col("doc_id") + 100).as("doc_id"), col("text"))
      .unionByName(triDocs(30L until 35L))
    intercept[RuntimeException] {
      IngestCommit.nearDupIngestBatch(b1, 1L, index, corpus,
        threshold = 0.99,
        failpoint = p => if (p == "after-index") sys.error("kill"))
    }
    // the twins are deleted BETWEEN the crash and the replay — the
    // committed view SHRINKS, so the replay's survivor set is a
    // superset of the attempt's ({30..34} ⊂ {30..34, 100..104}) and
    // the exceptAll subtraction never strands a stale stamped row
    TextDedupOps.deleteFromLshIndex(
      spark.range(5).select(col("id").as("doc_id")), index)
    assert(IngestCommit.nearDupIngestBatch(b1, 1L, index, corpus,
      threshold = 0.99))
    val ids = IngestCommit.committedCorpus(spark, corpus,
      s"$index/commits").select("doc_id").as[Long].collect().toSet
    assert(ids == (0L until 20L).toSet ++ (30L until 35L) ++
      (100L until 105L))
    // exact band/sig cardinality per id — a wrong subtraction would
    // leave the fresh docs double-banded (the bucket-cap hazard)
    assertIndexConsistent(index, corpus)
    // and the admitted clones now OWN their texts: a later copy dies
    val b2 = triDocs(Seq(0L))
      .select(lit(200L).as("doc_id"), col("text"))
    assert(IngestCommit.nearDupIngestBatch(b2, 2L, index, corpus,
      threshold = 0.99))
    assert(IngestCommit.committedCorpus(spark, corpus,
      s"$index/commits").select("doc_id").as[Long].collect().toSet
      == ids)
  }

  test("corpus as-of snapshot: prunes to the pinned batch, rejects " +
      "an id above the hwm, never resurrects a takedown, and an " +
      "UNCOMMITTED partition on disk stays invisible at any as-of") {
    val corpus = tmpDir("asof")
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(0L until 10L), 0L, corpus))
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(10L until 20L), 1L, corpus))
    def asOf(n: Long): Set[Long] =
      IngestCommit.committedCorpusAsOf(spark, corpus,
        s"$corpus/_commits", n).select("doc_id").as[Long]
        .collect().toSet
    assert(asOf(0L) == (0L until 10L).toSet)
    assert(asOf(1L) == (0L until 20L).toSet)
    val e = intercept[IllegalArgumentException] { asOf(2L) }
    assert(e.getMessage.contains("high-water-mark"))
    // a crashed batch 2 leaves its partition on disk, uncommitted —
    // the partial partition never serves at any legal as-of
    intercept[RuntimeException] {
      IngestCommit.exactDedupIngestBatch(triDocs(20L until 30L), 2L,
        corpus, failpoint = p =>
          if (p == "after-corpus") sys.error("kill"))
    }
    assert(asOf(1L) == (0L until 20L).toSet)
    // takedowns apply to every snapshot — compliance deletes are not
    // time-travelable
    IngestCommit.deleteFromCorpus(
      spark.range(3).select(col("id").as("doc_id")), corpus)
    assert(asOf(0L) == (3L until 10L).toSet)
    assert(asOf(1L) == (3L until 20L).toSet)
    // and the physical fold preserves batch boundaries
    IngestCommit.vacuumCorpus(spark, corpus)
    assert(asOf(0L) == (3L until 10L).toSet)
    assert(asOf(1L) == (3L until 20L).toSet)
  }

  test("corpus vacuum: refuses over an in-flight ingest batch; a " +
      "mismatched tombstone id column rejects at read and at vacuum") {
    // in-flight guard — the near-dup pipeline leaves a begin marker
    val root = tmpDir("takedown-guards")
    val (index, corpus) = (s"$root/index", s"$root/corpus")
    initIndex(index)
    assert(IngestCommit.nearDupIngestBatch(
      triDocs(0L until 20L), 0L, index, corpus, threshold = 0.99))
    intercept[RuntimeException] {
      IngestCommit.nearDupIngestBatch(triDocs(20L until 40L), 1L,
        index, corpus, threshold = 0.99,
        failpoint = p => if (p == "after-corpus") sys.error("kill"))
    }
    IngestCommit.deleteFromCorpus(
      spark.range(3).select(col("id").as("doc_id")), corpus)
    val e = intercept[IllegalArgumentException] {
      IngestCommit.vacuumCorpus(spark, corpus, s"$index/commits")
    }
    assert(e.getMessage.contains("in-flight"))
    assert(IngestCommit.nearDupIngestBatch(triDocs(20L until 40L), 1L,
      index, corpus, threshold = 0.99)) // replay clears it
    IngestCommit.vacuumCorpus(spark, corpus, s"$index/commits")
    assert(IngestCommit.committedCorpus(spark, corpus,
      s"$index/commits").select("doc_id").as[Long].collect().toSet ==
      (3L until 40L).toSet)
    // id-column mismatch: self-describing tombstones must match the
    // corpus schema, loudly, on BOTH the read and the vacuum path
    val corpus2 = tmpDir("takedown-mismatch")
    assert(IngestCommit.exactDedupIngestBatch(
      triDocs(0L until 5L), 0L, corpus2))
    IngestCommit.deleteFromCorpus(
      spark.range(2).select(col("id").as("vec_id")), corpus2,
      idCol = "vec_id")
    val e2 = intercept[IllegalArgumentException] {
      IngestCommit.committedCorpus(spark, corpus2, s"$corpus2/_commits")
    }
    assert(e2.getMessage.contains("vec_id"))
    val e3 = intercept[IllegalArgumentException] {
      IngestCommit.vacuumCorpus(spark, corpus2)
    }
    assert(e3.getMessage.contains("vec_id"))
  }

  test("every store's maintenance refuses an in-flight batch and " +
      "releases its lease: one crashed batch per store, all six ops") {
    val root = tmpDir("inflight-all")
    val kill: String => Unit =
      p => if (p == "after-index") sys.error("kill")
    def nearDupCrashed(tag: String): (String, String) = {
      val (index, corpus) = (s"$root/$tag/index", s"$root/$tag/corpus")
      initIndex(index)
      assert(IngestCommit.nearDupIngestBatch(triDocs(0L until 10L), 0L,
        index, corpus, threshold = 0.99))
      intercept[RuntimeException] {
        IngestCommit.nearDupIngestBatch(triDocs(10L until 20L), 1L,
          index, corpus, threshold = 0.99, failpoint = kill)
      }
      (index, corpus)
    }
    val (lshIdx, _) = nearDupCrashed("lsh")
    val (pipeIdx, pipeCorpus) = nearDupCrashed("corpus")
    val hashes = s"$root/simhash/hashes"
    assert(IngestCommit.simHashIngestBatch(triDocs(0L until 10L), 0L,
      hashes, s"$root/simhash/corpus"))
    intercept[RuntimeException] {
      IngestCommit.simHashIngestBatch(triDocs(10L until 20L), 1L, hashes,
        s"$root/simhash/corpus", failpoint = kill)
    }
    val ivfIdx = s"$root/ivfpq/index"
    val seed = vecs.filter(col("vec_id") < 30)
    val cents = SimilarityOps.trainIvfCentroids(seed, "vec_id",
      "embedding", 4)
    SimilarityOps.writeIvfPqIndex(seed, ivfIdx, cents,
      SimilarityOps.trainPqCodebooksResidual(seed, "vec_id", "embedding",
        cents, m = 4, ksub = 4, iters = 1))
    intercept[RuntimeException] {
      IngestCommit.ivfPqIngestBatch(vecs.filter(col("vec_id") >= 30), 0L,
        ivfIdx, s"$root/ivfpq/corpus", failpoint = kill)
    }
    // (op, its store's commit log, the maintenance call)
    val ops: Seq[(String, String, () => Unit)] = Seq(
      ("vacuumLshIndex", s"$lshIdx/commits",
        () => TextDedupOps.vacuumLshIndex(spark, lshIdx)),
      ("compactLshIndex", s"$lshIdx/commits",
        () => TextDedupOps.compactLshIndex(spark, lshIdx)),
      ("compactSimHashStore", s"$hashes/_commits",
        () => TextDedupOps.compactSimHashStore(spark, hashes)),
      ("vacuumIvfPqIndex", s"$ivfIdx/commits",
        () => SimilarityOps.vacuumIvfPqIndex(spark, ivfIdx)),
      ("compactIvfPqIndex", s"$ivfIdx/commits",
        () => SimilarityOps.compactIvfPqIndex(spark, ivfIdx)),
      ("vacuumCorpus", s"$pipeIdx/commits",
        () => IngestCommit.vacuumCorpus(spark, pipeCorpus,
          s"$pipeIdx/commits")))
    ops.foreach { case (op, logDir, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("in-flight"), s"$op: ${e.getMessage}")
      assert(e.getMessage.contains(s"$op: "), e.getMessage)
      val leases = new java.io.File(logDir).listFiles().map(_.getName)
        .filter(_.startsWith("maint-"))
      assert(leases.isEmpty, s"$op left lease(s) ${leases.mkString(", ")}")
      assert(IngestCommit.logState(spark, logDir)._2 == Set(
        if (op.contains("IvfPq")) 0L else 1L), s"$op: log state changed")
    }
  }
}
