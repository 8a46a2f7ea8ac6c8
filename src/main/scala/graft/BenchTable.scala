package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The bench's workload table: the headline registry names, the stress
  * entries and the streaming witnesses, each a named definition of WHAT
  * runs. How an entry is timed (warm-up, reps, noisy-retry, host guard,
  * provider pairs, env block, JSON) lives in [[Bench]]; `ScaleWitness`
  * and `tools.PlanDump` reach the same entries by name.
  *
  * The stress shapes over documents take the documents frame they run
  * on, so `ScaleWitness` can time them over its scaled corpus. */
object BenchTable {
  /** BASELINE.md "BENCH query set": scan+agg, 3-way join top-k, asof,
    * resample, rolling, dedup, pivot — run only those that exist in the
    * registry so the bench degrades gracefully mid-build.
    *
    * classifier_train joined in r14 (r13-verdict task #7): the nine
    * legacy entries are TPC-H-shaped and frozen since r1 while the
    * engine's center of mass moved to the curation stack, so one
    * training-loop query (distributed gradient steps + scoring — the
    * north-star path) now rides the timed set. Round-over-round
    * totals therefore BREAK SERIES at r14; BENCH.md records the
    * split (legacy-9 subtotal stays comparable). */
  val headline: Seq[String] = Seq(
    "q1_agg",
    "q3_join_topk",
    "asof_backward_by",
    "resample_5min",
    "rolling_fixed_100",
    "dedup_keep_first",
    "pivot_table_orders",
    "minhash_near_dup",
    "cosine_topk",
    "classifier_train")

  /** Wall-clock witness for the LSH hot-bucket cap (r8 verdict task
    * #8): every 10th document is rewritten into one boilerplate
    * template cluster (shared chrome + unique tail — the site-chrome
    * skew shape), then capped candidate generation + connected
    * components run end-to-end. Uncapped, the boilerplate bucket
    * pair count is quadratic in cluster size (10% of the corpus);
    * the cap keeps the stage bucket-bounded, and this entry times
    * that path at bench scale every round. */
  private def lshStressCapped(documents: DataFrame): DataFrame = {
    import graft.llm.TextDedupOps
    val docs = documents.select("doc_id", "text")
    val boiler = "this page is protected by copyright terms of " +
      "service apply to all visitors please review the policy "
    val skewed = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(10)) === 0,
        concat(lit(boiler * 4), col("doc_id").cast("string")))
        .otherwise(col("text")))
    val sigs = TextDedupOps.minHashSignatures(skewed, "doc_id", "text",
      shingleN = 3, k = 32)
    val pairs = TextDedupOps.lshCandidatePairs(sigs, "doc_id",
      bands = 8, threshold = 0.8, maxBucketSize = 64)
    TextDedupOps.connectedComponents(pairs, "id_a", "id_b",
      checkpointEvery = 4)
  }

  /** Wall-clock witness for the skew-safe paragraph dedup (r11 verdict
    * task #1): every 10th document is rewritten to one SHARED
    * boilerplate paragraph plus a unique tail paragraph, so a single
    * paragraph text recurs in 10% of the corpus — the hot-key shape
    * that made the r11 window plan ship every copy to one unsplittable
    * task. The r12 groupBy(min(struct)) plan partial-aggregates the
    * hot key map-side; this entry times exactly that path. */
  private def paraDedupStressHot(documents: DataFrame): DataFrame = {
    val docs = documents.select("doc_id", "text")
    val boiler = "subscribe to our newsletter for updates about new " +
      "articles terms of use and privacy policy apply to all visitors"
    val skewed = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(10)) === 0,
        concat(lit(boiler), lit("\n\n"), col("doc_id").cast("string")))
        .otherwise(col("text")))
    graft.llm.TextDedupOps.paragraphDedup(skewed, "doc_id", "text")
  }

  /** Hot-bigram stress for the LM scoring tier: every 3rd document
    * gets "of the" stitched between all its words, so one bigram key
    * carries a large share of the probe stream — the boilerplate-
    * n-gram shape a web corpus always has. The count side is
    * pre-aggregated (one row per bigram) and the probe-side hot key
    * is join skew AQE can split, so this must stay linear; a plan
    * regression to a window or an unaggregated build side shows up
    * as wall-clock here. */
  private def lmStressHotBigram(documents: DataFrame): DataFrame = {
    val docs = documents.select("doc_id", "text")
    val skewed = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(3)) === 0,
        regexp_replace(col("text"), " ", " of the "))
        .otherwise(col("text")))
    val ref = skewed.filter(pmod(col("doc_id"), lit(7)) === 0)
    graft.llm.LmOps.lmOverlapScore(skewed, ref, "doc_id", "text")
  }

  /** Wall-clock witness for the combined curation pipeline (r11
    * verdict task #6 — the r11 flagship had no standing bench entry):
    * Gopher quality gate (row-local) → Gopher repetition gate (the
    * most expensive filter, composed by id semi-join the way a real
    * pipeline chains frame-level filters) → cross-document paragraph
    * dedup with reassembly. Filters-then-dedup is the canonical
    * curation order; everything before the dedup's two shuffles runs
    * at scan throughput. */
  private def curationStress(documents: DataFrame): DataFrame = {
    import graft.llm.{TextDedupOps, TextStatsOps}
    val docs = documents.select("doc_id", "text")
    val quality = docs.filter(TextStatsOps.gopherKeep(col("text")))
    // gopherRepetitionKept: the row-local kernel filter, keeping every
    // input column (this entry once caught a pushed-down filter
    // re-expanding per-element expression trees at >800 s CPU per
    // sf0.001 partition)
    val kept = TextStatsOps.gopherRepetitionKept(quality, "doc_id", "text")
    TextDedupOps.paragraphDedup(kept, "doc_id", "text")
  }

  /** Multimodal kernel throughput witness: per document, ENCODE and
    * DECODE a real PNG (two ImageIO passes), a real WAV (AudioSystem
    * both ways + exact sample stats), and an MP4 with a sample table
    * (builder + box-tree walk + mdat frame slicing) — the whole
    * decode tier the curation pipeline runs on binary columns, timed
    * end to end. All mapPartitions, zero shuffle; wall-clock here is
    * pure kernel + codec throughput. */
  private def multimodalStress(documents: DataFrame): DataFrame = {
    import graft.llm.MultimodalOps
    val spark = documents.sparkSession
    import spark.implicits._
    val assets = documents.select(col("doc_id"))
      .as[Long].mapPartitions(_.map { id =>
        val png = MultimodalOps.syntheticPng(
          16 + (id % 16).toInt, 16 + (id % 8).toInt, seed = id)
        val wav = MultimodalOps.syntheticWav(
          800 + (id % 200).toInt, 8000, seed = id)
        val n = 4 + (id % 3).toInt
        val mp4 = MultimodalOps.syntheticMp4("isom", 1000, n.toLong,
          Seq(("vide", 64, 48)), videoSamples =
            (0 until n).map(i => Array.tabulate(64)(j =>
              ((id + i * 7 + j) % 256).toByte)))
        (id, png, wav, mp4)
      }).toDF("asset_id", "png", "wav", "mp4")
    val img = MultimodalOps.decodeImageMeta(assets, payloadCol = "png")
      .toDF().select(col("asset_id"), col("width"), col("height"))
    val aud = MultimodalOps.decodeAudioMeta(assets, payloadCol = "wav")
      .toDF().select(col("asset_id"), col("n_frames"), col("sum_sq"))
    val vid = MultimodalOps.sampleVideoFrames(assets, everyNth = 2,
        payloadCol = "mp4")
      .groupBy("asset_id")
      .agg(count(lit(1)).as("n_sampled"),
        sum(octet_length(col("frame"))).as("frame_bytes"))
    img.join(aud, "asset_id").join(vid, "asset_id")
  }

  /** BPE TRAINING wall-clock witness (r13): learn 12 merges from the
    * real documents text. The training state is the unique-word
    * frame (one map-side-combined collapse of the corpus), then 12
    * rounds of pair-count aggregation + 1-row collect — the
    * iterative-driver-loop shape whose cost is rounds × one job, NOT
    * rounds × corpus scans; wall-clock here pins that the loop
    * doesn't regress to rescanning or deep-lineage replans. The
    * result feeds the same encoder the bpe gates pin, so only the
    * loop's cost needs witnessing. */
  private def bpeTrainStress(documents: DataFrame): DataFrame = {
    import graft.llm.TextStatsOps
    val docs = documents.select("doc_id", "text")
    val trained = TextStatsOps.bpeTrainMerges(docs, "text", numMerges = 12)
    // encode a 1-row frame with the trained table so the timed unit
    // ends in a materializable plan (the training cost dominates)
    docs.limit(1).select(col("doc_id"),
      TextStatsOps.bpeTokenCount(col("text"), trained).as("n"))
  }

  /** PRODUCTION-VOCAB BPE training wall-clock (r17 verdict task
    * #5): 8 000 merges via bpeTrainMergesLocal with maxTrainRows
    * bounding the histogram slice — the measured number behind the
    * bounded-storage training claim. Cost model under witness: ONE
    * distributed word-histogram aggregation (the only corpus-sized
    * step) + a bounded collect + the in-memory incremental merge
    * loop (pair→words index + lazy-revalidated heap); a regression
    * that reintroduces per-round Spark jobs or super-linear
    * round cost shows up here directly.
    *
    * The natural documents text EXHAUSTS at ~89 merges (its
    * synthetic vocabulary is a small word pool — every word
    * collapses to one symbol), so the corpus here is
    * [[hexCorpus]]. The histogram is bounded at 200k word types
    * (count desc, word asc — the deterministic truncation). n_merges
    * lands in the result so an early exhaustion can never masquerade
    * as a fast run. */
  private def bpeTrain8kStress(documents: DataFrame): DataFrame = {
    val docs = hexCorpus(documents)
    val trained = graft.llm.TextStatsOps.bpeTrainMergesLocal(docs, "text",
      numMerges = 8000, maxTrainRows = 200000,
      maxTrainWords = 200000)
    docs.limit(1).select(col("doc_id"),
      lit(trained.size).as("n_merges"))
  }

  /** 32k-VOCAB unigram training wall-clock (same task): the
    * SentencePiece-shape hard-EM at a production vocabulary —
    * seed table ≤ 4·32 768 candidate pieces, TWO distributed
    * Viterbi E-step passes over the unique words (the kernel tier),
    * driver-side M-steps, maxTrainRows bounding. Pins that rounds
    * stay rounds × one job at real vocab size. Runs on [[hexCorpus]]
    * like bpe_train_stress_8k — the natural text's candidate space
    * caps out at ~54 pieces. */
  private def unigramTrain32kStress(documents: DataFrame): DataFrame = {
    val docs = hexCorpus(documents)
    val vocab = graft.llm.TextStatsOps.trainUnigramLm(docs, "text",
      vocabSize = 32768, rounds = 2, maxTokenLen = 8, minCount = 2,
      maxTrainRows = 200000)
    docs.limit(1).select(col("doc_id"), lit(vocab.size).as("n_pieces"))
  }

  /** High-entropy training corpus: 25 sixteen-hex-char words per
    * document (xxhash64-derived, deterministic), giving a rich
    * shared-substring space that genuinely sustains 8 000 merges. */
  private def hexCorpus(documents: DataFrame): DataFrame =
    documents.select("doc_id")
      .withColumn("text", array_join(transform(
        sequence(lit(0), lit(24)),
        j => lower(hex(xxhash64(col("doc_id") * 31 + j * 7)))), " "))

  /** Production-table token-counting throughput (r14 verdict task
    * #1's witness): rank-table BPE count over this SF's documents
    * with a 33 024-entry merge table (24 demo rules + 33 000
    * synthetic pads — bpePadMerges) riding a broadcast HashMap.
    * This is the single most common daily operation of a
    * training-data pipeline — budget accounting with the REAL
    * tokenizer table — and the cost model under witness is pure
    * scan throughput: zero shuffle, O(1) hash lookups per adjacent
    * pair, table shipped once per executor (never in task binaries
    * or plan literals — the plan stays O(1) in table size). */
  private def bpeRankCountStress(documents: DataFrame): DataFrame = {
    import graft.llm.TextStatsOps
    val merges = TextStatsOps.BpeDemoMerges ++
      TextStatsOps.bpePadMerges(33000)
    TextStatsOps.bpeTokenCountRanked(documents, "doc_id", "text", merges)
      .agg(sum(col("n_bpe")).as("total_bpe"),
        count(lit(1)).as("n_docs"))
  }

  /** Unigram token-counting throughput at a production vocabulary
    * size: the broadcast-HashMap Viterbi kernel over this SF's
    * documents with a 32 794-entry vocabulary (26 chars + 32 768
    * procedural 4-char pieces — the TRAINED path is gated in
    * unigram_train_32k; this times the steady-state daily count).
    * Zero shuffle, O(len·maxTokenLen) hash lookups per word. */
  private def unigramCountStress(documents: DataFrame): DataFrame = {
    val vocab = (('a' to 'z').map(c => c.toString -> -3000000L) ++
      (0 until 32768).map { i =>
        val w = new String(Array(
          ('a' + i / 17576 % 26).toChar, ('a' + i / 676 % 26).toChar,
          ('a' + i / 26 % 26).toChar, ('a' + i % 26).toChar))
        w -> -14000000L
      }).toMap
    graft.llm.TextStatsOps.unigramEncodeDocsKernel(
        documents, "doc_id", "text", vocab,
        unkCharMicro = -20000000L, maxTokenLen = 4)
      .agg(sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_unk_chars")).as("total_unk"))
  }

  /** Classifier-training wall-clock (late r13): two full-batch
    * hard-sigmoid GD steps over this SF's documents at 64 buckets —
    * per step a zero-shuffle logit pass and ONE map-side-combined
    * bucket-gradient aggregation; the timed unit ends scoring the
    * corpus with the trained weights. Iterative-driver-loop shape
    * like bpe_train_stress: cost must stay steps × one job. */
  private def classifierTrainStress(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"),
      col("text"), (col("lang") === "en").cast("int").as("y"))
    // r19: scored off the materialized feature frame — same integer
    // logits, one tokenize+md5 pass instead of three (the timed unit
    // still spans training AND corpus scoring end to end)
    graft.llm.ClassifierOps.trainHardLogisticScored(docs, "text", "y",
      "doc_id", buckets = 64, iters = 2, lrDen = 100L)
  }
}

/** The table over one session and SF directory: the stress entries,
  * their one-time fixtures, the codepath warm-up, the ANN recall block
  * and the optional scale probe. */
final class BenchTable(spark: SparkSession, sfDir: String) {
  import BenchTable._

  /** The 15 stress entries in report order. The shapes over documents
    * read `docs()`, built inside each timed run; the rest read this
    * SF's other tables. Not registry queries (their outputs are
    * xxhash64-dependent, which would reintroduce a no-oracle row in
    * the correctness gate) and not part of `total` (they time an
    * iterative pipeline, not a single plan — folding them in would
    * break round-over-round total comparability). */
  def stress(docs: () => DataFrame = () => Tables.documents(spark, sfDir))
      : Seq[(String, () => DataFrame)] = Seq(
    "lsh_stress_capped" -> (() => lshStressCapped(docs())),
    "asof_stress_hot_key" -> (() => asofStressHotKey()),
    "para_dedup_stress_hot" -> (() => paraDedupStressHot(docs())),
    "curation_stress" -> (() => curationStress(docs())),
    "lm_stress_hot_bigram" -> (() => lmStressHotBigram(docs())),
    "multimodal_stress" -> (() => multimodalStress(docs())),
    "bpe_train_stress" -> (() => bpeTrainStress(docs())),
    "bpe_train_stress_8k" -> (() => bpeTrain8kStress(docs())),
    "unigram_train_stress_32k" -> (() => unigramTrain32kStress(docs())),
    "bpe_rank_count_stress" -> (() => bpeRankCountStress(docs())),
    "ivfpq_probe_stress" -> (() => ivfPqProbeStress()),
    "unigram_count_stress" -> (() => unigramCountStress(docs())),
    "wet_ingest_stress" -> (() => wetIngestStress()),
    "zorder_stress" -> (() => zorderStress()),
    "classifier_train_stress" -> (() => classifierTrainStress(docs())))

  /** Wall-clock witness for the custom AsofJoinExec under by-key skew
    * (r9 verdict task #8): half of ALL events collapse onto one hot
    * user_id before the two-pointer merge runs, so a single task owns
    * ~50% of both join sides — the worst realistic key distribution.
    * The exec is per-key linear (sort + one forward pass, no per-row
    * window re-scan), so the hot task should cost ~n log n in its
    * sort, not quadratic; this entry times exactly that every round. */
  private def asofStressHotKey(): DataFrame = {
    val ev = Tables.events(spark, sfDir).withColumn("user_id",
      when(pmod(col("event_id"), lit(2)) === 0, lit(0L))
        .otherwise(col("user_id")))
    val trades = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val quotes = graft.operators.SelectionOps.dropDuplicates(
      ev.filter(col("event_type") === "view"),
      Seq("user_id", "ts"), "last", Seq(col("event_id")))
      .select(col("user_id"), col("ts"), col("value").as("q_value"))
    graft.plans.AsofJoinPlan.asof(trades, quotes, "ts", Seq("user_id"),
      Seq("q_value"))
  }

  /** Z-order layout rewrite wall-clock (late r13): Morton-key the
    * events table on (user_id, event_id) and rewrite it across 8
    * files. Cost model under witness: one bounded min/max agg + a
    * scan-local interleave projection + ONE range exchange + the
    * write — the same bill as the plain sorted-layout rewrite, with
    * multi-column skipping bought for it. A regression that turns
    * the interleave into a non-codegen path or adds a shuffle shows
    * up here directly. */
  private def zorderStress(): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "value")
    graft.sources.ZOrder.writeZOrdered(ev, Bench.tmpPath("zorder"),
      Seq("user_id", "event_id"), bits = 16, nFiles = 8)
  }

  /** WET-shard corpus, written ONCE (setup, untimed): the documents
    * table replicated 16× and fanned into 8 gzipped shards — the
    * Common Crawl drop shape at witness scale. */
  lazy val wetShards: (String, Long, Long) = {
    import graft.sources.WetIo
    val dir = java.nio.file.Files
      .createTempDirectory("graft-wet-bench").toString
    val reps = 16
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .select(concat(lit("http://bench/doc/"), col("doc_id"), lit("/"),
          col("rep")).as("target_uri"),
        col("text"),
        pmod(col("doc_id") * reps + col("rep"), lit(8)).as("shard"))
      .persist()
    (0 until 8).foreach { k =>
      WetIo.write(docs.filter(col("shard") === k)
        .select("target_uri", "text").orderBy("target_uri"),
        s"$dir/part-$k.wet.gz")
    }
    val st = docs.agg(count(lit(1)),
      sum(octet_length(col("text")))).collect()(0)
    docs.unpersist()
    // warm the parser/gzip codepath once (JIT + classloading + the
    // aggregate's codegen) so the timed reps measure ingest, not
    // first-touch compilation — the same role the headline warmup
    // loop plays for the registry queries
    WetIo.read(spark, dir)
      .agg(count(lit(1)), sum(col("content_length"))).collect()
    (dir, st.getLong(0), st.getLong(1))
  }

  /** WET ingest throughput witness (r13): parse the 8 gzipped shards
    * back per-file-parallel and aggregate — wall-clock is the record
    * parser + gzip + aggregation path a crawl ingest runs. The diff
    * (doc count AND total payload bytes vs the source corpus, exact)
    * runs inside the witness: a framing or Content-Length bug fails
    * loudly instead of reading quickly and wrongly. */
  private def wetIngestStress(): DataFrame = {
    val (dir, n, bytes) = wetShards
    val got = graft.sources.WetIo.read(spark, dir)
      .agg(count(lit(1)), sum(col("content_length"))).collect()(0)
    require(got.getLong(0) == n && got.getLong(1) == bytes,
      s"wet ingest diff: read (${got.getLong(0)}, ${got.getLong(1)}) " +
        s"vs source ($n, $bytes)")
    spark.range(1).toDF("ok")
  }

  /** One-time persisted IVF-PQ index fixture for the ANN serving
    * witness: trained + written ONCE outside the timed reps (the
    * wetShards discipline — quantizer training is index BUILD cost,
    * already scale-witnessed; the serving path is what needs a
    * wall-clock number). */
  lazy val ivfPqIndexDir: String = {
    import graft.llm.SimilarityOps
    val dir = Bench.tmpPath("ivfpq")
    val emb = Tables.embeddings(spark, sfDir)
    val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id",
      "embedding", 16)
    val cbs = SimilarityOps.trainPqCodebooksResidual(emb, "vec_id",
      "embedding", cents, m = 8, ksub = 64, iters = 1)
    SimilarityOps.writeIvfPqIndex(emb, dir, cents, cbs)
    dir
  }

  /** ANN SERVING witness: a 256-query batch probed against the
    * persisted IVF-PQ index at nprobe 8/16 — cell-partition-pruned
    * codes-only scans, ADC scoring, exact re-rank on floats joined
    * back by id. This is the query-side wall-clock of the lake
    * embedding store (the recall block measures quality; this
    * measures speed). */
  private def ivfPqProbeStress(): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 256)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    graft.llm.SimilarityOps.ivfPqTopKIndexed(queries, ivfPqIndexDir, emb,
      k = 10, nprobe = 8)
  }

  /** Warms the late-r13 entry codepaths outside the timer (zorder's
    * interleave/write path and the training loop's HOF codegen are
    * not exercised by the headline block; first-touch JIT alone is a
    * 3-4× rep split that would trip the noise detector). */
  def warmUp(): Unit = {
    graft.sources.ZOrder.writeZOrdered(
      Tables.events(spark, sfDir).limit(20000)
        .select("event_id", "ts", "user_id", "value"),
      Bench.tmpPath("zorder-warm"), Seq("user_id", "event_id"), bits = 16,
      nFiles = 2)
    graft.llm.ClassifierOps.trainHardLogistic(
      Tables.documents(spark, sfDir).limit(200).select(col("doc_id"),
        col("text"), (col("lang") === "en").cast("int").as("y")),
      "text", "y", buckets = 8, iters = 1, lrDen = 100L)
    // incremental near-dup loop (checkpoint + banded-join + CC
    // codegen) — its first witness rep otherwise pays first-touch
    // JIT that the second provider's rep never sees. Two chained
    // iterations at a REAL batch size: a toy batch plans every join
    // as a broadcast and leaves the witness's actual shuffle-join
    // codegen cold.
    import graft.llm.TextDedupOps
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 4 === 0)
    val b2 = docs.filter(col("doc_id") % 4 === 1)
    val idx0 = TextDedupOps.minHashSignatures(
      docs.limit(0), "doc_id", "text", 3, 32)
    val (s1, g1) = TextDedupOps.lshIncrementalWithSignatures(
      b1, idx0, "doc_id", "text", threshold = 0.99)
    s1.write.format("noop").mode("overwrite").save()
    val idx1 = g1.localCheckpoint(true)
    val (s2, g2) = TextDedupOps.lshIncrementalWithSignatures(
      b2, idx1, "doc_id", "text", threshold = 0.99)
    s2.write.format("noop").mode("overwrite").save()
    g2.write.format("noop").mode("overwrite").save()
  }

  /** The optional scaling probe's shapes (r20, r19 verdict task #7):
    * q1_agg, q3_join_topk and the classifier kernel with the FACT side
    * amplified k×. Every fact row is replicated k times through a
    * broadcast cross join with range(k), so k× rows flow through the
    * filters, join probes, aggregate update loops and the classifier
    * kernel — per-row work truly grows k-fold and is computed fresh
    * per run (no caching, no precomputation; the probe witnesses
    * COMPUTE parallelism — the parquet bytes are still read once). A
    * k-way UNION was measured first and rejected: its k-scan plan
    * costs seconds of single-threaded driver analysis, which swamped
    * the ratio at every k. */
  def scaleProbe(k: Int): Seq[(String, () => DataFrame)] = {
    import graft.queries.Q
    // sf0.1 fact tables are ONE parquet split, so an in-place
    // amplification would run in one task no matter the core
    // count: hash-repartition the slim BASE rows first
    // (deterministic key — guide §2.5), then replicate each row k×
    // locally via a broadcast cross join with range(k), so every
    // partition amplifies and aggregates its own k× share in
    // parallel. The partition count is EXPLICIT: the base rows are
    // a few MB, and AQE would otherwise coalesce the pre-
    // amplification exchange to one partition (64 MB advisory) —
    // re-serializing the whole probe, which is exactly what this
    // first implementation did at every core count.
    val probeParts = spark.sessionState.conf.numShufflePartitions
    def amp(df: DataFrame, key: String): DataFrame =
      df.repartition(probeParts, col(key)).crossJoin(broadcast(
        spark.range(k).select(col("id").as("__rep"))))
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q1k = () => {
      // q1_agg's exact shape over a k×-amplified lineitem scan
      val li = amp(Tables.lineitem(spark, sfDir), "l_orderkey")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(Q.dsum(col("l_quantity")).as("sum_qty"),
          Q.dsum(col("l_extendedprice")).as("sum_base_price"),
          Q.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }
    val q3k = () => {
      // q3_join_topk's exact shape, fact side amplified k×
      val cutoff = lit("1998-01-01").cast("timestamp")
      val cust = Tables.customer(spark, sfDir)
        .filter(col("c_mktsegment") === "BUILDING")
      val ords = Tables.orders(spark, sfDir)
        .filter(col("o_orderdate") < cutoff)
      val li = amp(Tables.lineitem(spark, sfDir), "l_orderkey")
        .filter(col("l_shipdate") > cutoff)
      val pc = Q.cents(col("l_extendedprice"))
      val dc = Q.cents(col("l_discount"))
      cust.join(ords, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg((sum((pc * (lit(100L) - dc)).cast(d38)) / lit(10000))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }
    val clsK = () => {
      // classifier feature kernel + GD over a k×-amplified corpus
      val docs = amp(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"),
          (col("lang") === "en").cast("int").as("__y")), "doc_id")
      graft.llm.ClassifierOps.trainHardLogisticScored(
        docs, "text", "__y", "doc_id", buckets = 16, iters = 2)
    }
    Seq(s"q1_agg_x$k" -> q1k, s"q3_join_topk_x$k" -> q3k,
      s"classifier_train_x$k" -> clsK)
  }

  /** Measured shortlist recall@10 of the approximate ANN tiers in
    * PRODUCTION configurations (r12 verdict task #5 — the oracle
    * gates run covering/exhaustive configs where recall = 1 by
    * construction, so nothing had measured the approximation): pq
    * (8×16 codebooks, rerankFactor 4), ivf (nprobe 4 of 16 cells),
    * int8 (rerankFactor 2), each vs bruteForceTopK over this SF's
    * embeddings with 32 query vectors. Recall = |approx ∩ exact| /
    * |exact| over (q_id, vec_id) pairs. NOTE these embeddings are
    * near-uniform synthetic — the hardest regime for coarse codes —
    * so these are conservative floors; the clustered-fixture recall
    * floor is asserted in PqSpec/IvfSpec. */
  def annRecall(): Seq[(String, Double)] = {
    import graft.llm.SimilarityOps
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 32)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val k = 10
    val exact = SimilarityOps.bruteForceTopK(queries, emb, k)
      .select("q_id", "vec_id").persist()
    val nExact = exact.count().toDouble
    def recallOf(approx: DataFrame): Double = {
      val hit = approx.select("q_id", "vec_id")
        .join(exact, Seq("q_id", "vec_id"), "left_semi").count()
      math.rint(hit / nExact * 10000) / 10000
    }
    val cbs = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2)
    val pq = recallOf(SimilarityOps.pqTopK(queries, emb, k, cbs,
      rerankFactor = 4))
    val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id",
      "embedding", 16)
    val ivf = recallOf(SimilarityOps.ivfTopK(queries, emb, k, cents,
      nprobe = 4))
    val int8 = recallOf(SimilarityOps.quantizedTopK(queries, emb, k,
      rerankFactor = 2))
    // r14 recall lift: these embeddings are ISOTROPIC (unit-norm,
    // mean pairwise cosine ≈ 0), so the 32-bit m=8×ksub=16 config
    // above is rate-distortion-bound near 0.43 — no encoding fixes
    // that (residual coding moved it < 0.03 in a driver-side study;
    // OPQ rotation is a no-op on isotropic data by symmetry). The
    // production answer is the code BUDGET: at 64 bits (m=8
    // ksub=256 — FAISS's standard 8-byte PQ8, still a 32× storage
    // cut vs float32) plain PQ clears 0.75 and residual IVF-PQ
    // (IVFADC) clears 0.8 at full probe / 0.7 at half probe. The
    // legacy keys stay for round-over-round comparability.
    val cbs256 = SimilarityOps.trainPqCodebooks(emb, "vec_id",
      "embedding", m = 8, ksub = 256, iters = 2)
    val pq256 = recallOf(SimilarityOps.pqTopK(queries, emb, k, cbs256,
      rerankFactor = 4))
    val rcbs = SimilarityOps.trainPqCodebooksResidual(emb, "vec_id",
      "embedding", cents, m = 8, ksub = 256, iters = 2)
    val ivfpq8 = recallOf(SimilarityOps.ivfPqTopK(queries, emb, k,
      cents, rcbs, nprobe = 8, rerankFactor = 4))
    val ivfpq16 = recallOf(SimilarityOps.ivfPqTopK(queries, emb, k,
      cents, rcbs, nprobe = 16, rerankFactor = 4))
    exact.unpersist(false)
    // CLUSTERED-corpus recall (r14 verdict task #5): the isotropic
    // numbers above are the residual encoding's worst case — the
    // coarse quantizer absorbs nothing. Real embedding corpora are
    // clustered, so measure the SAME 8-byte config on a
    // mixture-of-16-Gaussians synthetic over the same 64 dims
    // (deterministic hash-noise; centers spread ±1, points ±0.15
    // around them). Here the coarse centroid absorbs the cluster
    // structure and the residual codes spend their budget on the
    // tight remainder — the "residual coding is worth far more on
    // clustered corpora" claim, previously spec-only, as a measured
    // bench number beside its isotropic twin.
    val dim = 64
    import org.apache.spark.sql.Column
    def h(seed: Column): Column =
      (sin(seed) * 43758.5453) - floor(sin(seed) * 43758.5453)
    val cl = spark.range(4096).select(col("id").cast("long").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), dd => {
        val j = pmod(col("id"), lit(16)).cast("double")
        val center = h(j * 12.9898 + dd.cast("double") * 78.233) * 2 - 1
        val noise = h(col("id").cast("double") * 7.919 +
          dd.cast("double") * 104.729 + 0.5) * 2 - 1
        center + noise * 0.15
      }).as("embedding")).persist()
    cl.count()
    val clQueries = cl.filter(col("vec_id") < 32)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val clExact = SimilarityOps.bruteForceTopK(clQueries, cl, k)
      .select("q_id", "vec_id").persist()
    val nClExact = clExact.count().toDouble
    def clRecallOf(approx: DataFrame): Double = {
      val hit = approx.select("q_id", "vec_id")
        .join(clExact, Seq("q_id", "vec_id"), "left_semi").count()
      math.rint(hit / nClExact * 10000) / 10000
    }
    val clCents = SimilarityOps.trainIvfCentroids(cl, "vec_id",
      "embedding", 16)
    val clRcbs = SimilarityOps.trainPqCodebooksResidual(cl, "vec_id",
      "embedding", clCents, m = 8, ksub = 256, iters = 2)
    val clIvfpq8 = clRecallOf(SimilarityOps.ivfPqTopK(clQueries, cl, k,
      clCents, clRcbs, nprobe = 8, rerankFactor = 4))
    val clCbs256 = SimilarityOps.trainPqCodebooks(cl, "vec_id",
      "embedding", m = 8, ksub = 256, iters = 2)
    val clPq256 = clRecallOf(SimilarityOps.pqTopK(clQueries, cl, k,
      clCbs256, rerankFactor = 4))
    clExact.unpersist(false)
    cl.unpersist(false)
    Seq("pq_m8k16_r4" -> pq, "ivf_probe4of16" -> ivf, "int8_r2" -> int8,
      "pq_m8k256_r4" -> pq256, "ivfpq_m8k256_np8of16" -> ivfpq8,
      "ivfpq_m8k256_np16of16" -> ivfpq16,
      "ivfpq_clustered_np8" -> clIvfpq8,
      "pq256_clustered_r4" -> clPq256)
  }
}

/** The ten stream≡batch witnesses over one SF directory, each run
  * through the harness `h`: a witness stages its input, replays it
  * through the parquet file source, and diffs the streamed result
  * against its batch twin — any nonzero diff reports -1. The `tag`
  * names the run's query and checkpoint sub-directory. */
final class BenchWitnesses(spark: SparkSession, sfDir: String,
    h: WitnessHarness) {
  import h._

  val all: Seq[(String, String => Double)] = Seq(
    "stream_resample_5min" -> (resample _),
    "stream_dedup_watermark" -> (dedup _),
    "stream_session_window" -> (session _),
    "stream_session_recovery" -> (sessionRecovery _),
    "stream_join_interval" -> (join _),
    "stream_join_left_outer" -> (joinOuter _),
    "stream_join_recovery" -> (joinRecovery _),
    "stream_incremental_ingest" -> (incrementalIngest _),
    "stream_near_dup_ingest" -> (nearDupIngest _),
    "stream_cdc_apply" -> (cdcApply _))

  /** Wall-clock witness that the stream≡batch claim holds END TO END
    * at bench scale (r10 verdict task #6 — it was spec-only): events
    * are staged into 16 files, replayed through the parquet FILE
    * SOURCE two files per trigger (8 genuine micro-batches, real
    * state-store handoff between them), aggregated with the exact
    * resample_5min expressions, and the complete-mode result is
    * diffed against the registry's batch plan. The sum is
    * decimal-exact, so micro-batch partial-aggregation order cannot
    * move it: any nonzero diff is a real streaming-semantics bug and
    * reports as -1. */
  private def resample(tag: String): Double = {
    import graft.queries.Q
    val staged = Bench.tmpPath("stream")
    val ev = Tables.events(spark, sfDir).select("ts", "value")
    ev.repartition(16).write.mode("overwrite").parquet(staged)
    val agg = replay(staged, spark.read.parquet(staged).schema, 2)
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("cnt"), Q.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("cnt"), col("sum_value"))
    val t0 = System.nanoTime()
    val (secs, streamed) = toMemory("stream_resample_5min", tag, t0, agg,
      "complete", "resample")
    val batch = SparkEntry.queries("resample_5min")(spark, sfDir)
    sameRows("stream_resample_5min", "streaming and batch", streamed,
      batch, secs)
  }

  /** Wall-clock witness for STREAMING dedup (r11 verdict task #8 —
    * the watermarked-dedup claim was spec-only): every 5th event is
    * planted as a duplicate copy 30 s later (same event_id and
    * payload), the corpus is staged time-ordered into 16 range files
    * and replayed 2 files per trigger (8 genuine micro-batches, so
    * boundary-straddling duplicate pairs exercise cross-batch state),
    * then `dropDuplicatesWithinWatermark("event_id")` under a
    * 10-minute watermark dedups in append mode. The surviving
    * (event_id, user_id, value) set is diffed against batch
    * `dropDuplicates` over the same staged data — the copies carry
    * identical payloads, so ANY row diff is a real streaming-state
    * bug and reports as -1. ts is excluded from the diff (the batch
    * pick between two otherwise-identical copies is arbitrary). */
  private def dedup(tag: String): Double = {
    val staged = Bench.tmpPath("sdedup")
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "value")
    val dupes = ev.filter(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 30 SECONDS"))
    val schema = stage16(ev.unionAll(dupes), "ts", staged)
    val deduped = replay(staged, schema, 2)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val t0 = System.nanoTime()
    val (secs, out) = toMemory("stream_dedup_watermark", tag, t0, deduped,
      "append", "dedup")
    val cols = Seq(col("event_id"), col("user_id"), col("value"))
    // batch twin: the planted copies are payload-identical on the
    // compared columns, so distinct == dropDuplicates(event_id) here
    // (and plans as a plain Aggregate — Deduplicate + exceptAll trips
    // an INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1's planner)
    val batch = spark.read.parquet(staged).select(cols: _*).distinct()
    sameRows("stream_dedup_watermark", "streaming and batch dedup",
      out.select(cols: _*), batch, secs)
  }

  /** Per-user 30-minute-gap sessions: the aggregate the session
    * witnesses stream and their batch twins recompute. */
  private def sessions(ev: DataFrame): DataFrame = {
    import graft.queries.Q
    ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("s"),
        col("session_window.end").as("e"), col("n"), col("sum_value"))
  }

  /** The session witnesses' batch twin: sessions closed by the FINAL
    * watermark, i.e. session end ≤ max(ts) − the 10-minute delay. */
  private def closedSessions(src: DataFrame): DataFrame = {
    val hi = src.agg(max(col("ts"))).head().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(hi.getTime - 10 * 60 * 1000L)
    // The closed-session filter MUST sit behind a materialization
    // barrier: Catalyst treats session_window as a plain grouping
    // expression and pushes `e <= cutoff` BELOW the session-merge
    // aggregate, where it evaluates as `ts + gap <= cutoff` on RAW
    // events — dropping the later half of a mergeable pair before the
    // merge and leaving a bogus unmerged session that passes the
    // cutoff (observed: 4 phantom rows at sf0.1). Sound for ordinary
    // groupBy keys, unsound for session windows, whose grouping value
    // is rewritten by the merge. localCheckpoint materializes the
    // merged sessions so the filter can only see post-merge rows.
    sessions(src).localCheckpoint(true).filter(col("e") <= lit(cutoff))
  }

  /** Wall-clock witness for STATEFUL SESSION WINDOWS under a
    * watermark — the third streaming claim next to the aggregation
    * (stream_resample_5min) and dedup (stream_dedup_watermark)
    * witnesses: per-user 30-minute-gap sessions over the events
    * table, streamed in APPEND mode through 8 micro-batches of the
    * mtime-ordered file replay. Append emits a session only once the
    * watermark passes its end (last event + gap), so the comparable
    * set is sessions closed by the FINAL watermark — the batch twin
    * computes the same session_window aggregate and filters to
    * session end ≤ max(ts) − delay. Any row diff is a real
    * session-state bug and reports as -1. */
  private def session(tag: String): Double = {
    val staged = Bench.tmpPath("ssess")
    val schema = stage16(
      Tables.events(spark, sfDir).select("user_id", "ts", "value"), "ts",
      staged)
    val sess = sessions(
      replay(staged, schema, 2).withWatermark("ts", "10 minutes"))
    val t0 = System.nanoTime()
    val (secs, streamed) = toMemory("stream_session_window", tag, t0, sess,
      "append", "session")
    sameRows("stream_session_window", "streaming and batch sessions",
      streamed, closedSessions(spark.read.parquet(staged)), secs)
  }

  /** CRASH-RECOVERY witness for stateful streaming (r17 verdict
    * task #3): the eight witnesses prove stream ≡ batch in ONE run;
    * this one proves the semantics a 100 TB stream actually relies
    * on — that a query KILLED mid-stream (an exception thrown out of
    * the sink on an uncommitted batch, terminating the query) and
    * restarted from its checkpoint completes to the SAME answer.
    * Same session-window aggregate and staged replay as
    * stream_session_window; the sink is a per-batch
    * partition-overwrite parquet (idempotent on replay, so Spark's
    * at-least-once foreachBatch redelivery of the killed batch
    * cannot double rows), and the kill fires AFTER batch 3's rows
    * are on disk but BEFORE its epoch commits — the restart must
    * reload the session state as of batch 2, replay batch 3 to the
    * identical emission, and run out the remaining batches. The
    * final output diffs against the batch twin; wall time spans
    * BOTH runs (kill + recovery — the number a failover budget
    * needs). Runs under both state-store providers like every
    * witness, so RocksDB's snapshot reload is covered too. */
  private def sessionRecovery(tag: String): Double = {
    val name = "stream_session_recovery"
    val staged = Bench.tmpPath("ssrec")
    val out = s"$staged-out-$tag"
    Bench.deleteTree(spark, out)
    val schema = stage16(
      Tables.events(spark, sfDir).select("user_id", "ts", "value"), "ts",
      staged)
    killThenRestart(name, tag, "sessrec", out, killAt = 3) { () =>
      sessions(replay(staged, schema, 2).withWatermark("ts", "10 minutes"))
    }.fold(-1.0) { secs =>
      val streamed = spark.read.option("basePath", out).parquet(out)
        .drop("batch_id")
      sameRows(name, "the killed-and-recovered stream and batch sessions",
        streamed, closedSessions(spark.read.parquet(staged)), secs)
    }
  }

  /** Even events ("impressions") as the left side, odd events
    * ("conversions") as the right. */
  private def side(even: Boolean, df: DataFrame): DataFrame = {
    val m = if (even) 0 else 1
    val (u, t, id) = if (even) ("user_id", "lts", "lid")
      else ("r_user", "rts", "rid")
    df.filter(pmod(col("event_id"), lit(2)) === m)
      .select(col("user_id").as(u), col("ts").as(t),
        col("event_id").as(id))
  }

  /** Impressions joined to conversions by user within a forward
    * 30-minute event-time bound; a streamed join watermarks both
    * sides 1 hour. Each side reads its own `src()`. */
  private def intervalJoin(src: () => DataFrame, how: String,
      watermark: Boolean): DataFrame = {
    def wm(df: DataFrame, ts: String): DataFrame =
      if (watermark) df.withWatermark(ts, "1 hour") else df
    wm(side(even = true, src()), "lts").join(
      wm(side(even = false, src()), "rts"),
      col("user_id") === col("r_user") &&
        col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 30 MINUTES"),
      how)
  }

  private def matchIds(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("lid"), col("rid"))

  /** Wall-clock witness for STREAM-STREAM INNER JOIN under
    * watermarks — the fourth streaming claim next to aggregation,
    * dedup, and session windows: even events ("impressions") join
    * odd events ("conversions") by user within a forward 30-minute
    * event-time bound, both sides watermarked 1 hour, through the
    * same mtime-ordered file replay (each side is its
    * own file source over the staged range files, so the join state
    * genuinely hands off across triggers; FOUR batches — join-state
    * commit overhead dominates this witness, and four triggers
    * exercise the same cross-batch handoff at half the fixed cost).
    * Append-mode inner join
    * emits each match exactly once; the batch twin runs the identical
    * join over the staged files. Any row diff is a real join-state
    * bug and reports as -1. */
  private def join(tag: String): Double = {
    val staged = Bench.tmpPath("sjoin")
    val schema = stage16(
      Tables.events(spark, sfDir).select("event_id", "ts", "user_id"), "ts",
      staged)
    val sj = matchIds(intervalJoin(() => replay(staged, schema, 4),
      "inner", watermark = true))
    val t0 = System.nanoTime()
    val (secs, streamed) = toMemory("stream_join_interval", tag, t0, sj,
      "append", "join")
    val batchSrc = spark.read.parquet(staged)
    val batch = matchIds(intervalJoin(() => batchSrc, "inner",
      watermark = false))
    sameRows("stream_join_interval", "streaming and batch interval join",
      streamed, batch, secs)
  }

  /** Wall-clock witness for STREAM-STREAM LEFT-OUTER JOIN under
    * watermarks (r12 verdict task #8) — the state-EVICTION path the
    * inner join never exercises: a null-padded row is emitted only
    * when the watermark closes an unmatched left row's match window,
    * so this pins the timeout/eviction machinery real attribution
    * pipelines rely on (impressions with no conversion). Same sides,
    * interval bound, and mtime-ordered replay as
    * stream_join_interval (four batches, same fixed-cost rationale).
    * The batch twin keeps matched rows
    * unconditionally and filters UNMATCHED rows to match windows
    * closed by the FINAL watermark (max event time − 1 h delay) —
    * left rows still open when the stream ends legitimately never
    * null-emit (in production, later data advances the watermark and
    * flushes them). Any row diff is a real eviction-semantics bug
    * and reports as -1. */
  private def joinOuter(tag: String): Double = {
    val staged = Bench.tmpPath("sojoin")
    val schema = stage16(
      Tables.events(spark, sfDir).select("event_id", "ts", "user_id"), "ts",
      staged)
    val sj = matchIds(intervalJoin(() => replay(staged, schema, 4),
      "left_outer", watermark = true))
    val t0 = System.nanoTime()
    val (secs, streamed) = toMemory("stream_join_left_outer", tag, t0, sj,
      "append", "ojoin")
    val batchSrc = spark.read.parquet(staged)
    // the GLOBAL watermark is min over BOTH sides' watermarks, and
    // each side only sees its own parity's events — using the overall
    // max ts overstates the final watermark by the gap between the
    // sides' maxima (caught at sf0.1: 2 batch-only rows whose windows
    // closed under max-based cutoff but not under the real min-based
    // watermark)
    val his = batchSrc.agg(
      max(when(pmod(col("event_id"), lit(2)) === 0, col("ts"))),
      max(when(pmod(col("event_id"), lit(2)) === 1, col("ts")))).head()
    val hi = Seq(his.getTimestamp(0), his.getTimestamp(1)).min(
      Ordering.by((t: java.sql.Timestamp) => t.getTime))
    val cutoff = new java.sql.Timestamp(hi.getTime - 60 * 60 * 1000L)
    val batch = matchIds(
      intervalJoin(() => batchSrc, "left_outer", watermark = false)
        .filter(col("rid").isNotNull ||
          col("lts") + expr("INTERVAL 30 MINUTES") < lit(cutoff)))
    sameRows("stream_join_left_outer",
      "streaming and batch left-outer join", streamed, batch, secs)
  }

  /** CRASH-RECOVERY witness for STREAM-STREAM JOIN state (r18
    * verdict task #3): session recovery proved the aggregate path;
    * the join witnesses carry the HEAVIEST state this engine runs
    * (both sides buffered under watermarks, state_commit 100-300 ms
    * per batch across 128 stores per trigger), and reloading that
    * state from a checkpoint — RocksDB snapshot + WAL replay under
    * the rocksdb provider — is exactly where a 100 TB failover
    * hurts. Same sides, interval bound, and mtime-ordered replay as
    * stream_join_interval; the sink is a per-batch
    * partition-overwrite parquet (idempotent on replay), and the
    * kill fires after batch 2's rows land but BEFORE its epoch
    * commits — the restart must reload both join buffers as of
    * batch 1, replay batch 2 to the identical emission, and run out
    * the rest. The final output diffs against the batch twin; wall
    * time spans BOTH runs (kill + recovery — the failover budget
    * number). Runs under both state-store providers. */
  private def joinRecovery(tag: String): Double = {
    val name = "stream_join_recovery"
    val staged = Bench.tmpPath("sjrec")
    val out = s"$staged-out-$tag"
    Bench.deleteTree(spark, out)
    val schema = stage16(
      Tables.events(spark, sfDir).select("event_id", "ts", "user_id"), "ts",
      staged)
    killThenRestart(name, tag, "jrec", out, killAt = 2) { () =>
      matchIds(intervalJoin(() => replay(staged, schema, 4), "inner",
        watermark = true))
    }.fold(-1.0) { secs =>
      val streamed = spark.read.option("basePath", out).parquet(out)
        .drop("batch_id")
      val batchSrc = spark.read.parquet(staged)
      val batch = matchIds(intervalJoin(() => batchSrc, "inner",
        watermark = false))
      sameRows(name, "the killed-and-recovered stream and the batch " +
        "interval join", streamed, batch, secs)
    }
  }

  /** The documents with every 4th doc's text replaced by the text of
    * doc_id−2, so duplicate pairs straddle id-ordered batch
    * boundaries. */
  private def plantedCopies(): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.alias("d").join(
        docs.select(col("doc_id").as("src_id"), col("text").as("src_text")),
        col("doc_id") - 2 === col("src_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0 && col("src_text").isNotNull,
          col("src_text")).otherwise(col("text")).as("text"))
  }

  /** Wall-clock witness for the INCREMENTAL-INGEST loop — the
    * steady-state shape of a production corpus (COVERAGE's
    * dedupIncremental story) driven END TO END through streaming:
    * documents with planted cross-batch duplicate texts
    * ([[plantedCopies]]) are replayed as 8 id-ordered micro-batches
    * into a foreachBatch sink that dedups each batch within itself
    * AND against the corpus parquet accumulated so far, then appends
    * the survivors. The final corpus is diffed against one-shot batch
    * exactDedup over the same staged data — id-ordered replay makes
    * keep-lowest-id deterministic on both paths, so ANY diff is a
    * real incremental-state bug and reports as -1. */
  private def incrementalIngest(tag: String): Double = {
    val root = Bench.tmpPath("singest")
    val staged = s"$root/in"; val corpus = s"$root/corpus"
    // fresh corpus dir per run (append mode accumulates)
    Bench.deleteTree(spark, corpus)
    val schema = stage16(plantedCopies(), "doc_id", staged)
    val stream = replay(staged, schema, 2)
    val t0 = System.nanoTime()
    // EXACTLY-ONCE sink (r17 verdict task #1): each batch dedups
    // against the COMMITTED corpus view and publishes through
    // IngestCommit's partition-overwrite + commit-log protocol, so
    // a foreachBatch crash-replay converges instead of
    // double-appending (kill-restart proof in IngestCommitSpec)
    val secs = toForeach("stream_incremental_ingest", tag, t0, stream,
        "ingest", "ingest") { (batch, bid) =>
      graft.llm.IngestCommit.exactDedupIngestBatch(batch, bid, corpus)
      ()
    }
    val streamed = graft.llm.IngestCommit
      .committedCorpus(spark, corpus, s"$corpus/_commits")
    // batch twin = THE SAME OPERATOR run once over everything with an
    // empty prior corpus — one-shot and incremental must agree by the
    // operator's own contract, so the witness tracks its semantics
    // (tie-breaks, null handling) instead of a hand copy that could
    // silently diverge
    val emptyExisting = spark.read.parquet(staged).limit(0)
    val batchTwin = graft.llm.TextDedupOps.dedupIncremental(
      spark.read.parquet(staged), emptyExisting, "doc_id", "text")
    sameRows("stream_incremental_ingest", "incremental and one-shot dedup",
      streamed, batchTwin, secs)
  }

  /** foreachBatch witness for the INCREMENTAL NEAR-DUP loop (r12
    * verdict task #7, beside stream_incremental_ingest): each
    * micro-batch is MinHash-signatured and banded against the
    * PERSISTED signature index read from parquet — exactly the
    * artifact a production ingest keeps between runs — then the
    * survivors append to the corpus AND their signatures append to
    * the index; the accumulated corpus is never re-signatured. Same
    * planted shape as the exact witness ([[plantedCopies]]: duplicate
    * pairs straddle batch boundaries and are only catchable via the
    * index), id-ordered replay in
    * FOUR micro-batches under an 8-way shuffle width: this witness's
    * cost is per-batch JOB overhead (signature agg + banded join +
    * component rounds + two parquet writes per batch — ~10 actions
    * each), not data volume, so batch count and shuffle width are
    * the honest knobs; the index-handoff semantics being witnessed
    * are identical. The final corpus diffs against ONE-SHOT
    * lshIncremental
    * over everything with an empty index — equal by the operator's
    * one-shot-replay contract, because exact-clone candidate graphs
    * are transitive (each clone pair fully signature-collides) so
    * sequential index consultation and one-shot components agree.
    * Any diff is a real index-handoff bug and reports -1.
    * (Measured both ways after the r14 lineage-truncation fix: AQE
    * ON wins ~2× here — its broadcast-join conversions beat the
    * scheduler latency of its per-stage materialization once plan
    * re-analysis is no longer the bottleneck. Keep it on.) */
  private def nearDupIngest(tag: String): Double = withShufflePartitions(8) {
    import graft.llm.TextDedupOps
    val root = Bench.tmpPath("snear")
    val staged = s"$root/in"; val corpus = s"$root/corpus"
    val index = s"$root/index"
    Bench.deleteTree(spark, corpus)
    Bench.deleteTree(spark, index)
    val schema = stage16(plantedCopies(), "doc_id", staged)
    val stream = replay(staged, schema, 4)
    // Fully STORAGE-BACKED nightly shape (r14): the loop runs
    // against the pre-banded persisted LSH index — each batch pays
    // its own signatures plus a banded join against the slim
    // (id, band, band_hash) triple on parquet; the index is never
    // re-signatured, re-banded, or held in executor memory between
    // batches, so a restart resumes from storage with zero warmup.
    TextDedupOps.writeLshIndex(
      TextDedupOps.minHashSignatures(
        spark.read.parquet(staged).limit(0), "doc_id", "text", 3, 32),
      index, "doc_id", bands = 8)
    val t0 = System.nanoTime()
    // EXACTLY-ONCE sink (r17 verdict tasks #1 + #2): the commit-log
    // protocol makes a crash-replay converge (IngestCommitSpec), and
    // the ingest kernel evaluates each micro-batch once and runs the
    // banded join + component rounds once — the corpus write, bands
    // append and sigs append all derive from materialized inputs, with
    // the per-append k-probe job skipped
    val secs = toForeach("stream_near_dup_ingest", tag, t0, stream,
        "neardup", "near") { (batch, bid) =>
      val bt0 = System.nanoTime()
      graft.llm.IngestCommit.nearDupIngestBatch(batch, bid, index,
        corpus, threshold = 0.99)
      System.err.println(f"[bench]   near_dup_$tag batch $bid: " +
        f"${(System.nanoTime() - bt0) / 1e9}%.2f s")
    }
    val streamed = graft.llm.IngestCommit
      .committedCorpus(spark, corpus, s"$index/commits")
    val all = spark.read.parquet(staged)
    val emptyIdx = TextDedupOps.minHashSignatures(
      all.limit(0), "doc_id", "text", 3, 32)
    val batchTwin = TextDedupOps.lshIncremental(all, emptyIdx,
      "doc_id", "text", threshold = 0.99)
    sameRows("stream_near_dup_ingest", "incremental and one-shot near-dup",
      streamed, batchTwin, secs)
  }

  /** foreachBatch witness for CDC TABLE MAINTENANCE (late r13,
    * beside the ingest witnesses): the orders change feed (key =
    * o_custkey, seq = the globally-unique o_orderkey, every 7th key
    * streaming deletes) arrives in FOUR seq-ordered micro-batches
    * under an 8-way shuffle width;
    * each batch rewrites the maintained state table with
    * MergeOps.applyChanges against the PREVIOUS state — the
    * read-modify-swap loop a parquet lake actually runs under CDC
    * (state dirs alternate per batch; immutable storage has no
    * in-place update). Because batches partition the feed in
    * nondecreasing seq ranges, the incremental fold must equal
    * ONE-SHOT applyChanges over the whole feed by the operator's
    * latest-wins contract — the final state is diffed against
    * exactly that, so a tie-break or keep-semantics drift between
    * the incremental and batch paths reports -1 instead of a
    * timing. */
  private def cdcApply(tag: String): Double = withShufflePartitions(8) {
    import graft.operators.MergeOps
    val root = Bench.tmpPath("scdc")
    val staged = s"$root/changes"
    Bench.deleteTree(spark, root)
    val target = Tables.customer(spark, sfDir).select(
      col("c_custkey").as("k"), col("c_name").as("name"),
      col("c_acctbal").as("bal"))
    val changes = Tables.orders(spark, sfDir).select(
      col("o_custkey").as("k"),
      concat(lit("ord-"), col("o_orderkey")).as("name"),
      col("o_totalprice").as("bal"),
      when(pmod(col("o_custkey"), lit(7)) === 0, "D")
        .otherwise("U").as("op"),
      col("o_orderkey").as("seq"))
    val schema = stage16(changes, "seq", staged)
    val stream = replay(staged, schema, 4)
    // state-dir handoff: each batch reads state i, writes state i+1
    var statePath: Option[String] = None
    val t0 = System.nanoTime()
    val secs = toForeach("stream_cdc_apply", tag, t0, stream, "cdc", "cdc") {
      (batch, batchId) =>
        val prev = statePath.map(spark.read.parquet(_)).getOrElse(target)
        val next = s"$root/state_$batchId"
        MergeOps.applyChanges(prev, batch, Seq("k"), "op", "seq")
          .write.mode("overwrite").parquet(next)
        statePath = Some(next)
    }
    val streamed = spark.read.parquet(statePath.getOrElse(
      sys.error("stream_cdc_apply: no batch ran")))
    val batchTwin = MergeOps.applyChanges(
      target, spark.read.parquet(staged), Seq("k"), "op", "seq")
    sameRows("stream_cdc_apply", "incremental and one-shot applyChanges",
      streamed, batchTwin, secs)
  }
}
