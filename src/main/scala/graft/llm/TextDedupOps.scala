package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.Platform

import IngestCommit.{lshStore, minusTombstones, readTombstones,
  simHashStore}

/** Training-data deduplication operators (north-star LLM pipeline;
  * beyond the reference's surface — its only related primitive is
  * hash_pandas_object, pandas/core/util/hashing.py:49).
  *
  * Scale design: every path is shuffle-on-key only —
  *   exact:   one shuffle on the content hash;
  *   minhash: row-local signatures (no shuffle), explode bands,
  *            shuffle on (band, bandHash) buckets, pair-join INSIDE
  *            buckets only (never all-pairs);
  *   simhash: flatMap tokens + one hash-agg.
  * At 100 TB none of these materialize a cross join; candidate pairs are
  * bounded by bucket co-membership, and skewed buckets (boilerplate
  * shingles) are handled by AQE skew splitting.
  */
object TextDedupOps {

  /** Deterministic content normalization: casefold, strip non-alnum,
    * collapse whitespace. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Stable 128-bit content fingerprint (hex). */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Exact dedup: keep the lowest-id row per content hash. One shuffle.
    * (The row_number window here is NOT the paragraph-dedup skew hazard:
    * rank-limit pushdown plants a partial WindowGroupLimit before the
    * exchange, so each mapper forwards at most one row per hash.) */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exactDedupBy(df, textCol, Seq(col(idCol).asc))

  /** Exact dedup keeping the row that ranks FIRST by EXPLICIT order
    * columns — source-priority dedup: when the same content arrives
    * from several sources (a curated dump AND a web crawl), production
    * pipelines keep the canonical/high-priority copy, not the
    * lowest-id one (the copy's metadata — source, license, fetch date
    * — survives into the trained corpus). Callers make the order
    * total (end with a unique id) for deterministic results. Same
    * plan shape as [[exactDedup]]: one shuffle on the content hash,
    * and rank-limit pushdown plants a partial WindowGroupLimit before
    * the exchange so hot duplicate classes collapse map-side. */
  def exactDedupBy(df: DataFrame, textCol: String,
      order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** INCREMENTAL exact dedup — the steady-state shape of a production
    * corpus: a new batch arrives, and a document survives iff its
    * normalized content is new BOTH within the batch (lowest id wins,
    * like [[exactDedup]]) and against everything already ingested.
    * `existing` is the prior corpus (or any frame exposing the same
    * text column — in practice the persisted fingerprint INDEX of the
    * corpus, which is what a 100 TB pipeline keeps between runs;
    * recomputing fingerprints from raw text is then a projection the
    * caller skips).
    *
    * Scale shape: the existing side reduces to distinct fingerprints
    * (map-side-combined aggregate — the index is |unique docs| rows,
    * never the corpus), the batch self-dedup is the WindowGroupLimit
    * plan above, and the cross-check is one LEFT ANTI join on the
    * fingerprint — broadcastable while the index is small, hash-shuffle
    * on md5 (uniform by construction, no skew) once it isn't. */
  def dedupIncremental(newBatch: DataFrame, existing: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val oldIdx = existing
      .select(fingerprint(col(textCol)).as("__old_fp")).distinct()
    val withFp = newBatch.withColumn("__fp", fingerprint(col(textCol)))
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol).asc)
    // NULL-SAFE anti join: fingerprint(null text) is null, and the
    // window above already groups null-fingerprint rows as one content
    // value within the batch — a plain equality anti-join would then
    // contradict that by treating corpus null-text as never-matching
    // (null != null). <=> makes both stages agree: null content is one
    // value everywhere.
    withFp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(oldIdx, col("__fp") <=> col("__old_fp"), "left_anti")
      .drop("__fp")
  }

  /** Exact cross-document PARAGRAPH dedup with reassembly — the
    * RefinedWeb/CCNet curation tier between whole-document exact dedup
    * (above) and fixed-window substring dedup (`removeDuplicateSpans`):
    * split every document on `sep`, keep only the globally FIRST
    * occurrence of each distinct paragraph (first = lowest (id, pos)),
    * and rebuild each document from its surviving paragraphs in
    * original order. Documents whose every paragraph appeared earlier
    * elsewhere vanish entirely.
    *
    * Scale shape (100 TB): two shuffles, both necessary — one hash
    * aggregation keyed by paragraph text for the global
    * first-occurrence pick (grouping by the full text keeps the claim
    * EXACT rather than fingerprint-probabilistic), one regroup by
    * document id for reassembly. The first-occurrence pick is
    * `groupBy(para).agg(min(struct(id, pos)))` — NOT a window over a
    * paragraph-text partition: `min` partial-aggregates, so a hot
    * boilerplate paragraph repeated 10⁸ times corpus-wide collapses
    * map-side to one row per map partition before the shuffle
    * (≤ #map-tasks rows reach the reduce task), where a window would
    * ship every copy to ONE task that AQE cannot split. The aggregate
    * output rows ARE the surviving (id, pos, para) occurrences —
    * struct min orders lexicographically by (id, pos), matching the
    * window's orderBy — so no join-back is needed. Never all-pairs, no
    * driver-side state, no unsplittable skew.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .select(col(idCol), col("pos"), col("col").as("__para"))
    paras
      .groupBy(col("__para"))
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
      .select(col(s"__first.$idCol").as(idCol),
        col("__first.pos").as("pos"), col("__para"))
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("__para")))),
          s => s.getField("__para")), sep).as(textCol))
  }

  /** Distinct word n-gram shingles from a PRE-MATERIALIZED token array
    * column. The tokens must be a real column (attribute), not an
    * inline split(...) expression: higher-order-function lambdas
    * re-evaluate captured subtrees per element, which turns an inline
    * regex tokenizer into O(words²) work per document. */
  def shinglesFromWords(words: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(words, i, lit(n)))))

  /** doc frame → (id, exploded shingle) with the tokens materialized
    * once per row in a separate projection. */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.withColumn("__words", split(normalize(col(textCol)), " "))
      .select(col(idCol), explode(shinglesFromWords(col("__words"), n)).as("__sh"))

  /** Mersenne-prime modulus for the universal hash family: keeps every
    * intermediate below 2^62, so ANSI-mode overflow checking stays
    * happy without try_* escape hatches. */
  val HashP: Long = 2147483647L

  /** (a_i, b_i) parameters of the k universal-hash permutations,
    * fixed-seed so signatures are reproducible across runs/executors. */
  def hashParams(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((1L + rnd.nextInt((HashP - 1).toInt).toLong,
      rnd.nextInt(HashP.toInt).toLong))
  }

  /** Polynomial coefficients of the shingle hash: word j of a shingle
    * weighs `ShingleCoeffs(j % 5)`. Part of the persisted signature
    * format, like [[HashP]] and [[hashParams]]. */
  private val ShingleCoeffs: Array[Long] =
    Array(1299709L, 15485863L, 32452843L, 49979687L, 67867967L)

  /** MinHash signatures: idCol → array of k minima of permuted shingle
    * hashes (`array<bigint>`, NULL-able elements). `normalize` runs as
    * a Column expression and the signature as one row-local kernel
    * ([[minHashKernel]]): a document's shingles all live in its row, so
    * nothing explodes and nothing shuffles. One output row per input
    * row — `idCol` must be a KEY of `df` (rows sharing an id are not
    * merged). A row whose text is NULL gets no signature: it has no
    * shingles, and an all-NULL signature would share every band's
    * bucket with each other NULL-text document. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, seed: Long = 42L): DataFrame = {
    require(shingleN >= 1 && k >= 1,
      s"minHashSignatures: shingleN ($shingleN) and k ($k) must be >= 1")
    val (a, b) = hashParams(k, seed).toArray.unzip
    val sign = udf((t: String) => minHashKernel(t, shingleN, a, b))
      .asNonNullable()
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), sign(normalize(col(textCol))).as("signature"))
  }

  /** The k MinHash minima of one NORMALIZED text. Words are the text's
    * " "-separated runs, each hashed once as Spark's `xxhash64` (seed
    * 42) of its UTF-8 bytes, mod [[HashP]]. Shingle s combines words
    * s..s+n-1 polynomially, Σ_j floorMod(wh(s+j)·c(j % 5), P) mod P,
    * with no shingle string built (a different but equally uniform
    * family than hashing the joined string; MinHash only needs
    * consistency). A text of m < n words (the empty text is one empty
    * word) is ONE shingle over its m words. Minimum t is
    * min_s floorMod(h_s·a(t) + b(t), P); every intermediate stays below
    * 2^62. NULL text gives k NULL minima. */
  private def minHashKernel(text: String, n: Int, a: Array[Long],
      b: Array[Long]): Array[java.lang.Long] = {
    val k = a.length
    val out = new Array[java.lang.Long](k)
    if (text == null) return out
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var m = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') m += 1; i += 1 }
    val wh = new Array[Long](m)
    var w = 0
    var start = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        wh(w) = Math.floorMod(XXH64.hashUnsafeBytes(bytes,
          Platform.BYTE_ARRAY_OFFSET + start, i - start, 42L), HashP)
        w += 1
        start = i + 1
      }
      i += 1
    }
    val mins = Array.fill(k)(Long.MaxValue)
    val last = math.max(m - n, 0)
    var s = 0
    while (s <= last) {
      var h = 0L
      var j = 0
      while (j < n && s + j < m) {
        h += Math.floorMod(wh(s + j) * ShingleCoeffs(j % ShingleCoeffs.length),
          HashP)
        j += 1
      }
      h = Math.floorMod(h, HashP)
      var t = 0
      while (t < k) {
        val v = Math.floorMod(h * a(t) + b(t), HashP)
        if (v < mins(t)) mins(t) = v
        t += 1
      }
      s += 1
    }
    var t = 0
    while (t < k) { out(t) = mins(t); t += 1 }
    out
  }

  /** LSH banding: candidate pairs whose signatures collide in ≥1 of
    * `bands` bands (rows = k/bands), then filtered by the signature-
    * estimated Jaccard ≥ threshold. Returns (id_a, id_b, est_jaccard).
    *
    * `maxBucketSize` caps per-(band, band_hash) bucket occupancy: a
    * bucket with b members emits b·(b−1)/2 pairs, so one boilerplate
    * bucket (site chrome, license headers, templated pages) with 10⁵
    * members would emit 5·10⁹ pairs and stall the stage — the classic
    * 100 TB dedup pathology. Buckets above the cap are DROPPED, which is
    * safe for near-dup detection because (a) exact duplicates must be
    * removed by [[exactDedup]] BEFORE minhash (standard pipeline order —
    * identical docs saturate every band bucket at once, no cap can keep
    * them), and (b) a genuine near-dup pair that lands in one hot bucket
    * has `bands − 1` further independent chances to collide in a cooler
    * band. The default keeps every bucket (small-corpus / gate-query
    * behavior); 100 TB runs should set it to O(100). */
  def lshCandidatePairs(signatures: DataFrame, idCol: String,
      bands: Int, threshold: Double,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val pairs = if (maxBucketSize == Int.MaxValue) {
      // UNCAPPED (r20, guide §2.4 "remove shuffles outright"): a pair
      // colliding in c bands used to surface c times from the banded
      // self-join and pay a whole Exchange of all id pairs to
      // `distinct`. Emission is now exactly-once WITHOUT it: each
      // banded row carries its doc's full band-hash vector (`__bhs`,
      // `bands` longs — cheap next to removing the pairs exchange),
      // and a pair is emitted only from the FIRST band where the two
      // vectors agree — a row-local zip/position test, so the distinct
      // and its Exchange are gone while the pair SET is unchanged
      // (every colliding pair has a unique first colliding band).
      val bandedU = signatures
        .withColumn("__bhs", transform(split_band(col("signature"), bands),
          a => xxhash64(a.cast("string"))))
        .select(col(idCol), col("__bhs"), posexplode(col("__bhs")))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_hash")
      val a = bandedU.select(col(idCol).as("id_a"),
        col("__bhs").as("__bhs_a"), col("band"), col("band_hash"))
      val b = bandedU.select(col(idCol).as("id_b"),
        col("__bhs").as("__bhs_b"), col("band"), col("band_hash"))
      a.join(b, Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b") &&
          array_position(zip_with(col("__bhs_a"), col("__bhs_b"),
            (x, y) => x === y), true) === col("band") + 1)
        .select("id_a", "id_b")
    } else {
      // CAPPED: bucket sizes come from a window count partitioned by
      // the SAME (band, band_hash) key the self-join needs (r20): one
      // exchange establishes the clustering, the count/filter ride it,
      // and the join reuses it — replacing the separate count
      // aggregation + semi-join of the slim frame. Hot buckets buffer
      // in one (spillable) window group; they are exactly the buckets
      // the cap then DROPS, so the buffer is bounded by the corpus'
      // worst bucket, same as the join build the old semi-join fed.
      // The distinct stays: a dropped bucket can hide a pair's first
      // colliding band, so first-collide emission is not bucket-locally
      // decidable under a cap (see asymPairsFromBands for the same
      // reasoning on the incremental path).
      val wsz = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "band_hash")
      val banded = bandFrame(signatures, idCol, bands)
        .withColumn("__bsz", count(lit(1)).over(wsz))
        .filter(col("__bsz") <= maxBucketSize)
        .drop("__bsz")
      val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
      val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_hash"))
      a.join(b, Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    }
    withEstJaccard(pairs, signatures, idCol, threshold)
  }

  /** Re-attach both signatures to candidate `pairs` (id_a, id_b) and
    * keep the pairs whose estimated Jaccard — the fraction of agreeing
    * minima — reaches `threshold`. Returns (id_a, id_b, est_jaccard). */
  private def withEstJaccard(pairs: DataFrame, signatures: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val est = size(filter(zip_with(col("sig_a"), col("sig_b"),
      (x, y) => x === y), v => v)).cast("double") / size(col("sig_a"))
    pairs
      .join(signatures.select(col(idCol).as("id_a"), col("signature").as("sig_a")), Seq("id_a"))
      .join(signatures.select(col(idCol).as("id_b"), col("signature").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", est)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** INCREMENTAL near-dup dedup — the MinHash twin of
    * [[dedupIncremental]] (r12 verdict task #7): a production pipeline
    * keeps the SIGNATURE INDEX of its corpus between ingests, so a new
    * batch costs signatures for the BATCH ONLY plus one banded join
    * against the index — never a re-signature of the accumulated
    * corpus. `existingSignatures` is the persisted (idCol, signature)
    * index ([[minHashSignatures]] output with the SAME shingleN/k/seed;
    * in steady state it is read straight from parquet).
    *
    * Semantics — exactly the one-shot replay over old ∪ new: a batch
    * document survives iff its connected component over the banded
    * candidate graph of all signatures (old and new together, pairs
    * thresholded on estimated Jaccard) contains NO existing document
    * and it is the minimum-id NEW document of its component. Callers
    * union the survivors' signatures into the index for the next
    * ingest ([[minHashSignatures]] over the returned frame, or a
    * semi-join of the batch signatures).
    *
    * Scale shape: the index side ships (id, signature) — k+1 longs per
    * UNIQUE surviving doc, not texts; the union rides the same
    * bucket-bounded, cappable banded join as [[lshCandidatePairs]]
    * (the side bit folded into the id, see the side-bit fold's id
    * contract); components run on candidate pairs only (O(diameter)
    * rounds — near-dup graphs are shallow); the final membership check
    * is one survivor step on unique ids ([[incrementalLosers]]). */
  def lshIncremental(newBatch: DataFrame, existingSignatures: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.7,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    lshIncrementalWithSignatures(newBatch, existingSignatures, idCol,
      textCol, shingleN, k, bands, threshold, maxBucketSize)._1

  /** [[lshIncremental]] plus the SURVIVORS' signature frame — the rows
    * a production ingest loop appends to its persisted index: the
    * batch's checkpointed signatures through the same survivor step as
    * the batch (see [[incrementalLosers]]), since re-signaturing the
    * survivors from text would re-run the batch lineage and the
    * signature kernel. A NULL-id document is signed by no tier: it
    * survives into the first frame but has no id to index, so it is
    * not in the second. `existingSignatures` is RE-EXECUTED per consumer
    * — fine for a parquet read or a checkpointed in-session index; an
    * expensive un-materialized lineage should be persisted first, or
    * use [[lshIncrementalIndexed]] where storage IS the index. */
  def lshIncrementalWithSignatures(newBatch: DataFrame,
      existingSignatures: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, maxBucketSize: Int = Int.MaxValue)
      : (DataFrame, DataFrame) = survivors(newBatch, incrementalMinHash(
      newBatch, existingSignatures, bandFrame(existingSignatures, idCol,
      bands), idCol, textCol, shingleN, k, bands, threshold, maxBucketSize))

  /** `batch` and its checkpointed payload (`core._1`) through the
    * survivor step (`core._2`) of an incremental near-dup tier. */
  private def survivors(batch: DataFrame,
      core: (DataFrame, DataFrame => DataFrame)): (DataFrame, DataFrame) =
    (core._2(batch), core._2(core._1))

  /** The MinHash tier of [[incrementalNearDup]], shared by the
    * in-memory and the persisted-index tier, which differ only in where
    * the existing side comes from: `exSigs` (idCol, signature) and
    * `exBands` (idCol, band, band_hash), keyed by plain ids. Pairs
    * pass at estimated Jaccard ≥ `threshold`. */
  private def incrementalMinHash(newBatch: DataFrame, exSigs: DataFrame,
      exBands: DataFrame, idCol: String, textCol: String, shingleN: Int,
      k: Int, bands: Int, threshold: Double,
      maxBucketSize: Int): (DataFrame, DataFrame => DataFrame) =
    incrementalNearDup(minHashSignatures(newBatch.filter(col(idCol).isNotNull),
        idCol, textCol, shingleN, k), exSigs, exBands,
      bandFrame(_, idCol, bands), Seq("band", "band_hash"), idCol,
      maxBucketSize)(withEstJaccard(_, _, idCol, threshold))

  /** The one incremental near-dup core of the MinHash and SimHash
    * tiers. `batch` is the batch's (idCol, payload) frame — signatures
    * or hashes of its non-NULL-id documents — and `exPayload`/`exBanded`
    * the existing side's payload and banded rows, keyed by plain ids;
    * `band` bands a payload frame into (idCol, `key`..., carried...)
    * rows, and `exBanded` has at least those columns. Ids are
    * side-folded, the batch payload is checkpointed, the new-vs-all
    * bucket pairs ([[asymPairsFromBands]], carrying the banded rows'
    * other columns) go through the tier's similarity test
    * `similar(pairs, payload of old ∪ new)`, and the survivors come
    * from [[incrementalLosers]]. Returns (the batch's checkpointed
    * payload, plain ids; the survivor step).
    *
    * The pair join consumes the batch payload more than once (the band
    * explode on both join sides, and for MinHash two re-attach joins):
    * an EAGER checkpoint runs the batch lineage and the payload kernel
    * once and TRUNCATES the plan to an RDD scan. It is sized
    * ([[Bridge.sizedLocalCheckpoint]]), so a batch below the broadcast
    * threshold plans its bands and payload as broadcast sides and the
    * index scans stream past them with no exchange. The existing side is storage-backed and cheap to
    * re-scan, so it does not checkpoint (that would cost index-sized
    * executor storage per batch). */
  private def incrementalNearDup(batch: DataFrame, exPayload: DataFrame,
      exBanded: DataFrame, band: DataFrame => DataFrame, key: Seq[String],
      idCol: String, maxBucketSize: Int)(
      similar: (DataFrame, DataFrame) => DataFrame)
      : (DataFrame, DataFrame => DataFrame) = {
    // `df` with its ids side-folded and the other columns of `like`
    def fold(df: DataFrame, side: Column => Column, like: DataFrame) =
      df.select(side(col(idCol)).as(idCol) +:
        like.columns.filterNot(_ == idCol).toSeq.map(col): _*)
    val nw = Bridge.sizedLocalCheckpoint(fold(batch, foldNew, batch))
    val nwBanded = band(nw)
    val pairs = asymPairsFromBands(
      fold(exBanded, foldOld, nwBanded).unionByName(nwBanded),
      nwBanded, idCol, key, maxBucketSize)
    val all = fold(exPayload, foldOld, nw).unionByName(nw)
    (fold(nw, unfold, nw), incrementalLosers(similar(pairs, all), idCol))
  }

  /** Persist an LSH signature index PRE-BANDED — the steady-state
    * layout for [[lshIncrementalIndexed]]:
    *   - `dir/sigs`:  (idCol, signature) — for the est-Jaccard
    *     re-attach and for reseeding in-memory loops;
    *   - `dir/bands`: (idCol, band_hash) PARTITIONED BY band and
    *     range-laid-out on (band, band_hash), so each band is an
    *     independently scannable/compactable directory (a filter on
    *     `band` pushes as a PartitionFilter — pinned in LlmSpec) and
    *     every file's row groups carry tight band_hash bounds for
    *     min/max skipping. Storing the banded triple spares every
    *     later ingest the split_band + xxhash recompute over the
    *     WHOLE index — the per-batch index cost becomes a columnar
    *     scan of the slim pairs, nothing else.
    * `mode` "overwrite" initializes, "append" absorbs a batch's
    * survivor signatures. The LSH parameters (bands, shingleN, and k —
    * the signature length) are RECORDED in `dir/meta` and validated on
    * every append and every [[lshIncrementalIndexed]] read: a silent
    * mismatch would band new hashes into foreign buckets and MISS
    * near-dups rather than fail — the worst possible dedup bug.
    *
    * WRITE ORDER: bands commit BEFORE sigs. The two writes are
    * separate non-atomic parquet commits, so a failure between them
    * must leave the SAFE orphan: an orphan band row merely
    * over-generates candidate pairs, which the est-Jaccard filter
    * (inner-joined against sigs) discards; the reverse orphan — sigs
    * without bands — would make the affected docs permanently
    * invisible to banding and silently MISS their future near-dups.
    *
    * CRASH-RETRY contract: re-running an append after a mid-write
    * failure duplicates the batch's already-committed band rows —
    * harmless to pair generation (distinct() downstream) EXCEPT that
    * duplicate rows inflate `maxBucketSize` bucket counts, which can
    * silently suppress real candidates near the cap. After a crashed
    * append, run [[lshIndexOrphans]] and re-initialize (or
    * de-duplicate dir/bands) if it reports orphans, rather than
    * blindly retrying.
    *
    * The input lineage executes twice (the bands write and the sigs
    * write) plus a bounded 1-row k probe — deliberate: an internal
    * checkpoint would force index-sized executor storage on the
    * one-time full-corpus initialization. Callers writing expensive
    * batch-sized frames (the append loop) should pass a materialized
    * frame, as [[lshIncrementalIndexed]]'s survivor output already
    * is in the Bench loop. */
  def writeLshIndex(signatures: DataFrame, dir: String,
      idCol: String = "doc_id", bands: Int = 8,
      mode: String = "overwrite", shingleN: Int = 3): Unit = {
    if (mode == "append") {
      appendSigsToIndex(signatures, dir, idCol, bands, shingleN,
        ingestId = None, recover = false)
      return
    }
    val spark = signatures.sparkSession
    import spark.implicits._
    val k = signatures.select(size(col("signature")).as("k"))
      .filter(col("k").isNotNull).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0) // 0 = empty init: any k
    // init gets the full range layout (tight per-file band_hash runs —
    // one-time, corpus-sized, worth a shuffle); appends skip the range
    // repartition: its SAMPLING pass re-executes the batch lineage and
    // its shuffle is pure per-batch overhead for batch-sized frames,
    // and the local sort alone already gives sorted row groups within
    // each appended file (compaction restores the global layout)
    // ids persist as LONG in BOTH layouts (the incremental reader's
    // explicit bands schema, and a uniform sigs id type so mixed-type
    // parquet footers can never make an appended index unreadable —
    // int-typed caller ids must not poison the store)
    bandFrame(signatures, idCol, bands)
      .withColumn(idCol, col(idCol).cast("long"))
      .repartitionByRange(col("band"), col("band_hash"))
      .sortWithinPartitions("band", "band_hash")
      .write.mode(mode).partitionBy("band").parquet(s"$dir/bands")
    // init carries an all-NULL ingest_id so EVERY file in the store
    // has the column and committed readers never depend on which
    // footer schema inference happens to pick
    signatures.select(col(idCol).cast("long").as(idCol), col("signature"))
      .withColumn("ingest_id", lit(null).cast("long"))
      .write.mode(mode).parquet(s"$dir/sigs")
    invalidateLshMeta(dir)
    Seq((bands, shingleN, k, LshIndexFormat))
      .toDF("bands", "shingle_n", "k", "format")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    invalidateLshMeta(dir) // again: a read racing the write above may
    // have re-cached the superseded meta between the two lines
  }

  /** Batch-append to a persisted LSH index — the shared kernel behind
    * [[writeLshIndex]](mode = "append") and the exactly-once ingest
    * path ([[IngestCommit.nearDupIngestBatch]]):
    *   - `ingestId`  — when set, every appended bands/sigs row is
    *     STAMPED with an `ingest_id` column; committed readers
    *     ([[lshIncrementalIndexed]] under a commit log) then treat
    *     rows above the committed high-water-mark as invisible, which
    *     is what makes a foreachBatch replay recoverable at all.
    *     Legacy appends (None) stamp nothing and behave exactly as
    *     before.
    *   - `recover`   — replay of a batch whose previous attempt died
    *     MID-APPEND: the already-visible rows of this `ingestId` are
    *     read back (batch-bounded: parquet row-group stats on the
    *     stamp prune other batches' files) and subtracted with
    *     `exceptAll` before appending, so the append converges to
    *     exactly-once row content no matter how many times it
    *     replays. Requires the replayed input to be DETERMINISTIC —
    *     true under Spark's file-source checkpointing, which re-offers
    *     the identical file set to an uncommitted batch.
    *   - `kKnown`    — skips the 1-row signature-length probe job
    *     when the caller already knows k (the ingest loop does).
    * Under a commit log the bands-before-sigs crash-order contract of
    * the legacy path is SUPERSEDED: uncommitted rows are invisible to
    * committed readers regardless of which write died first. */
  private[llm] def appendSigsToIndex(signatures: DataFrame, dir: String,
      idCol: String, bands: Int, shingleN: Int,
      ingestId: Option[Long], recover: Boolean,
      kKnown: Option[Int] = None): Unit = {
    val spark = signatures.sparkSession
    import spark.implicits._
    val k = kKnown.getOrElse(
      signatures.select(size(col("signature")).as("k"))
        .filter(col("k").isNotNull).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0))
    checkLshMeta(spark, dir, bands, shingleN, k)
    val sigsLong = signatures
      .select(col(idCol).cast("long").as(idCol), col("signature"))
    val newBands = bandFrame(sigsLong, idCol, bands)
      .select(col(idCol), col("band_hash"), col("band"))
    val (toBands, toSigs) =
      if (!recover) (newBands, sigsLong)
      else {
        val b = ingestId.getOrElse(sys.error(
          "appendSigsToIndex: recover requires an ingestId"))
        val visB = spark.read.schema(bandsReadSchema(idCol))
          .parquet(s"$dir/bands")
          .filter(col("ingest_id") === b)
          .select(col(idCol), col("band_hash"), col("band"))
        val visS = sigsRead(spark, dir, idCol)
          .filter(col("ingest_id") === b)
          .select(col(idCol), col("signature"))
        (newBands.exceptAll(visB), sigsLong.exceptAll(visS))
      }
    // ALWAYS write the stamp column (null for legacy appends) — a
    // uniform sigs schema keeps footer inference deterministic for
    // committed readers (see writeLshIndex's init note)
    val stampCol = ingestId.map(lit(_)).getOrElse(lit(null)).cast("long")
    val stampB = toBands.withColumn("ingest_id", stampCol)
    val stampS = toSigs.withColumn("ingest_id", stampCol)
    stampB.sortWithinPartitions("band", "band_hash")
      .write.mode("append").partitionBy("band").parquet(s"$dir/bands")
    stampS.write.mode("append").parquet(s"$dir/sigs")
    if (k > 0 && readLshMeta(spark, dir)._3 == 0) {
      // empty-initialized index learns its k from the first real rows
      invalidateLshMeta(dir)
      Seq((bands, shingleN, k, LshIndexFormat))
        .toDF("bands", "shingle_n", "k", "format")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  /** The bands layout's explicit read schema — pinned because a
    * band-partitioned EMPTY index (fresh init, or fully vacuumed) has
    * no data files to infer from. `ingest_id` reads NULL from files
    * written before the exactly-once path (or by legacy appends) —
    * null = committed-at-any-watermark. */
  private[graft] def bandsReadSchema(idCol: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("band_hash",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ingest_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType)))

  /** The sigs layout's explicit read schema, the twin of
    * [[bandsReadSchema]]: ids and signatures as every format-2 write
    * stores them, and `ingest_id` reading NULL from any file written
    * without the stamp (an index initialized before the exactly-once
    * path, or a legacy append) — null = committed-at-any-watermark,
    * so no footer needs inferring or merging to decide visibility. */
  private[graft] def sigsReadSchema(idCol: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("signature",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("ingest_id",
        org.apache.spark.sql.types.LongType)))

  /** `dir/sigs` read with [[sigsReadSchema]]. */
  private[graft] def sigsRead(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String): DataFrame =
    spark.read.schema(sigsReadSchema(idCol)).parquet(s"$dir/sigs")

  /** Persisted-LSH-index layout version. 2 = the r15+ layout (bands
    * PARTITIONED BY band, ids stored as long) plus the r16 tombstone
    * contract; a meta without the column reads as 1 (the unpartitioned
    * caller-typed-id layout) and every append/read fails with a
    * rebuild message rather than misreading the old triple. */
  val LshIndexFormat = 2

  /** Mark `ids` DELETED in a persisted LSH index — the curation-loop
    * primitive: a dropped document must stop matching as a near-dup
    * immediately, without rewriting a 100 TB index. Appends the ids to
    * `dir/tombstones` (one slim long column); every indexed read
    * ([[lshIncrementalIndexed]], [[lshIndexOrphans]]) anti-joins the
    * tombstones before use, and [[vacuumLshIndex]] folds them into a
    * physical rewrite when enough accumulate. Deleting an id that was
    * never indexed is a harmless no-op (the anti-join misses). The
    * tombstone set rides reads as a BROADCAST — vacuum before it
    * outgrows broadcast size (a rough bar: vacuum once deletes exceed
    * a few percent of the index, which also reclaims the scan). */
  def deleteFromLshIndex(ids: DataFrame, dir: String,
      idCol: String = "doc_id"): Unit =
    IngestCommit.appendTombstones(ids, lshStore(dir), idCol)

  /** Fold accumulated tombstones into a PHYSICAL rewrite — the
    * compaction half of the delete contract: rewrite `dir/bands`
    * (restoring the init-time range layout) and `dir/sigs` without
    * the deleted ids, then drop the tombstones it read. Bands swap FIRST
    * (a crash then leaves deleted ids sigs-only — invisible to
    * banding, which is the goal — with tombstones still present), and
    * the run goes through [[IngestCommit.maintain]], so re-running the
    * vacuum completes the job from every intermediate state. No-op
    * without tombstones. */
  def vacuumLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String = "doc_id"): Unit =
    IngestCommit.maintain(spark, lshStore(dir), "vacuumLshIndex", idCol) {
      tomb => if (tomb.nonEmpty) rewriteLshIndex(spark, dir, idCol, tomb)
    }

  /** COMPACT the index layout regardless of tombstones — the
    * append-heavy maintenance twin of [[vacuumLshIndex]] (which no-ops
    * without deletes): every [[writeLshIndex]] append adds batch-sized
    * files with only WITHIN-file band ordering, so a long-running
    * ingest accumulates small unsorted runs that erode the init-time
    * range layout (per-file band_hash runs are what keep banded reads
    * skipping). This rewrites bands+sigs through the same
    * crash-recoverable swap, restoring the range layout and folding
    * any pending tombstones along the way, then folds the commit log:
    * ingest creates one begin + one commit marker per batch, and every
    * batch is committed here, so the history collapses to the max
    * commit marker (the live lease survives — only markers fold). */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String = "doc_id"): Unit =
    IngestCommit.maintain(spark, lshStore(dir), "compactLshIndex", idCol) {
      tomb =>
        rewriteLshIndex(spark, dir, idCol, tomb)
        IngestCommit.compactIngestLog(spark, lshStore(dir).logDir)
    }

  private def rewriteLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String, tomb: Option[DataFrame]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def swapIn(sub: String)(write: String => Unit): Unit =
      IndexSwap.swapIn(conf, dir, sub)(write)
    // the rewrite FOLDS ingest stamps to NULL: every surviving row is
    // committed (the maintenance entry's in-flight guard), and a
    // null-stamped row is visible at any high-water-mark. The COLUMN
    // itself is kept, so every file of a rewritten store carries the
    // same schema every r18+ write does
    val nullStamp = lit(null).cast("long")
    val exBands = spark.read.schema(bandsReadSchema(idCol))
      .parquet(s"$dir/bands").withColumn("ingest_id", nullStamp)
    swapIn("bands") { tmp =>
      minusTombstones(exBands, tomb)
        .repartitionByRange(col("band"), col("band_hash"))
        .sortWithinPartitions("band", "band_hash")
        .write.partitionBy("band").parquet(tmp)
    }
    val exSigs = sigsRead(spark, dir, idCol)
      .withColumn("ingest_id", nullStamp)
    swapIn("sigs") { tmp =>
      minusTombstones(exSigs, tomb).write.parquet(tmp)
    }
  }

  /** Post-crash index reconciliation: (ids only in bands, ids only in
    * sigs, band rows above the per-id expectation) over the COMMITTED
    * view. A clean index reports (0, 0, 0); nonzero orphans mean an
    * append died between its two commits (see [[writeLshIndex]]'s
    * crash-retry contract) — bands-only ids are the safe orphan
    * (pairs die at the sig join) but still inflate bucket-cap counts,
    * so re-initialize or de-duplicate before resuming high-volume
    * ingest. Under a commit log (exactly-once ingest) the reads
    * filter to committed rows, exactly as serving does: a crashed
    * IN-FLIGHT batch's stamped rows are handled by the replay's
    * exceptAll recovery, not a rebuild, and reporting them as orphans
    * would send an operator to the wrong remedy. Cost: one
    * metadata-light aggregation over each layout. */
  def lshIndexOrphans(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String = "doc_id"): (Long, Long, Long) = {
    val (bands, _, _) = readLshMeta(spark, dir)
    val hwmOpt = IngestCommit.committedHwm(spark, lshStore(dir).logDir)
    def committed(df: DataFrame): DataFrame = hwmOpt.fold(df)(h =>
      df.filter(col("ingest_id").isNull || col("ingest_id") <= h))
    // tombstoned ids are LOGICALLY deleted — a crashed vacuum (bands
    // swapped, sigs not yet) must not read as sig-orphans; the ids
    // are gone either way
    val tomb = readTombstones(spark, lshStore(dir), idCol)
    val sigIds = minusTombstones(
        committed(sigsRead(spark, dir, idCol)), tomb)
      .select(col(idCol)).distinct()
    // schema-pinned like lshIncrementalIndexed's read: a vacuum that
    // deleted every row leaves dir/bands with no data files to infer
    // from, and reconciliation of an emptied index must still work
    val bandAgg = minusTombstones(
        committed(spark.read.schema(bandsReadSchema(idCol))
          .parquet(s"$dir/bands")), tomb)
      .groupBy(col(idCol).cast("long").as(idCol))
      .agg(count(lit(1)).as("__n"))
    val bandsOnly = bandAgg.join(sigIds, Seq(idCol), "left_anti").count()
    val sigsOnly = sigIds.join(bandAgg, Seq(idCol), "left_anti").count()
    val dupBandRows = bandAgg.filter(col("__n") =!= bands).count()
    (bandsOnly, sigsOnly, dupBandRows)
  }

  /** Memo for [[readLshMeta]]: the ingest loop validates the meta on
    * EVERY batch (twice — the incremental read and the append), and
    * each uncached read is a 1-row Spark job. A meta is immutable
    * once its k is learned (> 0), so it caches then; writers that
    * rewrite it ([[writeLshIndex]] init, the learn-k update)
    * invalidate. Keyed by dir, VALIDATED by the meta directory's
    * mtime on every hit (one driver-side getFileStatus, no Spark
    * job — r18 ADVICE): an index rebuilt by ANOTHER process, or a
    * read racing a writer between its two invalidations, would
    * otherwise pin stale bands/shingleN/k for the JVM's lifetime.
    * The mtime is sampled BEFORE the read, so a rewrite landing
    * mid-read leaves a cache entry whose stamp is already stale —
    * the next hit revalidates and re-reads (safe direction). */
  private val lshMetaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, (Int, Int, Int))]()
  private[llm] def invalidateLshMeta(dir: String): Unit = {
    lshMetaCache.remove(dir); ()
  }

  private def lshMetaMtime(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta")
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    catch { case _: java.io.IOException => -1L }
  }

  private[llm] def readLshMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Int, Int, Int) = {
    val mtime = lshMetaMtime(spark, dir)
    val cached = lshMetaCache.get(dir)
    if (cached != null && cached._1 == mtime && mtime >= 0)
      return cached._2
    val df = spark.read.parquet(s"$dir/meta")
    // layout/format guard, mirroring the bands/shingleN/k mismatch
    // guard: a meta WITHOUT the format column was written by the
    // pre-r15 layout (unpartitioned band triple, caller-typed ids) —
    // the partitioned long-id reader would misread or fail on it, so
    // reject with the remedy instead of guessing. ONE collect reads
    // format and triple together (this was two 1-row jobs).
    val hasFmt = df.columns.contains("format")
    val cols = if (hasFmt) Seq("bands", "shingle_n", "k", "format")
      else Seq("bands", "shingle_n", "k")
    val r = df.select(cols.map(col): _*).collect()(0)
    val fmt = if (hasFmt) r.getInt(3) else 1
    require(fmt == LshIndexFormat,
      s"LSH index at $dir has layout format $fmt; this build reads " +
        s"format $LshIndexFormat (bands partitioned by band, long ids, " +
        "tombstone deletes) — rebuild the index with writeLshIndex")
    val out = (r.getInt(0), r.getInt(1), r.getInt(2))
    if (out._3 > 0 && mtime >= 0) lshMetaCache.put(dir, (mtime, out))
    out
  }

  private[llm] def checkLshMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String, bands: Int, shingleN: Int, k: Int): Unit = {
    val (b0, s0, k0) = readLshMeta(spark, dir)
    require(b0 == bands && s0 == shingleN && (k0 == 0 || k == 0 || k0 == k),
      s"LSH index at $dir was built with (bands=$b0, shingleN=$s0, " +
        s"k=$k0) but this call uses (bands=$bands, shingleN=$shingleN, " +
        s"k=$k) — a mismatch would silently MISS near-dups")
  }

  /** [[lshIncremental]] against a PERSISTED pre-banded index (the
    * nightly 100 TB shape, fully storage-backed): the batch pays its
    * own signatures (checkpointed once) + one banded join of its
    * bands against the slim persisted triple — the index is never
    * re-signatured, re-banded, or materialized to executor storage.
    * Same survivor contract as [[lshIncrementalWithSignatures]]
    * (spec-pinned equal on the same inputs); callers absorb the
    * returned survivor signatures with
    * [[writeLshIndex]](…, mode = "append"). */
  def lshIncrementalIndexed(newBatch: DataFrame, indexDir: String,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.7,
      maxBucketSize: Int = Int.MaxValue): (DataFrame, DataFrame) =
    survivors(newBatch, lshIncrementalIndexedCore(newBatch, indexDir,
      idCol, textCol, shingleN, k, bands, threshold, maxBucketSize))

  /** [[lshIncrementalIndexed]] before the survivors are derived —
    * returns (the batch's checkpointed signature frame, the survivor
    * step, see [[incrementalLosers]]) so the exactly-once ingest loop
    * derives the corpus write, the bands append and the sigs append
    * from its materialized batch with one survivor step each (one pair
    * computation per batch instead of one per consumer).
    * When the index carries a commit log
    * (`indexDir/commits`, see [[IngestCommit]]), the index reads are
    * filtered to the COMMITTED view: rows stamped above the
    * high-water-mark — a crashed ingest attempt's partial append —
    * are invisible, which keeps the loser computation DETERMINISTIC
    * across foreachBatch replays. Without a log the view is the raw
    * store (legacy behavior, bit-identical plans). */
  private[llm] def lshIncrementalIndexedCore(newBatch: DataFrame,
      indexDir: String, idCol: String, textCol: String, shingleN: Int,
      k: Int, bands: Int, threshold: Double,
      maxBucketSize: Int): (DataFrame, DataFrame => DataFrame) = {
    val spark = newBatch.sparkSession
    checkLshMeta(spark, indexDir, bands, shingleN, k)
    val hwmOpt = IngestCommit.committedHwm(spark,
      lshStore(indexDir).logDir)
    // tombstoned ids (deleteFromLshIndex) leave both layouts logically
    // BEFORE the fold — a deleted doc must neither band-match nor
    // est-jaccard-join, exactly as if vacuumed
    val tomb = readTombstones(spark, lshStore(indexDir), idCol)
    def visible(df: DataFrame): DataFrame = minusTombstones(hwmOpt.fold(df)(
      h => df.filter(col("ingest_id").isNull || col("ingest_id") <= h)), tomb)
    // both layouts read with pinned schemas: no footer-inference job
    // per batch, and a sigs file without the stamp (written before the
    // exactly-once path) reads NULL = committed
    incrementalMinHash(newBatch, visible(sigsRead(spark, indexDir, idCol)),
      visible(spark.read.schema(bandsReadSchema(idCol))
        .parquet(s"$indexDir/bands")),
      idCol, textCol, shingleN, k, bands, threshold, maxBucketSize)
  }

  /** The slim (idCol, band, band_hash) frame the banded joins consume
    * — also the PERSISTED layout of [[writeLshIndex]] (3 longs per
    * row; storing it pre-banded spares every later ingest the split +
    * hash recompute over the whole index). */
  private[llm] def bandFrame(signatures: DataFrame, idCol: String,
      bands: Int): DataFrame =
    signatures.select(col(idCol),
      posexplode(split_band(col("signature"), bands)))
      .withColumnRenamed("pos", "band")
      .withColumn("band_hash", xxhash64(col("col").cast("string")))
      .drop("col")

  /** Banded candidate pairs for the INCREMENTAL path, over side-folded
    * ids: the new-side rows (`bandedNew`, the odd-id subset of the id
    * space `bandedAll` covers) join against ALL rows on the bucket
    * `key` columns — never old × old. Returns (id_a, id_b) pairs,
    * id_a < id_b, plus each other column `c` of the banded rows from
    * both ends as `c_n` (the new end) and `c_o` (the other end); each
    * tier then applies its own similarity test (estimated Jaccard over
    * re-attached signatures for MinHash, whose slim bands carry none;
    * Hamming distance between `simhash_n` and `simhash_o` for
    * SimHash).
    * An old-old pair is provably irrelevant to incremental
    * survivorship: a batch doc dies the moment it (or a
    * new-new-connected peer) touches ANY existing doc, so which old
    * docs interconnect beyond that cannot change any verdict, and
    * components that elect a min-new survivor contain no old doc at
    * all. At 100 TB this is THE incremental win — per-batch join work
    * scales with batch × bucket occupancy, not (index + batch)².
    * Bucket-size caps count over bandedAll (old + new together,
    * matching the one-shot generators). The dedup on (id_a, id_b)
    * stays: a pair colliding in several bands surfaces once per band,
    * under a cap a dropped bucket can hide its first colliding band,
    * and a new-new pair is found from both ends (its `c_n` and `c_o`
    * swapped; one row is kept, either order). */
  private def asymPairsFromBands(bandedAll: DataFrame,
      bandedNew: DataFrame, idCol: String, key: Seq[String],
      maxBucketSize: Int): DataFrame = {
    val cap = bucketCap(bandedAll, key, maxBucketSize)
    val carried = bandedNew.columns.filterNot((idCol +: key).contains).toSeq
    def side(df: DataFrame, s: String) = cap(df).select(col(idCol).as(s"__$s")
      +: key.map(col) ++: carried.map(c => col(c).as(s"${c}_$s")): _*)
    side(bandedNew, "n").join(side(bandedAll, "o"), key)
      .filter(col("__n") =!= col("__o"))
      .select(least(col("__n"), col("__o")).as("id_a") +:
        greatest(col("__n"), col("__o")).as("id_b") +:
        carried.flatMap(c => Seq(col(s"${c}_n"), col(s"${c}_o"))): _*)
      .dropDuplicates("id_a", "id_b")
  }

  /** The hot-key cap of every bucketed pair generator (LSH and SimHash
    * band buckets, shingle and n-gram document frequencies): a function
    * that keeps only the rows whose bucket (`key`) holds at most
    * `maxBucketSize` rows of `all` — one map-side-combined count per
    * bucket plus a semi-join on the slim keyed frame. The identity when
    * uncapped, so the uncapped plans carry no count at all. */
  private def bucketCap(all: DataFrame, key: Seq[String],
      maxBucketSize: Int): DataFrame => DataFrame =
    if (maxBucketSize == Int.MaxValue) identity
    else {
      val keep = all.groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= maxBucketSize)
        .select(key.map(col): _*)
      _.join(keep, key, "left_semi")
    }

  // ----- Side-bit id fold -------------------------------------------
  // The incremental tiers (existing index vs new batch) and the
  // cross-corpus pass (corpus vs probes) band both sides in ONE id
  // space by folding the side into the id's low bit: old/corpus = 2·id,
  // new/probe = 2·id + 1. The bucket shuffle then still carries one
  // long per id; the side decodes with `& 1`, the id with `>> 1`. Ids
  // must therefore be non-negative and < 2^62.
  private def foldOld(id: Column): Column = id.cast("long") * 2
  private def foldNew(id: Column): Column = id.cast("long") * 2 + 1
  private def sideBit(id: Column): Column = id.bitwiseAND(1)
  private def isNew(id: Column): Column = sideBit(id) === 1
  private def unfold(id: Column): Column = shiftright(id, 1)
  private def isNewId(id: Long): Boolean = (id & 1L) == 1L
  private def unfoldId(id: Long): Long = id >> 1

  /** Driver union-find with union by minimum root over `edges`: every
    * endpoint mapped to its component's minimum id — the `cluster`
    * label [[connectedComponents]] assigns. */
  private def minRootComponents(edges: Iterator[(Long, Long)])
      : Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(m => m -> find(m)).toMap
  }

  /** The survivor step of the incremental near-dup tiers
    * ([[incrementalNearDup]]): given candidate pairs over side-folded
    * ids (see the fold above), the batch ids that do NOT survive are
    * those whose component touches an existing document, and those
    * that are not their component's minimum NEW id. Returns the step
    * every survivor frame goes through — the batch, its checkpointed
    * signatures or hashes — keyed on plain ids in `idCol`:
    *   - below the 65,536-pair cap the pairs are collected and the
    *     losers resolved on the driver; the step is the filter
    *     `idCol IS NULL OR idCol NOT IN (losers)`, the losers one
    *     `InSet` ([[Bridge.isInSet]]), or the identity when nothing
    *     loses. It plans no join and submits no job of its own;
    *   - past the cap the step is an anti-join against the persisted
    *     loser frame (registered with `DistScan`'s release queue).
    * Either way a NULL-id row matches no loser and passes.
    *
    * Components run on the NEW-NEW subgraph only — equivalent to the
    * full graph because an existing doc is reachable from a new doc
    * only over a new-old edge (no old-old pairs matter, see
    * [[asymPairsFromBands]], which emits none): any component member
    * with an old neighbor damns its whole new-new component, and a
    * component with no old contact is purely new, where the min-new
    * doc IS the component label. */
  private def incrementalLosers(pairs: DataFrame,
      idCol: String): DataFrame => DataFrame = {
    // FULL driver fast path (r18 — the ingest witness's per-batch cost
    // is fixed job overhead, not data): a micro-batch's post-threshold
    // pair graph is usually tiny, so ONE bounded collect resolves
    // new-new components, old-touched ids, and the loser set entirely
    // on the driver — no pair checkpoint, no component jobs, no loser
    // persist — and the losers ride in the filter as one InSet
    // (bounded: at most two ids per collected pair; an In-list of
    // literals would cost planning time per loser, Bridge.isInSet).
    // Semantics identical to the distributed body below (union-by-min
    // root = connectedComponents' cluster pick; same three loser
    // classes); one row past the cap falls back, so scale is safe.
    val cap = 65536
    val head = pairs.select(col("id_a").cast("long"),
      col("id_b").cast("long")).limit(cap + 1).collect()
    if (head.length <= cap) {
      val edges = head.map(r => (r.getLong(0), r.getLong(1)))
      val oldTouched = edges.iterator
        .collect { case (a, b) if isNewId(a) != isNewId(b) =>
          if (isNewId(a)) a else b }
        .toSet
      val roots = minRootComponents(edges.iterator // new-new edges only
        .filter { case (a, b) => isNewId(a) && isNewId(b) })
      val badRoots = oldTouched.iterator.flatMap(roots.get).toSet
      val losers = (roots.iterator
        .collect { case (m, r) if badRoots.contains(r) || m != r => m } ++
        oldTouched.iterator.filterNot(roots.contains))
        .map(unfoldId).toSet
      return if (losers.isEmpty) identity
        else _.filter(col(idCol).isNull ||
          !Bridge.isInSet(col(idCol).cast("long"), losers.toSet[Any]))
    }
    // pairs feed THREE consumers (new-new edges into components,
    // old-touched extraction, and — through losers — every downstream
    // action on the survivor frame): an eager localCheckpoint runs the
    // banded join once AND truncates its plan, so the loser frame's
    // 3-way union does not embed three copies of the join tree for
    // Catalyst to re-analyze on every action (the
    // lshIncrementalWithSignatures rationale; post-threshold pair sets
    // are small — the dedup savings, not the corpus)
    val p = pairs.localCheckpoint(true)
    val newNew = p.filter(isNew(col("id_a")) && isNew(col("id_b")))
    // new ids with at least one existing neighbor
    val oldTouched = p
      .filter(sideBit(col("id_a")) =!= sideBit(col("id_b")))
      .select(when(isNew(col("id_a")), col("id_a"))
        .otherwise(col("id_b")).as("id"))
      .distinct()
    // a micro-batch's pair graph is usually tiny: take the bounded
    // union-find fast path below 64k pairs, distributed loop above
    val comps = connectedComponents(newNew, "id_a", "id_b",
      collectBelow = 65536)
    // components with any old-touched member die whole
    val compBad = comps.join(oldTouched, Seq("id"), "left_semi")
      .select("cluster").distinct()
    val losers = graft.operators.DistScan.registerCache(
      comps.join(compBad, Seq("cluster"), "left_semi")
        .select(col("id"))
        .unionByName(comps.filter(col("id") =!= col("cluster"))
          .select(col("id")))
        .unionByName(oldTouched.join(comps, Seq("id"), "left_anti")
          .select(col("id")))
        .distinct()
        .select(unfold(col("id")).as(idCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    _.join(losers, Seq(idCol), "left_anti")
  }

  /** INCREMENTAL SimHash near-dup dedup — the banded-Hamming twin of
    * [[lshIncremental]]: the persisted per-document 64-bit simhash
    * index (`existingHashes`: (idCol, simhash), i.e. [[simHash]]
    * output read back from storage) is banded against the new batch's
    * hashes — 8 bytes per existing doc on the wire, the cheapest of
    * the three incremental indexes. Survivorship is the same one-shot
    * replay over old ∪ new: a batch doc survives iff its component
    * over the ≤ maxHamming candidate graph touches no existing doc
    * and it is the minimum-id new doc of its component. It runs the
    * MinHash tiers' core ([[incrementalNearDup]]): pairs are new-vs-all
    * only, so a batch costs its own hashes plus one banded join of
    * its chunks against the index, never the index's old × old pairs.
    * Callers union the survivors' hashes into the index for the next
    * ingest. The side bit is folded into the id (see the side-bit
    * fold's id contract). */
  def simHashIncremental(newBatch: DataFrame, existingHashes: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3,
      bands: Int = 4, maxBucketSize: Int = Int.MaxValue): DataFrame =
    incrementalSimHash(newBatch, existingHashes, idCol, textCol,
      maxHamming, bands, maxBucketSize)._2(newBatch)

  /** [[simHashIncremental]] before the survivors are derived: (the
    * batch's checkpointed (idCol, simhash) frame over its non-NULL ids,
    * the survivor step), so the exactly-once ingest derives its corpus
    * partition and its hash append from one evaluation of the batch. */
  private[llm] def incrementalSimHash(newBatch: DataFrame,
      existingHashes: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bands: Int,
      maxBucketSize: Int): (DataFrame, DataFrame => DataFrame) =
    incrementalNearDup(simHash(newBatch.filter(col(idCol).isNotNull),
        idCol, textCol), existingHashes,
      simHashBands(existingHashes, idCol, bands),
      simHashBands(_, idCol, bands), Seq("band", "chunk"), idCol,
      maxBucketSize) { (pairs, _) =>
      pairs.filter(hammingDistance(col("simhash_n"), col("simhash_o"))
        <= maxHamming).select("id_a", "id_b")
    }

  // ----- SimHash STORE lifecycle (r19) ------------------------------
  // The persisted per-document simhash store (written by
  // IngestCommit.simHashIngestBatch) gains the delete/compaction tier
  // its LSH and IVF-PQ siblings have had since r16: tombstone deletes
  // that take effect immediately on the matching view, and a
  // crash-recoverable compaction that folds tombstones + ingest
  // stamps + the commit log. Data files live under `dir/hashes` so
  // the proven IndexSwap rename protocol applies; r18 stores wrote
  // them at the store ROOT and are migrated on first touch (renames
  // only — idempotent, resumable).

  private[llm] def simHashDataDir(dir: String): String = s"$dir/hashes"

  /** Pinned store schema: a fully-compacted-empty store has no data
    * files to infer from, and `ingest_id` must read NULL from any
    * pre-stamp file. */
  private[graft] def simHashReadSchema(idCol: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("simhash",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ingest_id",
        org.apache.spark.sql.types.LongType)))

  /** One-time layout migration: move root-level hash part files (the
    * r18 layout) under `dir/hashes`. Rename-only metadata ops,
    * idempotent and crash-resumable (each file is either moved or
    * not; every reader/writer migrates before touching the store). */
  private[llm] def migrateSimHashLayout(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val strays = fs.listStatus(root).filter(f =>
      f.isFile && f.getPath.getName.startsWith("part-"))
    if (strays.isEmpty) return
    val data = new org.apache.hadoop.fs.Path(simHashDataDir(dir))
    fs.mkdirs(data)
    strays.foreach { f =>
      require(fs.rename(f.getPath,
        new org.apache.hadoop.fs.Path(data, f.getPath.getName)),
        s"simhash layout migration: rename ${f.getPath} failed")
    }
  }

  /** Mark `ids` DELETED in a persisted SimHash store — the same
    * curation primitive as [[deleteFromLshIndex]]: a dropped document
    * must stop matching as a near-dup immediately, without rewriting
    * the store. Ids append to `dir/tombstones`; [[committedSimHashes]]
    * (and through it the ingest wrapper's matching view) anti-joins
    * them out, and [[compactSimHashStore]] folds them physically.
    * Deleting an unindexed id is a harmless no-op. */
  def deleteFromSimHashStore(ids: DataFrame, dir: String,
      idCol: String = "doc_id"): Unit =
    IngestCommit.appendTombstones(ids, simHashStore(dir), idCol)

  /** The COMMITTED, tombstone-filtered matching view of a SimHash
    * store — (idCol, simhash), exactly the frame the exactly-once
    * ingest wrapper consults, public for standalone
    * [[simHashIncremental]] callers. Missing/empty stores read as
    * empty (a store is created by its first ingest batch). */
  def committedSimHashes(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String = "doc_id"): DataFrame = {
    migrateSimHashLayout(spark, dir)
    val data = simHashDataDir(dir)
    val p = new org.apache.hadoop.fs.Path(data)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val raw =
      if (fs.exists(p))
        spark.read.schema(simHashReadSchema(idCol)).parquet(data)
      else spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        simHashReadSchema(idCol))
    val hwmOpt = IngestCommit.committedHwm(spark, simHashStore(dir).logDir)
    val committed = hwmOpt.fold(raw)(h =>
      raw.filter(col("ingest_id").isNull || col("ingest_id") <= h))
    minusTombstones(committed,
      readTombstones(spark, simHashStore(dir), idCol))
      .select(col(idCol), col("simhash"))
  }

  /** COMPACT the SimHash store: fold tombstones into a physical
    * rewrite, fold ingest stamps to NULL (every surviving row is
    * committed — the maintenance entry's in-flight guard), coalesce
    * the one-file-per-batch append history, and fold the commit log to
    * its single max marker. One op covers both the vacuum and the
    * small-files roles its LSH/IVF-PQ siblings split — at 8 bytes of
    * hash per document the rewrite is always cheap. Runs through
    * [[IngestCommit.maintain]] like the siblings. */
  def compactSimHashStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String = "doc_id"): Unit =
    IngestCommit.maintain(spark, simHashStore(dir),
        "compactSimHashStore", idCol) { tomb =>
      val conf = spark.sparkContext.hadoopConfiguration
      migrateSimHashLayout(spark, dir)
      val data = simHashDataDir(dir)
      val dataP = new org.apache.hadoop.fs.Path(data)
      if (dataP.getFileSystem(conf).exists(dataP)) {
        val ex = spark.read.schema(simHashReadSchema(idCol)).parquet(data)
          .withColumn("ingest_id", lit(null).cast("long"))
        IndexSwap.swapIn(conf, dir, "hashes") { tmp =>
          // no coalesce(1): 8 bytes/doc is still terabytes at 10^12
          // docs — the rewrite folds per-batch files into
          // shuffle-partition-count files, which is the same story
          // the LSH sigs rewrite tells
          minusTombstones(ex, tomb).write.parquet(tmp)
        }
      }
      IngestCommit.compactIngestLog(spark, simHashStore(dir).logDir)
    }

  /** CROSS-corpus near-duplicate detection — eval/benchmark
    * decontamination at the near-dup tier. [[contaminationScore]]
    * measures n-gram overlap; this catches template/paraphrase clones
    * whose shingle overlap is diluted but whose MinHash signatures
    * still agree. Returns (corpus_id, probe_id, est_jaccard) for cross
    * pairs only — corpus-internal near-dups (the job of the plain LSH
    * pass) never inflate the decontamination set, and probe-internal
    * pairs are the probe owner's problem.
    *
    * Scale shape: identical to [[lshCandidatePairs]] (the union rides
    * the same banded bucket join — bucket-bounded, cappable); the side
    * tag is one bit folded into the id (see the side-bit fold's id
    * contract), decoded after pairing, so the bucket shuffle still
    * carries 3 longs per row. */
  def crossCorpusNearDups(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.7,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val c = corpus.select(foldOld(col(idCol)).as(idCol), col(textCol))
    val p = probes.select(foldNew(col(idCol)).as(idCol), col(textCol))
    val sigs = minHashSignatures(c.unionByName(p), idCol, textCol,
      shingleN, k)
    lshCandidatePairs(sigs, idCol, bands, threshold, maxBucketSize)
      .filter(sideBit(col("id_a")) =!= sideBit(col("id_b")))
      .select(
        unfold(when(sideBit(col("id_a")) === 0, col("id_a"))
          .otherwise(col("id_b"))).as("corpus_id"),
        unfold(when(isNew(col("id_a")), col("id_a"))
          .otherwise(col("id_b"))).as("probe_id"),
        col("est_jaccard"))
  }

  /** Split a signature array into `bands` contiguous slices. */
  private def split_band(sig: Column, bands: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => slice(sig, j * (size(sig) / bands) + 1, size(sig) / bands))

  /** Exact word-level Jaccard for verified near-dup pairs, computed the
    * scalable way: explode distinct shingles, join on shingle, count
    * intersections — never a quadratic cross join.
    * Returns (id_a, id_b, jaccard) for pairs with ≥1 common shingle.
    *
    * `maxShingleDocs` caps the DOCUMENT FREQUENCY a shingle may have
    * and still participate in pairing: the shingle-key join emits
    * b·(b−1)/2 pairs for a shingle shared by b documents, so ONE
    * boilerplate shingle ("all rights reserved …") shared by 10⁶ docs
    * would emit 5·10¹¹ pairs — the same hot-bucket pathology
    * [[lshCandidatePairs]]' maxBucketSize exists to cap, and the cap
    * is the same pattern: one map-side-combined document-frequency
    * count plus a semi-join on the slim (id, shingle) frame. Shingles
    * above the ceiling are dropped from BOTH the intersection count
    * and the per-document sizes, so the returned value is the exact
    * Jaccard over the ≤-cap shingle universe (consistent numerator
    * and denominator — the stopword-removal convention); a ubiquitous
    * shingle carries ~no similarity signal, so near-dup decisions are
    * unaffected while the pair count stays bounded by
    * maxShingleDocs²/2 per distinct shingle. The default keeps every
    * shingle (exact classic Jaccard — gate behavior); 100 TB runs
    * should set it to O(1000). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxShingleDocs: Int = Int.MaxValue): DataFrame = {
    val shAll = explodedShingles(df, idCol, textCol, shingleN)
      .select(col(idCol).as("id"), col("__sh").as("sh"))
    // shingles are per-document distinct (shinglesFromWords
    // array_distincts), so the per-shingle row count IS its document
    // frequency; the count shuffles (sh, cnt) pairs only
    val sh = bucketCap(shAll, Seq("sh"), maxShingleDocs)(shAll)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val common = sh.select(col("id").as("id_a"), col("sh"))
      .join(sh.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common"))).as("jaccard"))
  }

  /** Near-CONTAINMENT pairs: |A∩B| / |A| and |A∩B| / |B| over distinct
    * word shingles — the excerpt/quote detector Jaccard misses (a 10%
    * excerpt of a long document has tiny Jaccard but containment ≈ 1
    * in one direction; pipelines drop or link such pairs rather than
    * treating them as distinct content). Same scalable shape as
    * [[jaccardPairs]]: explode distinct shingles, join on the shingle
    * key, count intersections — never an all-pairs cross join — with
    * the same `maxShingleDocs` document-frequency cap on hot
    * boilerplate shingles (dropped from numerator AND denominators,
    * the consistent filtered-universe convention). Returns (id_a,
    * id_b, cont_a_in_b, cont_b_in_a) for pairs with ≥1 common
    * surviving shingle, id_a < id_b. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxShingleDocs: Int = Int.MaxValue): DataFrame = {
    val shAll = explodedShingles(df, idCol, textCol, shingleN)
      .select(col(idCol).as("id"), col("__sh").as("sh"))
    val sh = bucketCap(shAll, Seq("sh"), maxShingleDocs)(shAll)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val common = sh.select(col("id").as("id_a"), col("sh"))
      .join(sh.select(col("id").as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / col("n_a")).as("cont_a_in_b"),
        (col("common").cast("double") / col("n_b")).as("cont_b_in_a"))
  }

  /** Benchmark decontamination: fraction of each corpus document's
    * distinct word n-grams that appear ANYWHERE in the benchmark set
    * (the standard eval-leakage check before training). The benchmark
    * shingle set is distinct-collapsed and — when the caller asserts it
    * fits (`broadcastBench`, the usual case: eval suites are MBs, the
    * corpus is TBs) — broadcast; pass `broadcastBench = false` for a
    * large benchmark set to fall back to a shuffle join sized by AQE
    * instead of OOMing the driver. The corpus is scanned once, never
    * self-joined; matched counts come from one semi-join-shaped
    * aggregation on the shingle key. */
  def contaminationScore(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int,
      broadcastBench: Boolean = true): DataFrame = {
    val corpusSh = explodedShingles(corpus, idCol, textCol, n)
      .select(col(idCol), col("__sh"))
    val benchShRaw = explodedShingles(benchmark, idCol, textCol, n)
      .select(col("__sh")).distinct()
    val benchSh = if (broadcastBench) broadcast(benchShRaw) else benchShRaw
    val totals = corpusSh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val matched = corpusSh.join(benchSh, Seq("__sh"))
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    totals.join(matched, Seq(idCol), "left")
      .select(col(idCol), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_sh"))
          .as("contamination"))
  }

  /** Connected components over an undirected near-dup pair list —
    * dedup pipelines keep one document per CLUSTER, not per pair, so
    * the pair graph must be collapsed. Distributed min-label
    * propagation: every node starts as its own label; each round a node
    * takes the minimum label among itself and its direct neighbors (one
    * join + one hash agg), converging in O(graph diameter) rounds —
    * near-dup clusters are shallow (clones of one source), so a handful
    * of rounds suffice at any corpus size. The per-round driver work is
    * a single count (convergence check).
    * `checkpointEvery` > 0 truncates label lineage with an eager
    * `localCheckpoint` every that-many rounds: each round otherwise
    * stacks two joins and an aggregate onto the label plan, and at
    * 100 TB the re-planning / task-serialization cost of a
    * dozen-round-deep lineage dominates — checkpointing bounds it.
    * TRADE-OFF (not free): localCheckpoint DISCARDS lineage, so a lost
    * executor makes its checkpointed partitions unrecoverable and FAILS
    * the job — it buys planning/serialization speed at the cost of
    * fault tolerance. On a long cluster run where executor loss is
    * routine, set `reliable = true` (requires
    * `sparkContext.setCheckpointDir` on shared storage): generations
    * then checkpoint through `Dataset.checkpoint` — HDFS/object-store
    * backed, recoverable across executor loss — at the price of a
    * write+read of the (small: id, cluster, flag) label frame per
    * checkpoint round. Labels are identical under no/local/reliable
    * checkpointing (spec'd in LlmSpec).
    * Returns (id, cluster) with cluster = min id in the component. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, checkpointEvery: Int = 0,
      reliable: Boolean = false, collectBelow: Int = 0): DataFrame = {
    require(!reliable || checkpointEvery > 0,
      "reliable checkpointing needs checkpointEvery > 0")
    // Small-graph fast path (opt-in): a micro-batch maintenance loop's
    // pair graph is usually tiny (pairs are the dedup savings, not the
    // corpus) while the distributed label loop costs ~a dozen
    // scheduler-bound jobs regardless of size. With collectBelow > 0,
    // up to that many pairs are collected (bounded by construction:
    // limit(cap+1), ≤ ~16 B/row) and resolved with driver union-find —
    // identical labels (cluster = min id) by the union-by-min-root
    // invariant. One row past the cap falls back to the distributed
    // loop, so enabling this can never break at scale — it only
    // removes fixed overhead when the graph is small.
    if (collectBelow > 0) {
      val rows = pairs
        .select(col(aCol).cast("long"), col(bCol).cast("long"))
        .limit(collectBelow + 1).collect() // bounded: ≤ collectBelow+1
      if (rows.length <= collectBelow) {
        val spark = pairs.sparkSession
        import spark.implicits._
        return minRootComponents(
            rows.iterator.map(r => (r.getLong(0), r.getLong(1))))
          .toSeq.sorted.toDF("id", "cluster")
      }
    }
    if (reliable)
      require(pairs.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable = true requires sparkContext.setCheckpointDir on " +
          "shared storage (HDFS/object store) reachable from every executor")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist(lvl)
    // `cached` tracks the EXACT persisted plan of the current label
    // generation — unpersisting a derived projection would not release
    // the underlying cache entry. The final generation backs the
    // returned plan, so it registers with the application's
    // step-boundary release hook instead (the r6 minhash cache-leak
    // lesson); every intermediate generation is released in-loop.
    var cached = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).withColumn("__chg", lit(false))
      .persist(lvl)
    var i = 0
    var changed = 1L
    while (changed > 0 && i < maxIter) {
      val labels = cached.drop("__chg")
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("c")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("c")).as("nbr_min"))
      val step = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"),
          (coalesce(col("nbr_min"), col("cluster")) < col("cluster")).as("__chg"))
      // An eager localCheckpoint both materializes and caches, so it
      // replaces the persist for checkpoint rounds; the truncated plan
      // frees the two-joins-per-round lineage stack. NOTE: unpersist()
      // on a checkpointed generation is a no-op (checkpoint RDD blocks
      // are not in the Dataset cache manager) — their blocks are freed
      // when the RDD is GC'd via the ContextCleaner, so generations are
      // not pinned forever, just released lazily rather than eagerly.
      val next =
        if (checkpointEvery > 0 && (i + 1) % checkpointEvery == 0)
          (if (reliable) step.checkpoint(true) else step.localCheckpoint(true))
        else step.persist(lvl)
      changed = next.filter(col("__chg")).count()
      cached.unpersist()
      cached = next
      i += 1
    }
    edges.unpersist()
    if (changed > 0) {
      // Exiting with changed > 0 means labels were still moving: the
      // component diameter exceeds maxIter and the clusters are WRONG
      // (split). Fail loudly rather than hand back silently-bad labels.
      cached.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter rounds " +
          s"($changed labels still changing): a component's diameter " +
          "exceeds maxIter — raise maxIter (near-dup graphs are shallow; " +
          "a deep chain usually signals a pathological pair list)")
    }
    graft.operators.DistScan.registerCache(cached)
    cached.drop("__chg")
  }

  /** Apply near-dup clusters to a corpus — the FINAL step of the dedup
    * pipeline (candidate pairs → [[connectedComponents]] → this): keep
    * each cluster's representative (the min-id member — exactly the
    * `cluster` label connectedComponents assigns), drop every other
    * member, and pass documents that are in no cluster through
    * untouched. `clusters` is the (id, cluster) frame from
    * connectedComponents.
    *
    * Scale shape: one anti-join keyed by unique ids (no skew). The
    * loser side is the corpus's dedup savings — typically a small
    * fraction — so AQE broadcasts it when it fits and falls back to a
    * shuffle join when a heavily-duplicated corpus makes it large;
    * both plans are correct, neither is all-pairs. */
  def applyClusters(corpus: DataFrame, clusters: DataFrame,
      idCol: String): DataFrame = {
    val losers = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Corpus snapshot diff — the data-versioning audit an incremental
    * 100 TB pipeline runs on every ingest: classify every document id
    * across two corpus versions as `added` (new only), `removed` (old
    * only), `changed` (in both with a different normalized-content
    * [[fingerprint]]), or `unchanged`. One full-outer shuffle join
    * keyed by unique document ids (no skew by construction); the
    * content comparison rides the 16-byte fingerprint so 10 KB texts
    * never cross the wire twice. In steady state the old side is the
    * persisted fingerprint index — the same artifact
    * [[dedupIncremental]] keeps — so the diff costs one scan of each
    * side. Returns (idCol, status), total over both versions' ids. */
  def corpusDiff(oldV: DataFrame, newV: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldV.select(col(idCol).as("__oid"),
      fingerprint(col(textCol)).as("__ofp"))
    val n = newV.select(col(idCol).as("__nid"),
      fingerprint(col(textCol)).as("__nfp"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__nid"), col("__oid")).as(idCol),
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("__ofp") <=> col("__nfp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** 64-bit SimHash over word tokens: per bit, the sign of the sum of
    * ±1 votes from each token hash. One explode + one hash-agg. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(split(normalize(col(textCol)), " ")).as("__t"))
      .withColumn("__h", xxhash64(col("__t")))
    val votes = (0 until 64).map { i =>
      sum(shiftright(col("__h"), i).bitwiseAND(1) * 2 - 1).as(s"__b$i")
    }
    val agg = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val hash = (0 until 64).map { i =>
      when(col(s"__b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col(idCol), hash.as("simhash"))
  }

  /** Hamming distance between two simhashes (near-dup test ≤ r bits). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs, banded like MinHash LSH: the
    * 64-bit simhash splits into `bands` contiguous chunks, docs bucket
    * on (chunk index, chunk value), pairs join INSIDE buckets only —
    * never all-pairs — then exact Hamming distance filters to
    * ≤ maxHamming. Pigeonhole guarantee: a pair within Hamming distance
    * ≤ bands − 1 differs in at most bands − 1 chunks, so at least one
    * chunk matches and the pair is found; recall is exact for
    * maxHamming ≤ bands − 1 (the usual configuration, e.g. 4 bands /
    * ≤ 3 bits) and partial beyond. `maxBucketSize` caps hot chunk
    * buckets exactly as in [[lshCandidatePairs]] (a common 16-bit
    * chunk value across a boilerplate corpus is the same quadratic
    * pathology). Returns (id_a, id_b, hamming). */
  def simHashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bandedAll = simHashBands(simHash(df, idCol, textCol), idCol, bands)
    val banded =
      bucketCap(bandedAll, Seq("band", "chunk"), maxBucketSize)(bandedAll)
    def side(s: String) = banded.select(col(idCol).as(s"id_$s"),
      col("simhash").as(s"h_$s"), col("band"), col("chunk"))
    side("a").join(side("b"), Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("h_a"), col("h_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** An (idCol, simhash) frame banded for bucketing — one row per
    * (document, band): (idCol, simhash, band, chunk), the chunk being
    * the band's 64/`bands` contiguous bits. The one banding of the
    * one-shot ([[simHashNearDupPairs]]) and the incremental
    * ([[simHashIncremental]]) SimHash tiers. */
  private def simHashBands(sh: DataFrame, idCol: String,
      bands: Int): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64: $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunks = array((0 until bands).map(i =>
      shiftrightunsigned(col("simhash"), i * width).bitwiseAND(lit(mask))): _*)
    sh.select(col(idCol), col("simhash"),
      posexplode(chunks).as(Seq("band", "chunk")))
  }

  /** Exact substring-span deduplication: remove every token covered by
    * a `w`-token window whose content occurs in ≥ `minDocs` DISTINCT
    * documents (the "remove repeated 50-token substrings" tier of
    * published training-data pipelines — Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * approximated there with suffix arrays; here the fixed-window
    * formulation distributes). Within-document repeats alone do NOT
    * trigger removal (distinct-doc count), matching the cross-document
    * semantics. Operates on the NORMALIZED token stream and returns
    * (idCol, cleanCol) with the surviving tokens rejoined — the same
    * convention as the reference pipelines, which dedup post-
    * normalization.
    *
    * Scale shape: one window-hash explode (n_tokens rows per doc — the
    * shingling cost, map-side-combined into the frequency agg); the
    * duplicated-window set joins back doc-keyed, and coverage is
    * row-local HOF arithmetic: sort the duplicated window starts, merge
    * them into covered runs with a shifted-neighbor zip (runs break
    * where consecutive starts are > w apart), and reassemble the
    * surviving text by slicing the gaps BETWEEN runs — O(tokens +
    * dups·log dups) per doc with no per-position membership scan, so a
    * pathological fully-duplicated mega-doc (dups ≈ tokens, one merged
    * run) costs the same as a clean one. Documents
    * shorter than `w` tokens pass through untouched; a document whose
    * every token is covered yields an empty string (kept, unlike
    * [[TextSearchOps.removeBoilerplateLines]] which drops all-boiler
    * docs — span removal is token-level, not document-level).
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      w: Int, minDocs: Long = 2, cleanCol: String = "clean"): DataFrame = {
    require(w >= 1, s"window must be >= 1 token: $w")
    val base = docs.select(col(idCol),
      split(normalize(col(textCol)), " ").as("__toks"))
    // one row per window position: (id, q, hash of tokens q..q+w-1)
    val wins = base.filter(size(col("__toks")) >= w)
      .select(col(idCol), explode(
        transform(sequence(lit(1), size(col("__toks")) - (w - 1)),
          q => struct(q.as("q"),
            xxhash64(array_join(slice(col("__toks"), q, lit(w)), " ")).as("h"))))
        .as("__win"))
      .select(col(idCol), col("__win.q").as("q"), col("__win.h").as("h"))
    val dupHashes = wins.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("h")
    val dupStarts = wins.join(dupHashes, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("q")).as("__dups"))
    // Linear-sweep reassembly. Window starts are distinct per doc, so
    // after sorting, covered runs [q, q+w-1] merge exactly where
    // consecutive starts are <= w apart; run boundaries fall out of a
    // zip against the left/right-shifted sorted array (no aggregate
    // accumulator, no per-position exists). Surviving text is the
    // concatenation of the gaps between runs, each a single slice.
    val toks = col("__toks")
    val sorted = array_sort(coalesce(col("__dups"), array().cast("array<int>")))
    val k = size(sorted)
    val shiftLen = greatest(k - 1, lit(0))
    val nullInt = array(lit(null).cast("int"))
    val prevS = concat(nullInt, slice(sorted, lit(1), shiftLen))
    val nextS = concat(slice(sorted, lit(2), shiftLen), nullInt)
    // run starts: no predecessor within w; run ends: no successor within w
    val runStarts = filter(
      zip_with(sorted, prevS, (cur, prev) =>
        when(prev.isNull || cur - prev > w, cur)),
      x => x.isNotNull)
    val runEnds = filter(
      zip_with(sorted, nextS, (cur, nxt) =>
        when(nxt.isNull || nxt - cur > w, cur + (w - 1))),
      x => x.isNotNull)
    // gaps: (0-sentinel → first run) ... (last run → len+1-sentinel)
    val gapFrom = concat(array(lit(0)), runEnds)
    val gapTo = concat(runStarts, array(size(toks) + 1))
    val kept = flatten(zip_with(gapFrom, gapTo, (pe, na) =>
      slice(toks, pe + 1, greatest(na - pe - 1, lit(0)))))
    base.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), array_join(kept, " ").as(cleanCol))
  }

  /** FUZZY pair matching (edit distance ≤ `maxDist`) — the
    * record-linkage tier for short strings (titles, names, URLs after
    * canonicalization) where near-dup means TYPOS, not shared
    * shingles: character-`n`-gram BLOCKING proposes candidate pairs
    * (only strings sharing at least one ≤-cap n-gram ever meet — the
    * [[jaccardPairs]] shape, never all-pairs), then exact
    * `levenshtein` keeps pairs within the distance budget. Both
    * engines ship the same unit-cost edit distance, so the whole
    * operator faces the oracle.
    *
    * `maxGramDocs` is the same hot-key ceiling as maxShingleDocs: an
    * n-gram shared by b strings emits b·(b−1)/2 candidates, so
    * ubiquitous grams ("the", "ing") must be dropped from blocking —
    * they carry no discriminative signal. Blocking recall is
    * corpus-dependent by construction (a pair whose every shared gram
    * is above the cap is not proposed); that is the standard
    * blocking trade and it is replayed identically by the oracle.
    * Returns (id_a, id_b, dist) with id_a < id_b. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1, n: Int = 3,
      maxGramDocs: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0, s"fuzzyPairs: maxDist must be >= 0: $maxDist")
    require(n >= 1, s"fuzzyPairs: n-gram size must be >= 1: $n")
    val s = col(strCol)
    val grams = df.select(col(idCol).as("id"), s.as("s"))
      .filter(s.isNotNull && length(s) >= n)
      .select(col("id"), col("s"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("s")) - (n - 1)),
          i => col("s").substr(i, lit(n))))).as("g"))
    val blocked = bucketCap(grams, Seq("g"), maxGramDocs)(grams)
    // Spark's THRESHOLDED levenshtein (3-arg, since 3.5) runs the
    // banded early-exit DP — O(len·maxDist), returns −1 above the
    // threshold — so ONE evaluation both filters candidates and
    // prices survivors, in code-POINT units matching DuckDB's
    // levenshtein on the oracle side
    blocked.select(col("id").as("id_a"), col("s").as("s_a"), col("g"))
      .join(blocked.select(col("id").as("id_b"), col("s").as("s_b"),
        col("g")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "s_a", "s_b").distinct()
      .withColumn("dist",
        levenshtein(col("s_a"), col("s_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
  }
}
