package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan audits: SCALE.md's claims pinned as assertions so a
  * refactor cannot silently reintroduce a full scan, a lost broadcast,
  * or a single-partition global window. Runs at sf0.001 — plan shape,
  * not data volume, is under test.
  */
class PlanAuditSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, d)
    df.queryExecution.executedPlan.toString
  }

  test("q1_agg: filter and projection reach the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(p.contains("ReadSchema"))
    // all referenced columns — and ONLY those — in the read schema
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_quantity") && !read.contains("l_comment"),
      s"projection not pruned: $read")
  }

  test("q1_agg: partial + final hash aggregation around one exchange") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q3_join_topk: dimension broadcast + distributed top-k") {
    val p = plan("q3_join_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("frame_update: the patch frame's broadcast hint steers the join") {
    val p = plan("frame_update")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("nlargest: TakeOrderedAndProject, not a global sort") {
    val p = plan("nlargest_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("dedup_keep_priority: same partial WindowGroupLimit as keep_first " +
      "(the explicit-order overload must not lose rank-limit pushdown)") {
    val p = plan("dedup_keep_priority")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"dedup_keep_priority lost partial WindowGroupLimit:\n${p.take(3000)}")
  }

  test("dedup_keep_first: partial WindowGroupLimit before the shuffle") {
    val p = plan("dedup_keep_first")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank-limit pushdown missing:\n${p.take(3000)}")
  }

  test("rolling_fixed_100: no WindowExec at all (DistScan ring-buffer path)") {
    val p = plan("rolling_fixed_100")
    assert(!p.contains("Window "), p.take(3000))
  }

  test("cumsum_global / sort ranks / qcut: windows only over range buckets") {
    for (name <- Seq("cumsum_global", "sort_multi_rank", "qcut_quartiles")) {
      val p = plan(name)
      // every Window operator must be partitioned (by the bucket id) —
      // an unpartitioned one prints 'Window [..], [..ASC..]' with no
      // partition spec and moves all rows to one partition
      p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
        assert(l.contains("__pid"), s"$name has non-bucketed window: $l")
      }
    }
  }

  test("asof_backward_by: custom exec, one clustered exchange per side") {
    val p = plan("asof_backward_by")
    assert(p.contains("AsofJoin "), p.take(2000))
    // 2 child exchanges for the merge + 1 upstream for the quote dedup
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"asof shuffles too much ($exchanges):\n${p.take(3000)}")
  }

  test("PFrame.withOrder / PGroupBy / PRolling plans never contain an " +
      "unpartitioned WindowExec") {
    import graft.core.PFrame
    import org.apache.spark.sql.functions.col
    val events = spark.read.parquet(s"$d/events.parquet")
    val pf = PFrame(events, indexCols = Seq("event_id"))
    val plans = Seq(
      pf.withOrder.df,
      PFrame(events, Seq("event_id")).groupby("user_id")
        .cumsum("value", "cum").df,
      PFrame(events, Seq("event_id")).groupby("user_id").rolling(10)
        .mean("value", "m").df)
    plans.foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
        assert(l.contains("__pid") || l.contains("user_id"),
          s"unpartitioned window in public-API plan: $l")
      }
    }
  }

  test("scan-local text ops: no Exchange anywhere in the plan") {
    // These curation ops are pure per-row expressions — a shuffle
    // appearing in any of them is a regression at any scale.
    for (name <- Seq("repetition_ratio", "pii_redact", "lang_id",
        "quality_score", "bpe_token_count", "doc_fingerprint",
        "hash_sample_split", "str_wrap", "wide_to_long",
        "quality_classifier", "url_normalize", "bpe_encode",
        "bad_word_filter")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffles:\n${p.take(2000)}")
    }
  }

  test("anchored offsets: shifts are scan-local, anchored resamples are " +
      "one-shuffle hash aggs") {
    // shift(freq=) via Offsets is pure calendar arithmetic — no Exchange
    val shift = plan("shift_anchored_offsets")
    assert(!shift.contains("Exchange"), s"anchored shift shuffles:\n${shift.take(2000)}")
    // anchored resample = same plan family as plain resample: partial +
    // final HashAggregate around exactly one hash exchange
    for (name <- Seq("resample_weekly_anchored", "resample_quarter_fiscal",
        "grouper_freq_anchored", "grouper_freq_agg")) {
      val p = plan(name)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$name:\n${p.take(2000)}")
      val ex = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(ex == 1, s"$name should shuffle exactly once, got $ex:\n${p.take(2000)}")
    }
  }

  test("r7 offset/quantize queries stay scan-local (zero Exchange)") {
    for (name <- Seq("shift_n_period_offsets", "shift_negative_offsets",
        "shift_semi_month", "shift_week_of_month", "shift_fy5253",
        "bday_us_federal", "embedding_quantize_int8", "chunk_documents")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffles:\n${p.take(2000)}")
    }
  }

  test("r11 Gopher gates stay scan-local; paragraph dedup shuffles " +
      "exactly twice") {
    // both Gopher filter families are pure per-row expressions over the
    // planted corpus — any Exchange is a scale regression
    for (name <- Seq("gopher_quality", "gopher_repetition", "c4_line_clean",
        "html_strip", "sentence_split")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffles:\n${p.take(2000)}")
    }
    // paragraph_dedup: one shuffle for the global first-occurrence
    // hash agg (keyed by paragraph text, partial-aggregated map-side so
    // hot boilerplate keys collapse before the wire), one to regroup by
    // document — never more, and NEVER a window over a raw-text
    // partition (r11's skew hazard: WindowExec can't partial-aggregate,
    // so a 10⁸-copy paragraph lands whole on one unsplittable task)
    val p = plan("paragraph_dedup")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex == 2, s"paragraph_dedup should shuffle exactly twice, " +
      s"got $ex:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"paragraph_dedup regressed to a window plan:\n${p.take(3000)}")
    // the skew guard is the map-side partial min (SortAggregate — struct
    // buffers aren't hash-agg mutable; partial_min is what matters)
    assert(p.contains("partial_min"),
      s"paragraph_dedup lost partial aggregation (skew guard):\n${p.take(3000)}")
    // sample_token_budget: the distributed cumsum is ONE shuffle — the
    // DistScan bucket exchange on the deterministic __pid (boundaries
    // precomputed, so it hash-partitions the bucket id rather than
    // range-sampling again); the per-bucket window rides it, and a
    // second exchange means the prefix-offset design regressed
    val tb = plan("sample_token_budget")
    assert("Exchange ".r.findAllIn(tb).size == 1 &&
      tb.contains("Exchange hashpartitioning(__pid"),
      s"sample_token_budget shuffle shape regressed:\n${tb.take(3000)}")
    // pack_sequences rides the same DistScan cumsum: one bucket
    // exchange, then the window-tiling explode is row-local — a second
    // exchange (or any Sort/Window beyond the bucket-local cumsum)
    // means the packing stopped being a single-shuffle pipeline
    val ps = plan("pack_sequences")
    assert("Exchange ".r.findAllIn(ps).size == 1 &&
      ps.contains("Exchange hashpartitioning(__pid") &&
      ps.contains("Generate explode"),
      s"pack_sequences shuffle shape regressed:\n${ps.take(3000)}")
  }

  test("r12 skew-safe top-N (group_head_n / group_nth / domain_cap_url): " +
      "bounded-buffer aggregate, never a per-key window") {
    for (name <- Seq("group_head_n", "group_head_n_ts", "group_nth",
        "domain_cap_url")) {
      val p = plan(name)
      // a row_number window here would ship every row of a hot key
      // (10% of domain_cap_url's corpus shares one host) to one task
      assert(!p.contains("Window"),
        s"$name regressed to a window plan:\n${p.take(2500)}")
      // partial + final aggregate pair = map-side combine is in place
      assert("Aggregate".r.findAllIn(p).size >= 2 && p.contains("partial"),
        s"$name lost partial aggregation:\n${p.take(2500)}")
    }
  }

  test("parquet_partitioned_pruned + orc_partitioned_pruned: the " +
      "equality filter prunes at planning time via PartitionFilters") {
    for (name <- Seq("parquet_partitioned_pruned", "orc_partitioned_pruned")) {
      val p = plan(name)
      val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse(
        fail(s"$name: no PartitionFilters in plan:\n${p.take(3000)}"))
      assert(pf.contains("l_returnflag"),
        s"$name: partition filter not pushed to the directory scan: $pf")
    }
  }

  test("parquet_sorted_layout: both time bounds reach the scan as " +
      "PushedFilters (row-group skipping over the sorted layout)") {
    val p = plan("parquet_sorted_layout")
    val pf = p.linesIterator.find(_.contains("PushedFilters")).getOrElse(
      fail(s"no PushedFilters in plan:\n${p.take(3000)}"))
    assert(pf.contains("GreaterThanOrEqual(ts") && pf.contains("LessThan(ts"),
      s"time bounds not pushed to the parquet scan: $pf")
  }

  test("cdc_apply_changes: latest-wins compaction is a map-side-" +
      "combinable aggregate, never a row_number window") {
    val p = plan("cdc_apply_changes")
    assert(!p.contains("Window"),
      s"CDC compaction regressed to a window (hot entities would " +
        s"funnel through one reducer):\n${p.take(3000)}")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(p).size >= 2,
      s"no partial+final aggregate pair:\n${p.take(3000)}")
  }

  test("epoch_shuffle: distributed ranking — no unpartitioned window") {
    val p = plan("epoch_shuffle")
    // DistScan windows partition by the range-bucket id; a global
    // ORDER BY rn window here would single-thread the whole epoch
    assert(!p.contains("Window [") ||
      !p.linesIterator.exists(l => l.contains("Window") &&
        !l.contains("partitionBy") && l.contains("ORDER BY")),
      p.take(2000))
    assert(p.contains("Exchange rangepartitioning"),
      s"epoch ranking lost its range exchange:\n${p.take(3000)}")
  }

  test("parquet_zorder_layout: BOTH dimension predicates reach the " +
      "scan as PushedFilters (multi-column skipping over the Morton layout)") {
    val p = plan("parquet_zorder_layout")
    val pf = p.linesIterator.find(_.contains("PushedFilters")).getOrElse(
      fail(s"no PushedFilters in plan:\n${p.take(3000)}"))
    assert(pf.contains("LessThan(user_id") && pf.contains("LessThan(event_id"),
      s"z-order dims not pushed to the parquet scan: $pf")
  }

  test("bucketed_join_colocated: sort-merge join with ZERO Exchange — " +
      "catalog bucketing satisfies the join distribution on both sides") {
    val p = plan("bucketed_join_colocated")
    assert(p.contains("SortMergeJoin"),
      s"bucketed join lost the SMJ shape:\n${p.take(3000)}")
    assert(!p.contains("Exchange"),
      s"bucketed co-located join re-shuffled:\n${p.take(3000)}")
    // one file per bucket + sortBy(key) ⇒ the scan reports sorted
    // output and the SMJ needs no Sort either
    assert(!p.linesIterator.exists(_.trim.startsWith("Sort ")),
      s"bucketed join re-sorted (bucket sort order lost):\n${p.take(3000)}")
    // and a point lookup on the bucket key prunes to ONE bucket at
    // planning time (the tables exist — plan() above just wrote them).
    // autoBucketedScan turns the bucketed read off for scan-only
    // queries (no join/agg wants the partitioning), which also forfeits
    // pruning — scope it off to witness the pruning path itself.
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.get(k)
    try {
      spark.conf.set(k, "false")
      val lookup = spark.table("graft_li_bucketed")
        .filter(org.apache.spark.sql.functions.col("l_orderkey") === 42L)
        .queryExecution.executedPlan.toString
      assert(lookup.contains("SelectedBucketsCount: 1 out of 8"),
        s"point lookup did not bucket-prune:\n${lookup.take(3000)}")
    } finally spark.conf.set(k, saved)
  }

  test("lm_bigram_filter: map-side-combined aggregations, no window, " +
      "and top_bigrams takes the distributed top-k path") {
    val p = plan("lm_bigram_filter")
    assert("HashAggregate".r.findAllIn(p).size >= 2 && p.contains("partial"),
      s"LM count aggregation lost map-side combine:\n${p.take(3000)}")
    assert(!p.contains("Window "), s"unexpected window:\n${p.take(3000)}")
    val t = plan("top_bigrams")
    assert(t.contains("TakeOrderedAndProject"),
      s"top_bigrams global-sorts instead of top-k:\n${t.take(3000)}")
  }

  test("ewm_time_halflife (+long variant): one grouped shuffle, " +
      "partitioned windows incl. the per-user day rebase") {
    Seq("ewm_time_halflife", "ewm_time_halflife_long").foreach { q =>
      val p = plan(q)
      val ex = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(ex <= 1, s"$q shuffles $ex times:\n${p.take(3000)}")
      p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
        assert(l.contains("user_id"), s"$q unpartitioned window: $l")
      }
    }
  }

  test("interpolate_poly: one grouped shuffle, no unpartitioned window") {
    val p = plan("interpolate_poly")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex <= 1, s"interpolate_poly shuffles $ex times:\n${p.take(3000)}")
    p.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("user_id"), s"unpartitioned window: $l")
    }
  }

  test("cosine_topk: corpus scans once under a broadcast, never shuffles") {
    val p = plan("cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  /** Whether some hash exchange on `q_id` in `name`'s plan has a
    * `Partial` WindowGroupLimit directly below it: the per-query top-k
    * is cut to k rows per map partition before the shuffle. */
  private def partialTopKBelowExchange(name: String): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowGroupLimitExec,
      Partial => WglPartial}
    val p = SparkEntry.queries(name)(spark, d).queryExecution.executedPlan
    val physical = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // the initial plan
      case other => other
    }
    physical.collect {
      case e: ShuffleExchangeExec => (e.outputPartitioning, e.child)
    }.exists {
      case (h: HashPartitioning, w: WindowGroupLimitExec) =>
        w.mode == WglPartial &&
          h.expressions.exists(_.references.exists(_.name == "q_id"))
      case _ => false
    }
  }

  test("ANN top-k: a Partial WindowGroupLimit sits below the q_id " +
      "exchange; the covering PQ shortlists (rerankFactor 1000000, " +
      "above the 1000-row threshold) are the unpruned windows") {
    val pruned = Seq("cosine_topk", "cosine_lsh_topk", "cosine_ivf_topk",
      "cosine_topk_quantized", "cosine_topk_native", "ivf_index_topk")
    val unpruned = Seq("cosine_pq_topk", "cosine_ivfpq_topk",
      "ivfpq_index_topk")
    val got = (pruned ++ unpruned).filterNot(partialTopKBelowExchange)
    assert(got.toSet == unpruned.toSet,
      s"queries without a partial top-k: $got; pinned: $unpruned")
  }

  test("dsir_select: scoring rides the scan (the ratio table is a plan " +
      "literal) and selection is TakeOrderedAndProject — the only " +
      "shuffles in the FINAL query are the top-k's singlePartition") {
    val p = plan("dsir_select")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"),
      s"dsir scoring must not hash-shuffle the corpus:\n${p.take(3000)}")
  }

  test("ccnet_quality_buckets: the global tercile rides range " +
      "partitioning — no single-partition exchange, no unpartitioned " +
      "window (the ntile-as-one-window formulation would plan both)") {
    val p = plan("ccnet_quality_buckets")
    assert(p.contains("Exchange rangepartitioning"), p.take(3000))
    assert(!p.contains("Exchange SinglePartition"),
      s"global ntile collapsed to one partition:\n${p.take(3000)}")
  }

  test("bm25_topk: scalar stats broadcast back; top-k is " +
      "TakeOrderedAndProject; zero hash shuffles") {
    val p = plan("bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"),
      s"bm25 should never hash-shuffle the corpus:\n${p.take(3000)}")
  }

  test("tfidf_top_terms: vocabulary df joins back broadcast; bounded " +
      "shuffle count") {
    val p = plan("tfidf_top_terms")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // 5 = (doc,term) count ×2 (the broadcast df branch recomputes it —
    // at corpus scale recomputing one map-side-combined agg beats
    // caching the token explosion), vocab df, two-phase distinct-N, and
    // the doc-keyed regroup; the top-n rank itself is
    // WindowGroupLimit-pruned before its shuffle
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex <= 5, s"tfidf shuffles too much ($ex):\n${p.take(3000)}")
    assert(p.contains("WindowGroupLimit"), s"top-n rank not pruned:\n${p.take(3000)}")
  }

  test("boilerplate_lines: frequent set applied as a broadcast anti-join") {
    val p = plan("boilerplate_lines")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("substring_dedup: window-hash agg + semi-join, never all-pairs") {
    val p = plan("substring_dedup")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"span dedup went all-pairs:\n${p.take(3000)}")
    // window explode ×2 (dup-hash branch recomputes it, cheaper than
    // caching the token explosion), dup-hash agg, semi-join re-shuffle,
    // doc-keyed regroup + final doc join
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex <= 6, s"substring_dedup shuffles too much ($ex):\n${p.take(3000)}")
  }

  // ───── row kernels: one named udf each, evaluated once per row ─────

  private lazy val kernelDocs: DataFrame = {
    import spark.implicits._
    Seq[(Long, String, java.lang.Long)](
      (1L, (1 to 60).map(i => s"word$i").mkString(" "), 1L),
      (2L, "same line\nsame line\nsame line", 0L),
      (3L, null, 1L), (4L, "", null), (5L, "zebra quagga 𝕏", 0L))
      .toDF("doc_id", "text", "y")
  }
  private val UnigramVocab: Map[String, Long] = Map("the" -> -1000000L,
    "cat" -> -2000000L, "dog" -> -2000000L, "a" -> -3000000L)

  /** How often a udf named `name` is called in `plan`'s text. */
  private def calls(plan: String, name: String): Int =
    s"\\b$name\\(".r.findAllIn(plan).size

  test("row kernels keep their output schemas, nullability included") {
    import org.apache.spark.sql.functions.{col, when, lit}
    import org.apache.spark.sql.types._
    import graft.llm.{ClassifierOps, TextStatsOps}
    val rules = TextStatsOps.GopherRepetitionRules
    def gopherSchema(id: StructField) = StructType(id +:
      (rules.map(r => StructField(r._1, DoubleType)) ++
        rules.map(r => StructField(r._2, BooleanType)) :+
        StructField("keep", BooleanType)))
    // a NOT NULL id and a nullable one
    val nullableId = kernelDocs.select(when(lit(true), col("doc_id"))
      .as("doc_id"), col("text"), col("y"))
    for (df <- Seq(kernelDocs, nullableId)) {
      val id = df.schema("doc_id")
      assert(TextStatsOps.gopherRepetition(df, "doc_id", "text").schema ==
        gopherSchema(id))
      assert(TextStatsOps.gopherRepetitionKept(df, "doc_id", "text")
        .schema == df.schema)
      val feat = ClassifierOps.bucketCountFeatures(df, "text", "y",
        Seq("doc_id"), 8)
      try assert(feat.schema == StructType(Seq(id,
        StructField("__y", LongType),
        StructField("__hs", ArrayType(LongType, containsNull = false),
          nullable = false))))
      finally feat.unpersist()
      assert(TextStatsOps.unigramEncodeDocsKernel(df, "doc_id", "text",
          UnigramVocab, -10000000L).schema ==
        StructType(Seq("doc_id", "n_words", "n_chars", "n_tokens",
          "n_unk_chars").map(StructField(_, LongType, nullable = false)) :+
          StructField("recon", StringType)))
    }
    // the report's id is NOT NULL: a NULL id fails, it is never emitted
    val nullIdRow = nullableId.select(
      when(col("doc_id") === 3L, lit(null)).otherwise(col("doc_id"))
        .as("doc_id"), col("text"))
    intercept[Exception] {
      TextStatsOps.unigramEncodeDocsKernel(nullIdRow, "doc_id", "text",
        UnigramVocab, -10000000L).collect()
    }
  }

  test("multi-output row kernels are called once per row: a filter on " +
      "an output does not copy the udf") {
    import org.apache.spark.sql.functions.col
    import graft.llm.TextStatsOps
    def gopher(df: DataFrame) =
      TextStatsOps.gopherRepetition(df, "doc_id", "text").filter(col("keep"))
    def unigram(df: DataFrame) = TextStatsOps.unigramEncodeDocsKernel(df,
      "doc_id", "text", UnigramVocab, -10000000L)
      .filter(col("n_unk_chars") > 0)
    // a scanned table: the optimizer evaluates a local relation's
    // projections itself, leaving no udf in the plan
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    for ((df, name) <- Seq(gopher(docs) -> "gopherRepetition",
        unigram(docs) -> "unigramEncodeDocsKernel")) {
      val p = df.queryExecution.optimizedPlan.toString
      assert(calls(p, name) == 1, s"$name:\n$p")
      assert(calls(df.queryExecution.executedPlan.toString, name) == 1,
        s"$name:\n${df.queryExecution.executedPlan}")
    }
    assert(gopher(kernelDocs).select("doc_id").collect().map(_.getLong(0))
      .toSet == Set(1L))
    assert(unigram(kernelDocs).select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
  }

  test("the ingest curation chain plans no object round trip and no RDD " +
      "scan: Gopher gates, exact dedup, classifier features") {
    import org.apache.spark.sql.functions.col
    import graft.llm.{ClassifierOps, TextDedupOps, TextStatsOps}
    val batch = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"), (col("doc_id") % 2).as("y"))
    val quality = batch.filter(TextStatsOps.gopherKeep(col("text")))
    val kept = TextStatsOps.gopherRepetitionKept(quality, "doc_id", "text")
    val exact = TextDedupOps.exactDedup(kept, "text", "doc_id")
    val feat = ClassifierOps.bucketCountFeatures(exact, "text", "y",
      Seq("doc_id"), 16)
    try {
      val qe = feat.queryExecution
      // the executed plan prints the cached plan under InMemoryRelation
      for (p <- Seq(qe.analyzed.toString, qe.optimizedPlan.toString,
          qe.executedPlan.toString)) {
        for (node <- Seq("DeserializeToObject", "SerializeFromObject",
            "MapPartitions", "ExistingRDD", "LogicalRDD"))
          assert(!p.contains(node), s"$node in:\n$p")
        assert(calls(p, "gopherRepetitionKept") == 1 &&
          calls(p, "bucketCountFeatures") == 1, p)
      }
    } finally feat.unpersist()
  }

  /** The Spark plan of every registry query, built and planned once
    * for the registry-wide guards below, with the hint errors Spark
    * logged (and otherwise ignored) while building and planning it. A
    * query that fails to plan fails the guard that reads the map
    * first. */
  private lazy val registry: Seq[(String, SparkPlan, Seq[String])] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val name = "org.apache.spark.sql.catalyst.analysis.HintErrorLogger"
    // the session's start (re)configures logging: attach after it, to
    // the configuration the hint logger actually uses
    spark.sparkContext
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    assert(logger.isEnabled(Level.WARN),
      s"$name does not log warnings, so no dropped hint could be seen")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("plan-audit-hint-errors", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == name) {
          seen.add(e.getMessage.getFormattedMessage); ()
        }
    }
    val root = logger.getContext.getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, Level.WARN, null)
    logger.getContext.updateLoggers()
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      seen.clear()
      val sp = try fn(spark, d).queryExecution.sparkPlan
        catch { case e: Throwable => fail(s"$n failed to plan: $e") }
      import scala.jdk.CollectionConverters._
      (n, sp, seen.asScala.toSeq)
    } finally {
      root.removeAppender(appender.getName)
      logger.getContext.updateLoggers()
      appender.stop()
    }
  }

  private lazy val registryPlans: Seq[(String, SparkPlan)] =
    registry.map { case (n, sp, _) => n -> sp }

  test("registry-wide: no query carries a hint Spark drops") {
    // A hint that attaches to nothing (a broadcast hint on a frame no
    // join reads, say) is logged once and ignored: the plan silently
    // lacks the shape the hint was written for.
    val dropped = registry.collect { case (n, _, ws) if ws.nonEmpty =>
      s"$n: ${ws.mkString("; ")}" }
    assert(dropped.isEmpty, dropped.mkString("\n"))
  }

  /** Registry-wide guard: WindowExec with an empty partition spec moves
    * ALL rows to one partition — fatal at 100 TB unless the input is
    * provably bounded (top-k frames, O(groups) aggregates). The exact
    * set of queries allowed to do it is pinned here; a new query that
    * introduces one fails this test and must either partition (__pid
    * range-bucket pattern) or justify itself onto this list. Every
    * allowed entry's window input is bounded upstream: see the comment
    * per name.
    */
  test("registry-wide: queries with an unpartitioned WindowExec are " +
      "exactly the pinned bounded-input set") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = registryPlans.collect {
      case (n, sp) if sp.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w }.nonEmpty => n
    }.toSet
    val allowed: Set[String] = Set(
      "iloc_slice",             // window input is orderBy.limit(110)
      "factorize_codes",        // window over one row per event_type
      "mode_value",             // window over per-type group counts
      "value_counts_normalize", // window over per-type group counts
      "nlargest_keep_all")      // rank≤10: WindowGroupLimit partial prunes
                                // to O(partitions·10) before the window
    assert(offenders == allowed,
      s"unpartitioned-WindowExec set drifted.\n  now: ${offenders.toSeq.sorted}\n" +
        s"  pinned: ${allowed.toSeq.sorted}")
    // the one full-input entry is only safe WITH its rank pushdown
    assert(plan("nlargest_keep_all").contains("WindowGroupLimit"),
      "nlargest_keep_all lost its WindowGroupLimit pruning")
  }

  test("registry-wide: queries planning a CartesianProduct or " +
      "BroadcastNestedLoopJoin are exactly the pinned set") {
    // Every entry here is either an explicit cross join (the operator's
    // SEMANTICS), a broadcast of a ≤1-row scalar-stats side, or a
    // broadcast of a bounded literal/query side — never corpus×corpus.
    // A new query joining without keys lands here loudly instead of
    // shipping a quadratic plan at 100 TB.
    val offenders = registryPlans.collect {
      case (n, sp) if Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .exists(sp.toString.contains) => n
    }.toSet
    val allowed: Set[String] = Set(
      "join_cross",            // the cross-join operator itself
      "range_join_bins",       // non-equi join, bounded bin side broadcast
      "bm25_topk",             // ONE corpus-stats scalar row broadcast
      "tfidf_top_terms",       // broadcast vocabulary-df side
      "describe_object",       // single aggregate row
      "first_3d", "last_3d",   // broadcast scalar min/max-ts row
      "sample_frac",           // broadcast scalar count row
      "sample_weights",        // broadcast scalar weight-total row
      "str_levenshtein_pairs", // explicit bounded id×id pair set
      "cosine_topk", "cosine_topk_native", "cosine_ivf_topk",
      "ivf_index_topk",        // persisted-index probe: the same
                               // broadcast-centroid shape as cosine_ivf_topk
                               // over the cell-partitioned scan
      "cosine_topk_quantized", // int8 shortlist: same broadcast-query shape
      "cosine_pq_topk",        // PQ-ADC shortlist: same broadcast-query shape
      "cosine_ivfpq_topk",     // residual IVFADC: broadcast centroid +
                               // codebook frames over the corpus scan
      "ivfpq_index_topk",      // persisted IVFADC: same probe shape over
                               // the cell-pruned codes scan
      "ivfpq_index_delete",    // r16 delete gate: the identical probe
                               // shape over the tombstone-filtered scan
      "ivfpq_ingest_exactly_once", // r18 exactly-once gate: the same
                               // probe shape over the committed-filtered
                               // cell-pruned codes scan
      "ivfpq_ingest_dedup_ids", // r19 dedup gate: same probe shape;
                               // the dedup itself is two BROADCAST
                               // joins (batch-ids side, then the
                               // ≤batch-sized hit set) riding the
                               // pruned corpus-id scan
      "ivfpq_ingest_delete_live", // r19 delete×ingest gate: the same
                               // probe shape over the tombstone- and
                               // committed-filtered cell-pruned scan
      "embedding_near_dup",    // broadcast query/centroid side over the
                               // corpus scan (the documented ANN shape)
      "cluster_balanced_draw", // broadcast 4-centroid frame over one
                               // corpus scan (assignCells' shape)
      "nlargest_keep_all")     // r20: ONE broadcast scalar row — the
                               // rank-10 threshold from a distributed
                               // top-k — pre-filters orders so the
                               // global rank window sees ~k+ties rows
                               // instead of the whole table
    assert(offenders == allowed,
      s"cartesian/nested-loop set drifted.\n  now: ${offenders.toSeq.sorted}\n" +
        s"  pinned: ${allowed.toSeq.sorted}")
  }
}
