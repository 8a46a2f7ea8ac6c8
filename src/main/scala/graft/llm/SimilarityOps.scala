package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star LLM pipeline): exact, LSH,
  * IVF, int8, PQ and IVF-PQ top-k, in memory and over persisted
  * indexes, plus MMR, SemDeDup and the quantizer trainers.
  *
  * The top-k tiers share one core. [[topKPerQuery]] is the only
  * per-query rank: a window row number over (score desc NULLS LAST,
  * id asc), kept to 1..k. For k up to
  * `spark.sql.optimizer.windowGroupLimitThreshold` (1000) Spark plans
  * a `Partial` WindowGroupLimit below the query-id exchange and a
  * `Final` one above it — a local top-k per map partition, then a
  * global merge; above the threshold (the corpus-covering PQ
  * shortlists) every candidate of a query reaches one task. On it sit
  * the exact step ([[exactTopK]]: drop self-pairs, [[cosine]], rank),
  * which the brute-force, LSH and IVF tiers feed candidate pairs, and
  * the shortlist + re-rank step ([[rerankTopK]]) of the int8, PQ and
  * IVF-PQ tiers. [[probeCells]] picks the nprobe nearest cells for the
  * four IVF tiers.
  *
  * All arithmetic in double via codegen'd higher-order functions
  * (zip_with + aggregate) — no UDF, no collect.
  */
object SimilarityOps {

  def toDoubleArr(a: Column): Column = transform(a, x => x.cast("double"))

  /** Sequential left-fold dot product — deterministic association. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, NULL when either side has zero norm: such a
    * candidate ranks after every scored one (`score desc` is NULLS
    * LAST) instead of failing the query with an ANSI divide-by-zero.
    * [[graft.functions.CosineSimilarity]] follows the same rule. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), l2Norm(a) * l2Norm(b))

  /** The per-query top-k: rank `scored` within each `qId` by
    * `scoreCol` descending (NULLs last), ties by `cId` ascending, and
    * keep ranks 1..k in `rnCol`. The one rank window of the ANN and
    * search tiers; the object header describes its plan. */
  def topKPerQuery(scored: DataFrame, qId: String, cId: String, k: Long,
      scoreCol: String = "score", rnCol: String = "rn"): DataFrame = {
    require(k >= 1, s"topKPerQuery: k must be >= 1: $k")
    val w = Window.partitionBy(qId).orderBy(col(scoreCol).desc, col(cId).asc)
    scored.withColumn(rnCol, row_number().over(w)).filter(col(rnCol) <= k)
  }

  /** The exact step: drop self-pairs from the candidate `pairs`, score
    * them with [[cosine]] and keep the top k per query as
    * (qId, cId, score, rn). */
  private def exactTopK(pairs: DataFrame, k: Int, qId: String, cId: String,
      qEmb: String = "q_emb", embCol: String = "embedding"): DataFrame =
    topKPerQuery(pairs.filter(col(qId) =!= col(cId))
        .withColumn("score",
          cosine(toDoubleArr(col(qEmb)), toDoubleArr(col(embCol)))),
      qId, cId, k)
      .select(col(qId), col(cId), col("score"), col("rn"))

  /** The shortlist + re-rank step: keep the top rerankFactor·k
    * candidates per query by the approximate `__ascore` (self-pairs
    * dropped), join the float vectors back by id when `rerankFrom` is
    * given (the persisted-index shape: the probe scan never touches
    * them), then run the exact step. Approximation affects candidate
    * selection only. */
  private def rerankTopK(approx: DataFrame, k: Int, rerankFactor: Int,
      rerankFrom: Option[DataFrame], qId: String, cId: String,
      qEmb: String, embCol: String): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be >= 1: $rerankFactor")
    val shortlist = topKPerQuery(approx.filter(col(qId) =!= col(cId)),
      qId, cId, rerankFactor.toLong * k, "__ascore", "__arn")
    val withFloats = rerankFrom.fold(shortlist)(corpus => shortlist
      .select(col(qId), col(qEmb), col(cId))
      .join(corpus.select(col(cId), col(embCol)), Seq(cId)))
    exactTopK(withFloats, k, qId, cId, qEmb, embCol)
  }

  /** Exact top-k neighbors for each query vector (self excluded).
    * Queries are expected to be broadcast-sized. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "q_id", cId: String = "vec_id"): DataFrame =
    exactTopK(broadcast(queries).crossJoin(corpus), k, qId, cId)

  /** Sign-bit sketch on the first `bits` dimensions (a fixed axis-
    * aligned hyperplane family — deterministic, oracle-friendly;
    * swap in seeded random hyperplanes for production recall). */
  def signBucket(emb: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(emb, i + 1) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Approximate top-k: candidates restricted to the query's bucket. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int,
      qId: String = "q_id", cId: String = "vec_id"): DataFrame = {
    val qb = queries.withColumn("bucket", signBucket(col("q_emb"), bits))
    val cb = corpus.withColumn("bucket", signBucket(col("embedding"), bits))
    exactTopK(broadcast(qb).join(cb, Seq("bucket")), k, qId, cId)
  }

  // ---- IVF (inverted-file) tier ----

  /** One-row frame holding every centroid as array<struct<cell, emb>> —
    * cross-joined (broadcast) onto a scan so centroid data travels as a
    * broadcast relation, NOT as plan literals. The literal encoding made
    * plan size O(k·dim) and expression arity O(k): `greatest(dots: _*)` /
    * a k-deep when-fold stopped codegenning near k≈4096. Here the plan
    * carries ONE column reference regardless of k, and the per-row work
    * is a single codegen'd HOF fold over the broadcast array. */
  private def centroidsFrame(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    Seq(centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("__cents")
      .select(transform(col("__cents"), s =>
        struct(s.getField("_1").as("cell"), s.getField("_2").as("emb")))
        .as("__cents"))
  }

  /** score+cell struct per centroid for a row's embedding `e`. */
  private def centScores(e: Column): Column =
    transform(col("__cents"), c =>
      struct(dot(e, c.getField("emb")).as("score"), c.getField("cell").as("cell")))

  /** Deterministic k-means||-style seeding: batched farthest-point
    * (maximin) selection. Start from the lowest-id vector; each round
    * adds the `k/rounds` corpus rows farthest from the current seed set
    * (max-dot ascending — cosine geometry), via TakeOrderedAndProject.
    * `rounds` scans total regardless of k (vs k scans for classic
    * maximin, vs the spread-less first-k-by-id), fully deterministic —
    * no sampling seed to drift between runs. Already-picked seeds are
    * excluded by a broadcast anti-join and the max-dot closeness is an
    * array_max over the broadcast centroid frame, so plan size and
    * expression arity stay O(1) in k. */
  def seedCentroidsMaximin(corpus: DataFrame, cId: String, embCol: String,
      k: Int, rounds: Int = 4): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    val e = toDoubleArr(col(embCol))
    val first = corpus.orderBy(col(cId).asc).limit(1)
      .select(col(cId), e.as("e")).collect()
    if (first.isEmpty) return Array.empty
    var seeds = first.map(_.getSeq[Double](1).toArray)
    // track picked ids and EXCLUDE them from later rounds — otherwise a
    // corpus smaller than k (or a vector minimizing max-dot against the
    // set including itself) gets re-selected and Lloyd starts with
    // duplicate centroids / empty cells.
    var seedIds = first.map(_.get(0))
    val idField = corpus.schema(cId)
    def seedIdsFrame: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(seedIds.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(idField.copy(name = "__seed_id"))))
    val perRound = math.max(1, math.ceil((k - 1).toDouble / rounds).toInt)
    var exhausted = false
    while (seeds.length < k && !exhausted) {
      val closeness = array_max(transform(
        col("__cents"), c => dot(e, c.getField("emb"))))
      val batch = corpus
        .join(broadcast(seedIdsFrame), col(cId) === col("__seed_id"), "left_anti")
        .crossJoin(broadcast(centroidsFrame(spark, seeds)))
        .withColumn("__md", closeness)
        .orderBy(col("__md").asc, col(cId).asc)
        .limit(math.min(perRound, k - seeds.length))
        .select(col(cId), e.as("e")).collect()
      if (batch.isEmpty) exhausted = true // corpus smaller than k
      else {
        seeds ++= batch.map(_.getSeq[Double](1).toArray)
        seedIds ++= batch.map(_.get(0))
      }
    }
    seeds
  }

  /** Train a coarse quantizer: k centroids via Lloyd iterations run as
    * DataFrame aggregations (assign = argmin over broadcast centroids;
    * update = per-cell mean — one hash agg per iteration, corpus never
    * collected). Seeded by deterministic maximin (above) so cells start
    * spread instead of id-clustered. Returns the centroid list (small,
    * driver-held — this IS the IVF index's coarse layer). */
  def trainIvfCentroids(corpus: DataFrame, cId: String, embCol: String,
      k: Int, iters: Int = 2): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    var centroids: Array[Array[Double]] =
      seedCentroidsMaximin(corpus, cId, embCol, k)
    for (_ <- 0 until iters) {
      val assigned = assignCells(corpus, embCol, centroids)
      val dim = centroids(0).length
      val sums = assigned
        .select(col("__cell"), toDoubleArr(col(embCol)).as("e"))
        .groupBy("__cell")
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col("e"), i + 1))): _*).as("s"))
        .collect()
      val next = centroids.clone()
      sums.foreach { r =>
        val cell = r.getInt(0); val n = r.getLong(1)
        if (n > 0) next(cell) = r.getSeq[Double](2).map(_ / n).toArray
      }
      centroids = next
    }
    centroids
  }

  /** Nearest-centroid cell id of `embCol`: one codegen'd HOF argmax
    * over the broadcast centroid frame's `__cents` (no UDF, no
    * per-centroid plan literals; strict-greater keeps the LOWEST cell
    * on ties). −1 when every score is NULL. */
  private def nearestCell(embCol: String): Column =
    aggregate(centScores(toDoubleArr(col(embCol))),
      struct(lit(Double.NegativeInfinity).as("score"), lit(-1).as("cell")),
      (acc, sc) => when(sc.getField("score") > acc.getField("score"), sc)
        .otherwise(acc)).getField("cell")

  /** Each row's [[nearestCell]] as `__cell`. Centroids are
    * unit-agnostic under cosine. */
  def assignCells(df: DataFrame, embCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    df.crossJoin(broadcast(centroidsFrame(df.sparkSession, centroids)))
      .withColumn("__cell", nearestCell(embCol))
      .drop("__cents")

  /** Each query's `nprobe` nearest cells, shared by the four IVF
    * tiers: `queries` joined to the broadcast centroid frame, and the
    * array<struct<negdot, cell>> of its nearest cells over it — one HOF
    * sort of the per-centroid scores, arity O(1) in the cell count.
    * `tier` names the caller in the nprobe check. */
  private def probeCells(queries: DataFrame, centroids: Array[Array[Double]],
      nprobe: Int, qEmb: String, tier: String): (DataFrame, Column) = {
    require(nprobe >= 1, s"$tier: nprobe must be >= 1: $nprobe")
    val cellScores = transform(centScores(toDoubleArr(col(qEmb))), sc =>
      struct((-sc.getField("score")).as("negdot"),
        sc.getField("cell").as("cell")))
    (queries.crossJoin(broadcast(
        centroidsFrame(queries.sparkSession, centroids))),
      slice(array_sort(cellScores), 1, nprobe))
  }

  /** A persisted cell-partitioned layout cut to the cells `probed`
    * names in `cellCol`: the distinct probed ids (≤ nlist, from the
    * broadcast-sized probe frame) are collected and pushed as a
    * partition filter, so the scan reads only those directories. */
  private def probedPartitions(cells: DataFrame, probed: DataFrame,
      cellCol: String): DataFrame = {
    val ids = probed.select(cellCol).distinct().collect().map(_.getInt(0))
    cells.filter(col("cell").isin(ids.map(c => c: Any): _*))
  }

  /** IVF top-k: probe the query's `nprobe` nearest cells only — the
    * candidate set scales with cell occupancy × nprobe, not corpus
    * size. Queries are broadcast-sized; the corpus is scanned once with
    * its cell assignment and joined on cell id. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Array[Array[Double]], nprobe: Int,
      qId: String = "q_id", cId: String = "vec_id"): DataFrame = {
    val (withCents, nearest) =
      probeCells(queries, centroids, nprobe, "q_emb", "ivfTopK")
    val probed = withCents.withColumn("__cells", nearest)
      .select(col(qId), col("q_emb"),
        explode(transform(col("__cells"), s => s.getField("cell"))).as("__cell"))
    val assigned = assignCells(corpus, "embedding", centroids)
    exactTopK(broadcast(probed).join(assigned, Seq("__cell")), k, qId, cId)
  }

  /** Persist the IVF index as a LAKE ARTIFACT — build once, query many
    * (the production shape: at 100 TB the assignment pass is the
    * expensive part, and every query batch after it should pay only
    * for the cells it probes). Layout:
    *   - `dir/centroids`: (cell, emb) — the coarse layer, ≤ nlist rows;
    *   - `dir/cells`: corpus rows PARTITIONED BY cell id, so a probe
    *     reads only its cells' directories — partition PRUNING is the
    *     on-disk analog of the in-memory cell join. */
  def writeIvfIndex(corpus: DataFrame, dir: String,
      centroids: Array[Array[Double]], cId: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "emb")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    assignCells(corpus.select(col(cId), col(embCol)), embCol, centroids)
      .withColumnRenamed("__cell", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** The coarse layer back from a persisted index (≤ nlist rows). */
  def readIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)

  /** [[ivfTopK]] against a PERSISTED index: probe each query's nprobe
    * nearest cells, scan ONLY those cells' partitions
    * ([[probedPartitions]]), and score/rank exactly as the in-memory
    * tier. IvfSpec pins both the result equivalence and the
    * PartitionFilters pruning. */
  def ivfTopKIndexed(queries: DataFrame, indexDir: String, k: Int,
      nprobe: Int, qId: String = "q_id", cId: String = "vec_id",
      qEmb: String = "q_emb", embCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val centroids = readIvfCentroids(spark, indexDir)
    require(centroids.nonEmpty, s"ivfTopKIndexed: empty index at $indexDir")
    val (withCents, nearest) =
      probeCells(queries, centroids, nprobe, qEmb, "ivfTopKIndexed")
    val probed = withCents.withColumn("__cells", nearest)
      .select(col(qId), col(qEmb),
        explode(transform(col("__cells"), s => s.getField("cell"))).as("cell"))
    val cells = probedPartitions(spark.read.parquet(s"$indexDir/cells"),
      probed, "cell")
    exactTopK(broadcast(probed).join(cells, Seq("cell")), k, qId, cId,
      qEmb, embCol)
  }

  /** Maximal-marginal-relevance top-k (Carbonell & Goldstein 1998) —
    * DIVERSIFIED retrieval: greedily pick the candidate maximizing
    * λ·sim(query, d) − (1−λ)·max_{s∈selected} sim(d, s), so the
    * result set trades pure relevance for coverage (the shape RAG
    * context selection and eval-set curation want; plain top-k returns
    * k near-duplicates of the best hit on a redundant corpus).
    *
    * Distributed shape: k rounds, each ONE corpus scan ending in a
    * TakeOrderedAndProject of a single row — the selected set (≤ k
    * embeddings) rides the plan as literals, the running
    * max-similarity column grows one `greatest` term per round, and
    * nothing but k winner rows ever reaches the driver. k is a
    * result-page size (≤ tens); for k beyond that, pre-shortlist with
    * [[bruteForceTopK]]/[[ivfTopK]] and run MMR on the shortlist. */
  def mmrTopK(corpus: DataFrame, queryEmb: Array[Double], k: Int,
      lambda: Double = 0.5, cId: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"mmrTopK: k must be >= 1: $k")
    require(lambda >= 0 && lambda <= 1, s"mmrTopK: lambda in [0,1]: $lambda")
    val spark = corpus.sparkSession
    val e = toDoubleArr(col(embCol))
    val qLit = typedLit(queryEmb.toSeq)
    val simQ = cosine(e, qLit)
    var selected = Vector.empty[(Long, Seq[Double], Double)]
    var done = false
    while (selected.length < k && !done) {
      val penalty = selected.map(s => cosine(e, typedLit(s._2)))
        .reduceOption(greatest(_, _))
      val mmr = penalty match {
        case None => simQ * lambda
        case Some(m) => simQ * lambda - m * (1 - lambda)
      }
      val excluded = selected.map(_._1)
      val cand = (if (excluded.isEmpty) corpus
        else corpus.filter(!col(cId).isin(excluded: _*)))
        .select(col(cId).cast("long").as("id"), e.as("emb"), mmr.as("s"))
        .orderBy(col("s").desc, col("id").asc)
        .limit(1).collect() // bounded: one winner row per round
      if (cand.isEmpty) done = true
      else {
        val r = cand(0)
        selected :+= ((r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      }
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, _, s), i) => (i + 1, id, s) }
      .toDF("rank", cId, "mmr_score")
  }

  /** Int8-code shortlist + full-precision re-rank — the
    * storage-bandwidth ANN tier: every candidate is scored on its int8
    * CODES with an EXACT integer dot (rank key
    * dotCodes(q,c)/√selfdot(c) — the per-vector scales cancel within a
    * query, so ranking needs codes only: the 4×-smaller representation
    * is the ONLY thing the scan touches), the top `rerankFactor·k` per
    * query survive, and only they are re-scored with full-precision
    * cosine. Approximation affects candidate SELECTION only — emitted
    * scores are exact cosine, and with a shortlist covering the corpus
    * the result equals [[bruteForceTopK]] by construction (spec-pinned;
    * recall at small factors is fixture-tested like IVF's nprobe).
    * At cluster scale the full-precision embedding lives in a separate
    * columnar store joined only for the shortlist; here it rides the
    * row for simplicity — column pruning keeps it out of the code
    * scoring projection either way. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      rerankFactor: Int = 4, qId: String = "q_id", cId: String = "vec_id")
      : DataFrame = {
    def codesOf(emb: Column): Column = {
      val e = toDoubleArr(emb)
      val scale = array_max(transform(e, x => abs(x))) / lit(127.0)
      when(scale > 0, transform(e, x => round(x / scale).cast("long")))
        .otherwise(transform(e, _ => lit(0L)))
    }
    val qc = broadcast(queries
      .withColumn("__qcodes", codesOf(col("q_emb"))))
    val cc = corpus.withColumn("__ccodes", codesOf(col("embedding")))
      .withColumn("__cnorm",
        sqrt(aggregate(col("__ccodes"), lit(0L), (a, x) => a + x * x)
          .cast("double")))
    val approx = qc.crossJoin(cc)
      .withColumn("__adot",
        aggregate(zip_with(col("__qcodes"), col("__ccodes"), _ * _),
          lit(0L), (a, x) => a + x))
      .withColumn("__ascore",
        when(col("__cnorm") > 0, col("__adot") / col("__cnorm"))
          .otherwise(lit(Double.NegativeInfinity)))
    rerankTopK(approx, k, rerankFactor, None, qId, cId, "q_emb", "embedding")
  }

  /** Per-vector symmetric int8 quantization (the standard ANN storage
    * reduction: 4× smaller vectors, codes = round(x/scale) with
    * scale = max|x|/127). Pure scan-stage HOFs — codes, their checksum,
    * and the max reconstruction error are all per-row expressions, so
    * quantizing 100 TB of embeddings is map-side throughput with zero
    * shuffle. Rounded code integers are engine-exact (round-to-int
    * HALF_UP ≡ std::round); the error is emitted in 1e-6 integer units
    * for the same reason. */
  def quantizeInt8(df: DataFrame, embCol: String): DataFrame = {
    val e = toDoubleArr(col(embCol))
    // scale and codes materialize as columns BEFORE the lambdas that use
    // them: a lambda referencing the scale EXPRESSION would re-evaluate
    // the array_max per array element (O(dim²) per row)
    df.withColumn("__scale",
        when(array_max(transform(e, x => abs(x))) > 0,
          array_max(transform(e, x => abs(x))) / lit(127.0)))
      .withColumn("codes",
        transform(e, x => round(x / col("__scale")).cast("int")))
      .withColumn("code_sum",
        aggregate(col("codes"), lit(0L), (a, c) => a + c))
      .withColumn("err_e6",
        round(array_max(zip_with(e, col("codes"),
          (x, c) => abs(x - c * col("__scale")))) * 1e6).cast("long"))
      .drop("__scale")
  }

  /** Mean-pool chunk embeddings into ONE document embedding — the
    * aggregation between chunk-level encoding (`chunkWords` → encoder)
    * and document-level ANN/SemDeDup. DETERMINISTIC BY ORDER: chunks
    * fold in ascending `chunkIdCol` order (sort_array over the
    * collected structs), so the double summation is bit-reproducible
    * across runs, partitionings, and engines — an unordered sum would
    * drift by schedule, and a drifting document embedding breaks
    * dedup/dedup-resume invariants downstream.
    *
    * Scale shape: one hash aggregation (map-side-combined
    * collect_list) + row-local HOF fold; a document's chunks must fit
    * one reducer row, which chunking bounds by construction (cap
    * loudly guarded). Output: (doc, n_chunks, doc_emb: array<double>). */
  def meanPoolChunks(chunks: DataFrame, docCol: String, chunkIdCol: String,
      embCol: String, maxChunks: Int = 100000): DataFrame = {
    val collected = sort_array(collect_list(
      struct(col(chunkIdCol).cast("long").as("i"),
        toDoubleArr(col(embCol)).as("e"))))
    val agged = chunks.groupBy(col(docCol))
      .agg(collected.as("__cs"), count(lit(1)).as("n_chunks"))
    val guarded = agged.withColumn("__cs",
      when(size(col("__cs")) > maxChunks, raise_error(concat(
        lit(s"meanPoolChunks: document "), col(docCol).cast("string"),
        lit(s" has more than $maxChunks chunks"))))
        .otherwise(col("__cs")))
    val zero = transform(element_at(col("__cs"), 1).getField("e"),
      _ => lit(0.0))
    guarded
      .withColumn("__sum", aggregate(col("__cs"), zero,
        (acc, c) => zip_with(acc, c.getField("e"), (a, x) => a + x)))
      .select(col(docCol), col("n_chunks"),
        transform(col("__sum"), s => s / col("n_chunks")).as("doc_emb"))
  }

  /** Embedding-cosine near-duplicate pairs within LSH buckets. */
  def embeddingNearDupPairs(corpus: DataFrame, cId: String, bits: Int,
      minCosine: Double): DataFrame = {
    val cb = corpus.withColumn("bucket", signBucket(col("embedding"), bits))
    val a = cb.select(col("bucket"), col(cId).as("id_a"), col("embedding").as("e_a"))
    val b = cb.select(col("bucket"), col(cId).as("id_b"), col("embedding").as("e_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("score", cosine(toDoubleArr(col("e_a")), toDoubleArr(col("e_b"))))
      .filter(col("score") >= minCosine)
      .select("id_a", "id_b", "score")
  }

  /** Semantic deduplication over an embedding column (the SemDeDup
    * recipe — Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication": drop documents whose
    * EMBEDDINGS nearly coincide, keeping one representative per
    * near-duplicate group — the tier that catches paraphrases and
    * re-renderings that text-level MinHash misses). Composition of the
    * primitives this module and TextDedupOps already ship:
    * sign-sketch-bucketed cosine pairs at ≥ minCosine (never
    * all-pairs), connected components (min-label propagation), then
    * [[graft.llm.TextDedupOps.applyClusters]] keeps each cluster's
    * min-id member. Returns the SURVIVING corpus rows unchanged.
    *
    * Scale shape: inherits the bucket-bounded pair join (hot buckets
    * are the caller's bits-tuning concern; at 100 TB prefer more bits
    * or the IVF cells as buckets), the O(diameter) label rounds, and
    * one anti-join — no stage is quadratic in the corpus. */
  def semanticDedup(corpus: DataFrame, cId: String, bits: Int,
      minCosine: Double): DataFrame = {
    val pairs = embeddingNearDupPairs(corpus, cId, bits, minCosine)
    val clusters = TextDedupOps.connectedComponents(pairs, "id_a", "id_b")
    TextDedupOps.applyClusters(corpus, clusters, cId)
  }

  /** Topic-balanced subcorpus draw: assign every row to its nearest
    * centroid (max-dot over the broadcast centroid frame — the same
    * cosine-geometry rule [[assignCells]]/IVF use, with the lowest
    * cell winning exact ties) and keep at most `perCluster` rows per
    * cluster by deterministic hash order. This is the
    * cluster-proportional curation step (the DoReMi/D4-style "don't
    * let one topic dominate the mixture" tier next to the per-DOMAIN
    * cap): centroids typically come from [[trainIvfCentroids]] or a
    * domain taxonomy's exemplar embeddings.
    *
    * Scale shape: one broadcast (centroids), zero shuffles for the
    * assignment, and the per-cluster cap rides
    * [[graft.operators.GroupOps.headPerKey]]'s bounded-buffer
    * aggregate — a mega-cluster partial-aggregates map-side instead of
    * landing on one window task. The hash-order key is
    * `hashU32(id)·2^20 + id`, collision-free for integral ids < 2^20
    * (the group_sample_n convention; for wider id spaces pass rows
    * through a surrogate — headPerKey returns ALL boundary ties). */
  def clusterBalancedSample(df: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Double]], perCluster: Int,
      salt: String = "bal"): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive: $perCluster")
    val assigned = assignCells(df, embCol, centroids)
      .withColumn("__bord",
        graft.operators.SampleOps.hashU32(col(idCol), salt) * 1048576L +
          col(idCol))
    graft.operators.GroupOps.headPerKey(assigned, Seq("__cell"), "__bord",
        perCluster)
      .withColumnRenamed("__cell", "cluster").drop("__bord")
  }

  // ───── Product quantization (Jégou, Douze & Schmid 2011, "Product
  // Quantization for Nearest Neighbor Search") — the memory tier below
  // int8: dim doubles → m single-byte codes (64× smaller at m=dim/8
  // than float32), with search over code lookups instead of vector
  // arithmetic. ─────

  /** One-row frame carrying codebooks as array<array<array<double>>>
    * (m × ksub × sub) in `__cbs` plus the DRIVER-FOLDED squared norms
    * ‖cₖ‖² (m × ksub) in `__cbn` — broadcast-joined like
    * [[centroidsFrame]] so plan size and codegen stay O(1) in m·ksub.
    * The previous plan-literal encoding built ~4k expression nodes
    * PER SUBSPACE at ksub=256 (21 MiB task binaries, codegen-hostile)
    * — the same pitfall centroidsFrame's comment records for the
    * coarse layer. Norms ride as data, not per-row recomputation:
    * dot(c, c) inside the assignment lambda would re-sum constant
    * centroid elements for every row × centroid (~16k redundant FLOPs
    * per row at m=8 ksub=256) on the encode hot path. The sequential
    * driver fold matches dot's fold order, so scores are
    * bit-identical either way. */
  private def codebooksFrame(spark: org.apache.spark.sql.SparkSession,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    Seq((codebooks.toSeq.map(_.toSeq.map(_.toSeq)),
      codebooks.toSeq.map(_.toSeq.map(c =>
        c.foldLeft(0.0)((a, x) => a + x * x)))))
      .toDF("__cbs", "__cbn")
  }

  /** L2-argmin code for a staged subvector column against one
    * codebook array column (a slot of the broadcast `__cbs` frame,
    * with its `__cbn` squared-norm slot): argmax over k of
    * (2·x·cₖ − ‖cₖ‖²) — equal to argmin ‖x−cₖ‖² with the row-constant
    * ‖x‖² dropped, and the ONLY sound geometry for PQ (a dot-argmax
    * quantizer assigns the zero subvector to an arbitrary centroid
    * and reconstruction collapses — caught by PqSpec's
    * planted-cluster fixture). Strict-greater fold keeps the LOWEST
    * code on exact ties. */
  private def l2Code(sub: Column, cbm: Column, cbnm: Column): Column = {
    val scores = transform(cbm, (c, k) =>
      struct((dot(sub, c) * 2 - element_at(cbnm, k + 1)).as("score"),
        k.as("cell")))
    val cell = aggregate(scores,
      struct(lit(Double.NegativeInfinity).as("score"), lit(-1).as("cell")),
      (a, s) => when(s.getField("score") > a.getField("score"), s)
        .otherwise(a))
      .getField("cell")
    // a NULL or short subvector nulls every score and the fold keeps
    // the −1 sentinel — which would crash DOWNSTREAM as an array index
    // (element_at(lut, 0)) far from the cause; raise here instead
    when(cell === -1,
      raise_error(lit("pq: null or wrong-dimension embedding")))
      .otherwise(cell)
  }

  /** Deterministic batched farthest-point seeding in L2 geometry — the
    * PQ twin of [[seedCentroidsMaximin]], whose max-dot "closeness" is
    * cosine-shaped and rates small-norm points as far regardless of
    * actual L2 spread (wrong starting geometry for an L2 Lloyd): each
    * round adds the `k/rounds` rows with the LARGEST min-over-seeds
    * squared distance ‖x‖² − 2x·c + ‖c‖², seeds broadcast, picked ids
    * excluded by anti-join. Deterministic — no sampling seed. */
  private def seedL2Maximin(corpusRaw: DataFrame, cId: String, subCol: String,
      k: Int, rounds: Int = 4): Array[Array[Double]] = {
    // null embeddings are an expected input (trainPqCodebooks' dim
    // probe filters them too): without this the first seed could be a
    // null-embedding row and getSeq would NPE opaquely, bypassing the
    // module's designed loud failure (l2Code's raise_error)
    val corpus = corpusRaw.filter(col(subCol).isNotNull)
    val spark = corpus.sparkSession
    val e = col(subCol)
    val first = corpus.orderBy(col(cId).asc).limit(1)
      .select(col(cId), e.as("e")).collect()
    if (first.isEmpty) return Array.empty
    var seeds = first.map(_.getSeq[Double](1).toArray)
    var seedIds = first.map(_.get(0))
    val idField = corpus.schema(cId)
    def seedIdsFrame: DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(seedIds.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(idField.copy(name = "__seed_id"))))
    val perRound = math.max(1, math.ceil((k - 1).toDouble / rounds).toInt)
    var exhausted = false
    while (seeds.length < k && !exhausted) {
      val minDistSq = array_min(transform(col("__cents"), c =>
        dot(e, e) - dot(e, c.getField("emb")) * 2 +
          aggregate(c.getField("emb"), lit(0.0), (a, x) => a + x * x)))
      val batch = corpus
        .join(broadcast(seedIdsFrame), col(cId) === col("__seed_id"), "left_anti")
        .crossJoin(broadcast(centroidsFrame(spark, seeds)))
        .withColumn("__d", minDistSq)
        .orderBy(col("__d").desc, col(cId).asc)
        .limit(math.min(perRound, k - seeds.length))
        .select(col(cId), e.as("e")).collect()
      if (batch.isEmpty) exhausted = true
      else {
        seeds ++= batch.map(_.getSeq[Double](1).toArray)
        seedIds ++= batch.map(_.get(0))
      }
    }
    seeds
  }

  /** Stage the double-cast embedding and its m subvector slices as
    * REAL columns under `prefix` (HOF lambdas re-evaluate captured
    * non-attribute subtrees per element — an inline slice would
    * re-slice per centroid). Returns (staged frame, staging columns to
    * drop). Shared by the corpus and query sides of the PQ path. */
  private def stageSubvectors(df: DataFrame, embCol: String, m: Int,
      sub: Int, prefix: String): (DataFrame, Seq[String]) = {
    val eCol = s"${prefix}_e"
    val names = (0 until m).map(i => s"$prefix$i")
    val staged = (0 until m).foldLeft(
        df.withColumn(eCol, toDoubleArr(col(embCol)))) { (acc, mi) =>
      acc.withColumn(names(mi),
        slice(col(eCol), lit(mi * sub + 1), lit(sub)))
    }
    (staged, eCol +: names)
  }

  /** Train PQ codebooks: split the space into `m` contiguous subspaces
    * and train a `ksub`-centroid L2 quantizer per subspace —
    * [[seedL2Maximin]] seeding followed by Lloyd iterations run as
    * DataFrame aggregations with the SAME L2 assignment rule
    * [[pqEncode]] applies (assign = l2Code over plan-literal centroids,
    * update = per-cell mean; empty cells keep their centroid). The
    * Lloyd loop intentionally parallels [[trainIvfCentroids]] rather
    * than sharing it — the assignment geometries differ (L2 here,
    * inner-product there) and the IVF trainer is proven machinery this
    * module does not destabilize. Each subspace slice is persisted
    * across its seeding rounds + iterations so the corpus is scanned
    * once per slice, not once per round. m small driver-held codebooks;
    * the corpus is never collected (the dim probe is a bounded 1-row
    * collect over non-null embeddings). Null-embedding rows are
    * excluded from training (they still fail loudly at encode time).
    * Deterministic for a FIXED partitioning: seeding is sampling-free,
    * but the Lloyd update's per-cell double sums merge in shuffle-
    * fetch order, so codebooks can differ at floating-point level
    * across different partitionings/cluster layouts — the gate stays
    * exact regardless because the covering re-rank emits exact
    * cosines. */
  def trainPqCodebooks(corpus: DataFrame, cId: String, embCol: String,
      m: Int, ksub: Int, iters: Int = 2): Array[Array[Array[Double]]] = {
    val dimRow = corpus.select(size(col(embCol)).as("d"))
      .filter(col("d").isNotNull).limit(1).collect()
    require(dimRow.nonEmpty,
      "trainPqCodebooks: empty corpus or all-null embeddings")
    val dim = dimRow(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val nonNull = corpus.filter(col(embCol).isNotNull)
    (0 until m).map { mi =>
      val sliced = nonNull.select(col(cId),
        slice(toDoubleArr(col(embCol)), lit(mi * sub + 1), lit(sub)).as("__sub"))
        .persist()
      try {
        var cents = seedL2Maximin(sliced, cId, "__sub", ksub)
        for (_ <- 0 until iters) {
          val spark = sliced.sparkSession
          val sums = sliced
            .crossJoin(broadcast(codebooksFrame(spark, Array(cents))))
            .withColumn("__cell",
              l2Code(col("__sub"), element_at(col("__cbs"), 1),
                element_at(col("__cbn"), 1)))
            .groupBy("__cell")
            .agg(count(lit(1)).as("n"),
              array((0 until sub).map(i =>
                sum(element_at(col("__sub"), i + 1))): _*).as("s"))
            .collect()
          val next = cents.clone()
          sums.foreach { r =>
            val cell = r.getInt(0); val n = r.getLong(1)
            if (n > 0) next(cell) = r.getSeq[Double](2).map(_ / n).toArray
          }
          cents = next
        }
        cents
      } finally {
        sliced.unpersist(false); ()
      }
    }.toArray
  }

  /** Encode: m codes per row — per subspace the L2-nearest centroid
    * ([[l2Code]]). Row-local codegen'd HOFs over plan-literal
    * codebooks: encoding 100 TB of embeddings is pure scan throughput,
    * zero shuffle, and the codes column is what a production pipeline
    * PERSISTS (the float vectors move to cold storage). Each subvector
    * is staged as a real column first — a lambda referencing the slice
    * EXPRESSION would re-slice per centroid. */
  def pqEncode(df: DataFrame, embCol: String,
      codebooks: Array[Array[Array[Double]]],
      outCol: String = "pq_codes"): DataFrame = {
    val sub = codebooks(0)(0).length
    val (staged, stagingCols) =
      stageSubvectors(df, embCol, codebooks.length, sub, "__pqs")
    val codes = codebooks.indices.map { mi =>
      l2Code(col(s"__pqs$mi"), element_at(col("__cbs"), mi + 1),
        element_at(col("__cbn"), mi + 1))
    }
    staged.crossJoin(broadcast(codebooksFrame(df.sparkSession, codebooks)))
      .withColumn(outCol, array(codes.toSeq: _*))
      .drop(stagingCols: _*).drop("__cbs", "__cbn")
  }

  /** `queries` plus `__lut`, the m×ksub table of subspace dots of
    * each query against the codebooks, built once per query from the
    * broadcast codebook frame. Shared by [[pqTopK]] and
    * [[ivfPqProbe]]. */
  private def withQueryLut(queries: DataFrame,
      codebooks: Array[Array[Array[Double]]], qEmb: String): DataFrame = {
    val (staged, stagingCols) = stageSubvectors(queries, qEmb,
      codebooks.length, codebooks(0)(0).length, "__pqq")
    val lut = array(codebooks.indices.map { mi =>
      transform(element_at(col("__cbs"), mi + 1),
        c => dot(col(s"__pqq$mi"), c))
    }: _*)
    staged.crossJoin(broadcast(codebooksFrame(queries.sparkSession,
        codebooks)))
      .withColumn("__lut", lut)
      .drop(stagingCols: _*).drop("__cbs", "__cbn")
  }

  /** PQ asymmetric-distance top-k: each (broadcast-sized) query builds
    * an m×ksub lookup table of subspace dots against the plan-literal
    * codebooks ONCE; every corpus row is then scored by m array lookups
    * over its codes — Σₘ lut[m][code[m]] reconstructs the query·centroid
    * inner product, so the scan touches only the m-byte codes, never
    * the float vectors (the ADC trick that makes billion-vector search
    * storage-bandwidth-bound instead of FLOP-bound). The shortlist RANK
    * key is the reconstructed COSINE — the inner product divided by the
    * candidate's reconstructed norm √Σₘ‖c_codeₘ‖² (a second, pure-
    * literal lookup table computed once per corpus row at encode time);
    * ranking by raw inner product would bias the shortlist toward
    * large-norm vectors exactly as the int8 tier's __cnorm division
    * exists to prevent. The top `rerankFactor·k` per query survive to
    * an exact-cosine re-rank — approximation affects candidate
    * SELECTION only; emitted scores are exact, and a shortlist covering
    * the corpus reproduces [[bruteForceTopK]] by construction (the
    * gate's configuration; recall at small factors is fixture-tested in
    * PqSpec). */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      codebooks: Array[Array[Array[Double]]], rerankFactor: Int = 4,
      qId: String = "q_id", cId: String = "vec_id",
      qEmb: String = "q_emb", embCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    val qc = broadcast(withQueryLut(queries, codebooks, qEmb))
    // reconstructed ‖·‖² per candidate: per-code ‖cₖ‖² looked up from
    // the broadcast norm table at encode time, reused across every query
    val cc = pqEncode(corpus, embCol, codebooks)
      .crossJoin(broadcast(codebooksFrame(spark, codebooks)))
      .withColumn("__cnormsq", aggregate(
        zip_with(col("__cbn"), col("pq_codes"),
          (nm, cd) => element_at(nm, cd + 1)),
        lit(0.0), (a, x) => a + x))
      .drop("__cbs", "__cbn")
    val approx = qc.crossJoin(cc)
      .withColumn("__adot", aggregate(
        zip_with(col("__lut"), col("pq_codes"),
          (l, c) => element_at(l, c + 1)),
        lit(0.0), (a, x) => a + x))
      .withColumn("__ascore",
        when(col("__cnormsq") > 0, col("__adot") / sqrt(col("__cnormsq")))
          .otherwise(lit(Double.NegativeInfinity)))
    rerankTopK(approx, k, rerankFactor, None, qId, cId, qEmb, embCol)
  }

  // ───── IVF-PQ with RESIDUAL encoding (the IVFADC layout of Jégou,
  // Douze & Schmid 2011 §IV): PQ quantizes r = x − c(x), the residual
  // from the coarse cell centroid, not x itself. Residuals concentrate
  // around the origin with variance ≤ the raw data's (the coarse
  // quantizer has absorbed the cell-level structure), so the SAME code
  // budget spends its centroids on a tighter distribution — on
  // clustered corpora this is the difference between codes that carry
  // rank signal and codes that don't. On ISOTROPIC data (e.g. the
  // synthetic bench embeddings) the coarse quantizer absorbs little
  // and the code BIT BUDGET is the binding constraint — measured in
  // the bench recall block: at 32 bits (m=8 ksub=16) no encoding
  // reaches recall 0.7, at 64 bits (m=8 ksub=256, FAISS's standard
  // 8-byte PQ8 config) plain PQ ≈ 0.78 and residual IVF-PQ ≈ 0.81. ─────

  /** Nearest cell + that cell's centroid embedding as columns — the
    * shared front of the residual paths. Cell i sits at array slot
    * i+1 of the broadcast centroid frame by construction. A null or
    * wrong-dimension embedding leaves the −1 sentinel and must fail
    * HERE (the l2Code convention), not as an opaque invalid array
    * index downstream. */
  private def withCellAndCentroid(df: DataFrame, embCol: String,
      centroids: Array[Array[Double]], cellCol: String): DataFrame = {
    val best = nearestCell(embCol)
    df.crossJoin(broadcast(centroidsFrame(df.sparkSession, centroids)))
      .withColumn(cellCol,
        when(best === -1,
          raise_error(lit("ivfpq: null or wrong-dimension embedding")))
          .otherwise(best))
      .withColumn("__cemb",
        element_at(col("__cents"), col(cellCol) + 1).getField("emb"))
      .drop("__cents")
  }

  /** Train PQ codebooks on RESIDUALS from `centroids` (typically
    * [[trainIvfCentroids]]' output): assign each vector to its nearest
    * cell, subtract the centroid, and run the proven
    * [[trainPqCodebooks]] machinery on the residual column. Null
    * embeddings are excluded from training (they still fail loudly at
    * encode time). */
  def trainPqCodebooksResidual(corpus: DataFrame, cId: String,
      embCol: String, centroids: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int = 2): Array[Array[Array[Double]]] = {
    require(centroids.nonEmpty, "trainPqCodebooksResidual: no centroids")
    val res = withCellAndCentroid(
        corpus.filter(col(embCol).isNotNull), embCol, centroids, "__cell")
      .select(col(cId),
        zip_with(toDoubleArr(col(embCol)), col("__cemb"),
          (x, c) => x - c).as("__res"))
    trainPqCodebooks(res, cId, "__res", m, ksub, iters)
  }

  /** Residual-encode: cell id, m residual codes, and the reconstructed
    * squared norm ‖ĉ + r̂‖² per row — everything the ADC scan needs,
    * all row-local codegen'd HOFs over the broadcast centroid frame
    * and plan-literal codebooks (encoding 100 TB is scan throughput,
    * zero shuffle; this triple is what a production pipeline PERSISTS
    * next to the IVF cell layout, float vectors go cold). */
  def pqEncodeResidual(df: DataFrame, embCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], cellCol: String = "cell",
      codesCol: String = "pq_codes",
      normSqCol: String = "recon_normsq"): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val withCell = withCellAndCentroid(df, embCol, centroids, cellCol)
      .withColumn("__res",
        zip_with(toDoubleArr(col(embCol)), col("__cemb"), (x, c) => x - c))
    val (staged, stagingCols) =
      stageSubvectors(withCell, "__res", m, sub, "__pqr")
    val codes = codebooks.indices.map { mi =>
      l2Code(col(s"__pqr$mi"), element_at(col("__cbs"), mi + 1),
        element_at(col("__cbn"), mi + 1))
    }
    // reconstruction x̂ = ĉ + r̂ staged as a real column (HOF lambdas
    // re-evaluate captured subtrees per element; dot(x̂, x̂) evaluates
    // its args once each but staging keeps it single-eval and shared)
    val rhat = flatten(array(codebooks.indices.map { mi =>
      element_at(element_at(col("__cbs"), mi + 1),
        element_at(col(codesCol), mi + 1) + 1)
    }: _*))
    staged.crossJoin(broadcast(codebooksFrame(df.sparkSession, codebooks)))
      .withColumn(codesCol, array(codes.toSeq: _*))
      .withColumn("__xhat", zip_with(col("__cemb"), rhat, (c, r) => c + r))
      .withColumn(normSqCol, dot(col("__xhat"), col("__xhat")))
      .drop(stagingCols: _*)
      .drop("__res", "__cemb", "__xhat", "__cbs", "__cbn")
  }

  /** Bounded registrar for [[ivfPqProbe]]'s query-frame caches: a
    * long-lived serving session probes thousands of batches, and each
    * call's lazy persist would otherwise sit in the cache manager
    * until LRU memory pressure. Keep the most recent few (in-flight
    * consumers), unpersist the rest — eviction is always SAFE
    * (non-blocking; a still-running consumer recomputes lineage), so
    * this is a footprint bound, never a correctness hook. */
  private val probeCaches = new java.util.ArrayDeque[DataFrame]()
  private val ProbeCacheKeep = 4
  private def registerProbeCache(df: DataFrame): Unit =
    probeCaches.synchronized {
      probeCaches.addLast(df)
      while (probeCaches.size > ProbeCacheKeep) {
        // best-effort by design: the registrar outlives SparkSessions
        // (process-lifetime static), so an evicted entry's session may
        // already be stopped in a multi-session JVM — never let that
        // fail a later, unrelated probe call.
        val old = probeCaches.removeFirst()
        try { old.unpersist(false); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  /** Query-side probe frames shared by the in-memory and persisted
    * IVF-PQ tiers — returned as a PAIR so each piece broadcasts at
    * its own cardinality:
    *   - probes: one SLIM row per (query, probed cell) — (qId,
    *     __cell, __qc) with the EXACT q·ĉ for that cell; 3 scalars,
    *     O(queries·nprobe) rows but O(1) row width;
    *   - qlut:   ONE row per query — (qId, qEmb, __lut) carrying the
    *     m×ksub residual LUT and the float embedding (re-rank input).
    * The LUT is CELL-INDEPENDENT because residual codebooks are
    * shared across cells (the IVFADC property that keeps query-side
    * work O(m·ksub), not O(nlist·m·ksub)) — so carrying it on the
    * per-(query, cell) frame would broadcast it nprobe× over (at 1k
    * queries × nprobe 16 × ~16 KB LUT ≈ 256 MB vs 16 MB; the r14
    * verdict's one residual inefficiency). [[ivfPqScore]] joins the
    * LUT back BY QUERY after the cell join. `tier` names the caller in
    * [[probeCells]]' nprobe check. */
  private[graft] def ivfPqProbe(queries0: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], nprobe: Int,
      qId: String, qEmb: String, tier: String): (DataFrame, DataFrame) = {
    // the query frame feeds BOTH returned frames (and, in the indexed
    // tier, a probed-cells collect) — cache it so a caller's
    // non-trivial query lineage doesn't re-execute per consumer. A
    // LAZY persist, not localCheckpoint: an eager checkpoint would run
    // a Spark job even if the caller never executes the result, and
    // checkpointed partitions live in non-replicated executor storage,
    // so one executor loss would fail the whole query instead of
    // recomputing lineage. The frame is broadcast-sized by the tier's
    // contract, so the cache entry is small (and LRU-evictable —
    // recompute is always possible).
    val queries = queries0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerProbeCache(queries)
    val qlut = withQueryLut(queries, codebooks, qEmb)
    val (withCents, nearest) =
      probeCells(queries, centroids, nprobe, qEmb, tier)
    val probes = withCents.withColumn("__p", explode(nearest))
      .select(col(qId),
        col("__p").getField("cell").as("__cell"),
        (-col("__p").getField("negdot")).as("__qc"))
    (probes, qlut)
  }

  /** ADC scoring shared by both IVF-PQ tiers, then the shortlist +
    * re-rank step. `cc` must carry (cId, __cell, __codes, __cnormsq)
    * plus — when `rerankFrom` is None — the float `embCol` itself. */
  private def ivfPqScore(probed: DataFrame, qlut: DataFrame,
      cc: DataFrame, k: Int,
      rerankFactor: Int, rerankFrom: Option[DataFrame], qId: String,
      cId: String, qEmb: String, embCol: String): DataFrame = {
    // slim probe rows select the candidates; the per-QUERY LUT frame
    // joins after the cell join, so the big broadcast is O(queries),
    // never O(queries·nprobe) (see ivfPqProbe)
    val approx = broadcast(probed).join(cc, Seq("__cell"))
      .join(broadcast(qlut), Seq(qId))
      .withColumn("__adot", col("__qc") + aggregate(
        zip_with(col("__lut"), col("__codes"),
          (l, c) => element_at(l, c + 1)),
        lit(0.0), (a, x) => a + x))
      .withColumn("__ascore",
        when(col("__cnormsq") > 0, col("__adot") / sqrt(col("__cnormsq")))
          .otherwise(lit(Double.NegativeInfinity)))
    rerankTopK(approx, k, rerankFactor, rerankFrom, qId, cId, qEmb, embCol)
  }

  /** IVF-PQ asymmetric-distance top-k: probe the query's `nprobe`
    * nearest cells, score every candidate in them from its m residual
    * codes — q·x̂ = q·ĉ (EXACT, one dot per probed cell, shared by the
    * cell's candidates) + q·r̂ (m lookups in the per-query LUT, see
    * [[ivfPqProbe]]). Rank key is reconstructed cosine q·x̂/‖x̂‖ with
    * ‖x̂‖² precomputed at encode time; the top `rerankFactor·k` per
    * query re-rank with exact cosine, so emitted scores are exact and
    * the covering configuration (nprobe = nlist, shortlist ⊇ corpus)
    * reproduces [[bruteForceTopK]] by construction — the gate's shape;
    * approximate-config recall is fixture-tested in PqSpec and
    * measured in the bench recall block. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], nprobe: Int,
      rerankFactor: Int = 4, qId: String = "q_id", cId: String = "vec_id",
      qEmb: String = "q_emb", embCol: String = "embedding"): DataFrame = {
    val cc = pqEncodeResidual(corpus, embCol, centroids, codebooks,
      "__cell", "__codes", "__cnormsq")
    val (probed, qlut) = ivfPqProbe(queries, centroids, codebooks,
      nprobe, qId, qEmb, "ivfPqTopK")
    ivfPqScore(probed, qlut, cc, k, rerankFactor, None, qId, cId,
      qEmb, embCol)
  }

  /** Persist the residual IVF-PQ index (IVFADC) as a LAKE ARTIFACT —
    * the 8-bytes-per-vector representation a 100 TB embedding store
    * actually serves from. Layout:
    *   - `dir/centroids`: (cell, emb) — same shape as the IVF index,
    *     so [[readIvfCentroids]] reads it back;
    *   - `dir/codebooks`: (m, k, emb) — the residual codebooks;
    *   - `dir/cells`: (cId, pq_codes, recon_normsq) PARTITIONED BY
    *     cell — NO float vectors: a probe scans only its cells'
    *     directories (partition pruning) and only m-byte codes inside
    *     them; the full-precision embeddings stay wherever the corpus
    *     lives and join back for the shortlist re-rank only;
    *   - `dir/meta`: (m, ksub, format) — the layout-version guard
    *     (see [[IvfPqIndexFormat]]). Ids persist as LONG in the cells
    *     layout, mirroring the LSH index's id contract, so the pinned
    *     read schema is stable across caller id types. */
  def writeIvfPqIndex(corpus: DataFrame, dir: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], cId: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "emb").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    codebooks.toSeq.zipWithIndex.flatMap { case (cb, mi) =>
      cb.toSeq.zipWithIndex.map { case (c, ki) => (mi, ki, c.toSeq) } }
      .toDF("m", "k", "emb").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    pqEncodeResidual(corpus.select(col(cId), col(embCol)), embCol,
        centroids, codebooks, "cell", "pq_codes", "recon_normsq")
      .select(col(cId).cast("long").as(cId), col("pq_codes"),
        col("recon_normsq"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    Seq((codebooks.length, codebooks.headOption.fold(0)(_.length),
        IvfPqIndexFormat))
      .toDF("m", "ksub", "format").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Persisted-IVF-PQ-index layout version, mirroring
    * [[TextDedupOps.LshIndexFormat]]. 2 = the r17 layout: long ids in
    * `dir/cells`, a `dir/meta` guard, and the tombstone delete
    * contract (every indexed read anti-joins `dir/tombstones`). An
    * index WITHOUT `dir/meta` was written by a pre-r17 build — before
    * the tombstone contract existed — and reads as format 1: a binary
    * from that era consuming a tombstoned index would silently serve
    * deleted vectors, so every read/append/vacuum on this side fails
    * loudly with a rebuild message instead of guessing. */
  val IvfPqIndexFormat = 2

  private def checkIvfPqMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fmt =
      if (!fs.exists(p)) 1
      else {
        val df = spark.read.parquet(p.toString)
        if (df.columns.contains("format"))
          df.select("format").collect()(0).getInt(0)
        else 1
      }
    require(fmt == IvfPqIndexFormat,
      s"IVF-PQ index at $dir has layout format $fmt; this build reads " +
        s"format $IvfPqIndexFormat (long ids, meta guard, tombstone " +
        "deletes) — rebuild the index with writeIvfPqIndex")
  }

  /** The pinned `dir/cells` read schema: schema inference needs data
    * files, and a vacuum that tombstoned every id legitimately leaves
    * the cells layout empty — indexed reads and vacuums of an emptied
    * index must still work (the LSH bands reads pin their schema for
    * the same case). `cell` is the partition column. */
  private def ivfPqCellsSchema(cId: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField(cId, LongType),
      StructField("pq_codes", ArrayType(IntegerType)),
      StructField("recon_normsq", DoubleType),
      // exactly-once ingest stamp (IngestCommit.ivfPqIngestBatch) —
      // NULL on files written outside that path (init, legacy
      // appends, compacted base), which reads as
      // committed-at-any-watermark
      StructField("ingest_id", LongType),
      StructField("cell", IntegerType)))
  }

  /** INCREMENTAL index maintenance — the growing embedding store:
    * encode `newVectors` against the index's STORED coarse centroids
    * and residual codebooks (quantizers are trained once and shared
    * by every generation of vectors — re-training would silently
    * re-code nothing and mis-code everything relative to the already
    * persisted cells) and append their code rows to the cell
    * partitions. Cost: one zero-shuffle encode pass over the delta +
    * a partitioned append — the table is never rewritten. Callers
    * dedup ids upstream; the index stores what it is given. */
  def appendIvfPqIndex(newVectors: DataFrame, dir: String,
      cId: String = "vec_id", embCol: String = "embedding",
      ingestId: Option[Long] = None, recover: Boolean = false): Unit = {
    val spark = newVectors.sparkSession
    checkIvfPqMeta(spark, dir)
    val centroids = readIvfCentroids(spark, dir)
    val codebooks = readIvfPqCodebooks(spark, dir)
    require(centroids.nonEmpty && codebooks.nonEmpty,
      s"appendIvfPqIndex: empty index at $dir")
    val encoded = pqEncodeResidual(
        newVectors.select(col(cId), col(embCol)), embCol,
        centroids, codebooks, "cell", "pq_codes", "recon_normsq")
      .select(col(cId).cast("long").as(cId), col("pq_codes"),
        col("recon_normsq"), col("cell"))
    // exactly-once replay recovery (IngestCommit): subtract the rows a
    // crashed attempt of THIS ingestId already made visible — the
    // encode is deterministic (stored quantizers), so exceptAll
    // converges the append to exactly-once content. Row-group stats on
    // the stamp bound the scan to ~the crashed batch's own files.
    val toWrite =
      if (!recover) encoded
      else {
        val b = ingestId.getOrElse(sys.error(
          "appendIvfPqIndex: recover requires an ingestId"))
        val vis = spark.read.schema(ivfPqCellsSchema(cId))
          .parquet(s"$dir/cells")
          .filter(col("ingest_id") === b)
          .select(col(cId), col("pq_codes"), col("recon_normsq"),
            col("cell"))
        encoded.exceptAll(vis)
      }
    // stamp ONLY exactly-once appends — legacy appends keep the
    // original codes-only layout byte-for-byte (every cells read is
    // schema-pinned, so heterogeneous files are fine; absent column
    // reads as NULL = committed-at-any-watermark)
    ingestId.fold(toWrite)(b => toWrite.withColumn("ingest_id", lit(b)))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Mark `ids` DELETED in a persisted IVF-PQ index — the curation
    * primitive: a dropped vector must stop surfacing as a neighbor
    * immediately, without rewriting the cell partitions. Appends the
    * ids to `dir/tombstones` (one slim long column); indexed serving
    * ([[ivfPqTopKIndexed]]) anti-joins them out of the probed code
    * scan (broadcast — deletes-sized, not index-sized), and
    * [[vacuumIvfPqIndex]] folds them into a physical rewrite.
    * Deleting an unindexed id is a harmless no-op. */
  def deleteFromIvfPqIndex(ids: DataFrame, dir: String,
      cId: String = "vec_id"): Unit =
    IngestCommit.appendTombstones(ids, IngestCommit.ivfPqStore(dir), cId)

  /** Fold accumulated tombstones into a PHYSICAL rewrite of
    * `dir/cells` (the only id-carrying layout — centroids and
    * codebooks are trainer state, untouched), preserving the
    * partition-by-cell serving layout. Runs through
    * [[IngestCommit.maintain]] (lease, swap recovery, in-flight
    * guard, tombstones cleared LAST), so re-running recovers EVERY
    * intermediate state, including the window where the old naive
    * swap left no live directory at all. No-op without tombstones. */
  def vacuumIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, cId: String = "vec_id"): Unit = {
    val store = IngestCommit.ivfPqStore(dir)
    IngestCommit.maintain(spark, store, "vacuumIvfPqIndex", cId) { tomb =>
      checkIvfPqMeta(spark, dir)
      if (tomb.nonEmpty) rewriteIvfPqCells(spark, dir, cId, tomb)
    }
  }

  /** COMPACT the cell partitions regardless of tombstones — the
    * append-heavy twin of [[vacuumIvfPqIndex]] (which no-ops without
    * deletes): every [[appendIvfPqIndex]] adds one batch-sized file
    * per touched cell directory, so a long-running ingest accumulates
    * small files a probe must individually open. Rewrites the cells
    * layout through the same crash-recoverable swap (one file set per
    * cell again), folding any pending tombstones along the way, then
    * folds the commit log to its max marker like compactLshIndex. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, cId: String = "vec_id"): Unit = {
    val store = IngestCommit.ivfPqStore(dir)
    IngestCommit.maintain(spark, store, "compactIvfPqIndex", cId) { tomb =>
      checkIvfPqMeta(spark, dir)
      rewriteIvfPqCells(spark, dir, cId, tomb)
      IngestCommit.compactIngestLog(spark, store.logDir)
    }
  }

  private def rewriteIvfPqCells(spark: org.apache.spark.sql.SparkSession,
      dir: String, cId: String, tomb: Option[DataFrame]): Unit = {
    // schema-pinned: a vacuum that tombstones every remaining id must
    // itself be re-runnable against the emptied layout it wrote
    // ingest stamps fold away (drop): every surviving row is committed
    // (the maintenance entry's in-flight guard), and an unstamped
    // base row is visible at any high-water-mark
    val exCells = spark.read.schema(ivfPqCellsSchema(cId))
      .parquet(s"$dir/cells").drop("ingest_id")
    IndexSwap.swapIn(spark.sparkContext.hadoopConfiguration, dir,
        "cells") { tmp =>
      IngestCommit.minusTombstones(exCells, tomb)
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(tmp)
    }
  }

  /** The residual codebooks back from a persisted index
    * (m · ksub rows — trainer state, driver-held by design). */
  def readIvfPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
  }

  /** [[ivfPqTopK]] against a PERSISTED index: probe each query's
    * nprobe nearest cells, scan ONLY those cells' code partitions
    * (the probed-cell union — bounded by the cell count — pushes as a
    * partition filter, and the scan reads m-byte codes, never float
    * vectors), ADC-score, then join the `corpus` floats back BY ID
    * for the exact re-rank of the rerankFactor·k shortlist. PqSpec
    * pins the pruning, the no-floats-in-scan schema, and equivalence
    * with the in-memory tier. */
  def ivfPqTopKIndexed(queries: DataFrame, indexDir: String,
      corpus: DataFrame, k: Int, nprobe: Int, rerankFactor: Int = 4,
      qId: String = "q_id", cId: String = "vec_id",
      qEmb: String = "q_emb", embCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    checkIvfPqMeta(spark, indexDir)
    val centroids = readIvfCentroids(spark, indexDir)
    val codebooks = readIvfPqCodebooks(spark, indexDir)
    require(centroids.nonEmpty && codebooks.nonEmpty,
      s"ivfPqTopKIndexed: empty index at $indexDir")
    val (probed, qlut) = ivfPqProbe(queries, centroids, codebooks,
      nprobe, qId, qEmb, "ivfPqTopKIndexed")
    // tombstoned ids (deleteFromIvfPqIndex) leave the scan logically —
    // a deleted vector must not reach the ADC shortlist, exactly as
    // if vacuumed; the anti-join rides the partition-pruned code scan.
    // Schema pinned: a fully-vacuumed index has no data files to
    // infer from, and serving against it must return empty, not fail.
    // Under a commit log (exactly-once ingest) the scan additionally
    // filters to COMMITTED rows — a crashed ingest's stamped partial
    // append must not serve; indexes without a log are unfiltered
    // (legacy behavior, plan unchanged).
    val store = IngestCommit.ivfPqStore(indexDir)
    val hwmOpt = IngestCommit.committedHwm(spark, store.logDir)
    val rawCells = probedPartitions(spark.read.schema(ivfPqCellsSchema(cId))
      .parquet(s"$indexDir/cells"), probed, "__cell")
    val committedCells = hwmOpt.fold(rawCells)(h =>
      rawCells.filter(col("ingest_id").isNull || col("ingest_id") <= h))
    val cc = IngestCommit.minusTombstones(committedCells,
        IngestCommit.readTombstones(spark, store, cId))
      .select(col(cId), col("pq_codes").as("__codes"),
        col("recon_normsq").as("__cnormsq"), col("cell").as("__cell"))
    ivfPqScore(probed, qlut, cc, k, rerankFactor, Some(corpus), qId,
      cId, qEmb, embCol)
  }
}
