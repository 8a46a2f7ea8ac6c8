package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DATA-SCALING witness (r13-verdict stretch task): times the dedup,
  * curation, and classifier-training paths — the bench's
  * `lsh_stress_capped`, `curation_stress` and `classifier_train_stress`
  * entries from [[BenchTable]] — on this SF's documents and
  * on a synthesized `factor`× corpus, and prints per-stage wall-clock
  * with the scaling ratio — the first DIRECT evidence that the capped
  * paths scale sub-quadratically in data, complementing the per-plan
  * pins. Not part of the driver bench contract (run on demand):
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.ScaleWitness [factor]"
  *
  * The scaled corpus replicates the real documents `factor`× with
  * per-copy word suffixing (copy k ≥ 1 rewrites every word w → w‹k›
  * EXCEPT the 8 Gopher stopwords, which the quality gate counts), so
  * copies share no content shingles — near-dup structure replicates
  * within copies instead of collapsing across them, the workload grows
  * in rows rather than cluster degree, and the curation filter's pass
  * rate stays ~constant (a naive all-word suffix zeroes the stopword
  * rule and silently empties the 10× pipeline — measured). The
  * boilerplate skew plant (every 10th doc) is applied AFTER scaling,
  * so the hot bucket grows `factor`× and the cap discipline is
  * exercised at the larger scale. Timing order is warm-all, then the
  * SCALED run, then the 1× run — any residual JIT drift then inflates
  * the reported ratio, never flatters it. */
object ScaleWitness {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = if (args.nonEmpty) args(0).toInt else 10
    require(factor >= 2, s"factor must be >= 2: $factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.start(cpus, "spark.sql.adaptive.enabled" -> "true")
    import graft.llm.TextDedupOps

    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang")
    val n1 = base.count()
    // factor× corpus: copy k shifts ids by k·n1 and suffixes every word
    // with k (k = 0 stays the original), then lands in parquet so both
    // scales start from a comparable columnar scan
    val bigDir = s"${sys.props("java.io.tmpdir")}/graft-scale-witness-" +
      s"${ProcessHandle.current().pid()}"
    val stopAlt = graft.llm.TextStatsOps.GopherStopwords.mkString("|")
    val big = (0 until factor).map { k =>
      if (k == 0) base
      else base.select((col("doc_id") + lit(k * n1)).as("doc_id"),
        regexp_replace(col("text"),
          s"\\b(?!(?:$stopAlt)\\b)(\\p{L}+)\\b", "$1" + k.toString)
          .as("text"),
        col("lang"))
    }.reduce(_ unionByName _)
    big.repartition(32).write.mode("overwrite").parquet(bigDir)
    val scaled = spark.read.parquet(bigDir)
    val n10 = scaled.count()
    System.err.println(s"[scale] corpus: $n1 -> $n10 rows (factor $factor)")

    // the bench's own stress entries, run over a given corpus
    val table = new BenchTable(spark, sfDir)
    def entry(name: String): DataFrame => DataFrame =
      docs => table.stress(() => docs).toMap.apply(name)()

    // STORAGE-BACKED loops (r14 verdict task #6 — the 100× witness
    // covered one-shot paths only): the indexed incremental near-dup
    // ingest (THE nightly shape) and the persisted IVF-PQ index
    // build + probe. Both write real lake artifacts under tmp and are
    // deleted at the end.
    var stageSeq = 0
    def freshDir(tagName: String): String = {
      stageSeq += 1
      s"${sys.props("java.io.tmpdir")}/graft-scale-$tagName-" +
        s"${ProcessHandle.current().pid()}-$stageSeq"
    }
    val cleanup = scala.collection.mutable.ArrayBuffer[String]()
    def dedupIndexed(docs: DataFrame): DataFrame = {
      val dir = freshDir("lshidx"); cleanup += dir
      val d = docs.select("doc_id", "text")
      val empty = TextDedupOps.minHashSignatures(
        d.limit(0), "doc_id", "text", 3, 32)
      TextDedupOps.writeLshIndex(empty, dir, "doc_id", bands = 8)
      var last: DataFrame = d.limit(0)
      // 4 ingest batches against the growing persisted index — the
      // witness times signatures + banded join + survivor append, all
      // storage-backed
      (0 until 4).foreach { b =>
        val batch = d.filter(pmod(col("doc_id"), lit(4)) === b)
        val (surv, survSigs) = TextDedupOps.lshIncrementalIndexed(
          batch, dir, "doc_id", "text", threshold = 0.8,
          maxBucketSize = 64)
        TextDedupOps.writeLshIndex(survSigs.localCheckpoint(true), dir,
          "doc_id", bands = 8, mode = "append")
        last = surv
      }
      last
    }
    // r16: the DELETE + VACUUM maintenance loop — init the full
    // index, tombstone 10% of ids, fold them in with a physical
    // rewrite, then serve one ingest batch against the compacted
    // index. Every phase is O(index) at worst (the vacuum is a full
    // rewrite by design), so the ratio must stay ~linear in rows.
    def dedupDeleteVacuum(docs: DataFrame): DataFrame = {
      val dir = freshDir("lshdel"); cleanup += dir
      val d = docs.select("doc_id", "text")
      TextDedupOps.writeLshIndex(
        TextDedupOps.minHashSignatures(d, "doc_id", "text", 3, 32),
        dir, "doc_id", bands = 8)
      TextDedupOps.deleteFromLshIndex(
        d.filter(pmod(col("doc_id"), lit(10)) === 7).select("doc_id"),
        dir)
      TextDedupOps.vacuumLshIndex(spark, dir)
      TextDedupOps.lshIncrementalIndexed(
        d.filter(pmod(col("doc_id"), lit(4)) === 0), dir,
        "doc_id", "text", threshold = 0.8, maxBucketSize = 64)._1
    }
    def ivfPqIndexStage(emb: DataFrame): DataFrame = {
      import graft.llm.SimilarityOps
      val dir = freshDir("ivfpq"); cleanup += dir
      val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id",
        "embedding", 16)
      val cbs = SimilarityOps.trainPqCodebooksResidual(emb, "vec_id",
        "embedding", cents, m = 8, ksub = 64, iters = 1)
      SimilarityOps.writeIvfPqIndex(emb, dir, cents, cbs)
      val queries = emb.filter(col("vec_id") < 32)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      SimilarityOps.ivfPqTopKIndexed(queries, dir, emb, k = 10,
        nprobe = 4)
    }

    def time(f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      graft.operators.DistScan.releaseCaches()
      (System.nanoTime() - t0) / 1e9
    }
    val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
      "dedup_capped_lsh_cc" -> entry("lsh_stress_capped"),
      "curation_gopher_paradedup" -> entry("curation_stress"),
      "classifier_train_2step" -> entry("classifier_train_stress"),
      "dedup_incremental_indexed" -> (dedupIndexed _),
      "dedup_delete_vacuum" -> (dedupDeleteVacuum _))
    // factor× embeddings: copy k shifts vec_id by k·n and perturbs
    // every component with deterministic hash noise (identical copies
    // would degenerate the top-k; cost is unaffected either way)
    val embBase = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.llm.SimilarityOps.toDoubleArr(col("embedding"))
          .as("embedding"))
    val nEmb = embBase.count()
    val embDir = s"${sys.props("java.io.tmpdir")}/graft-scale-emb-" +
      s"${ProcessHandle.current().pid()}"
    (0 until factor).map { k =>
      if (k == 0) embBase
      else embBase.select((col("vec_id") + lit(k.toLong * nEmb))
          .as("vec_id"),
        transform(col("embedding"), x => {
          val seed = col("vec_id") * 0.7919 + lit(k * 104.729)
          x + ((sin(seed) * 43758.5453) -
            floor(sin(seed) * 43758.5453)) * 0.02 - 0.01
        }).as("embedding"))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(embDir)
    val embScaled = spark.read.parquet(embDir)
    System.err.println(s"[scale] embeddings: $nEmb -> " +
      s"${embScaled.count()} rows (factor $factor)")

    // warm every codepath once (JIT/codegen) before any timed run;
    // scaled runs FIRST so residual warm-up can only inflate the ratio
    stages.foreach { case (_, f) => time(() => f(base)) }
    time(() => ivfPqIndexStage(embBase))
    val rows = stages.map { case (name, f) =>
      val t10 = time(() => f(scaled))
      val t1 = time(() => f(base))
      (name, t1, t10, t10 / t1)
    } :+ locally {
      val t10 = time(() => ivfPqIndexStage(embScaled))
      val t1 = time(() => ivfPqIndexStage(embBase))
      ("ivfpq_index_build_probe", t1, t10, t10 / t1)
    }
    rows.foreach { case (name, t1, t10, r) =>
      System.err.println(
        f"[scale] $name%-28s 1x: $t1%7.2f s   ${factor}x: $t10%7.2f s" +
          f"   ratio: $r%5.2f")
    }
    val json = rows.map { case (name, t1, t10, r) =>
      f"""{"stage":"$name","t1":$t1%.3f,"t$factor":$t10%.3f,"ratio":$r%.2f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"scale_witness","factor":$factor,""" +
      s""""rows1":$n1,"rowsN":$n10,"stages":$json,"sf":"$sfDir"}""")
    // the factor-x corpora are multi-GB at factor 100 — don't leave
    // them (or the stage artifacts) accumulating under tmp across runs
    (Seq(bigDir, embDir) ++ cleanup).foreach(Bench.deleteTree(spark, _))
    spark.stop()
  }
}
