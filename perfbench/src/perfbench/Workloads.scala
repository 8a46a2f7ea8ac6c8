package perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.llm.{ClassifierOps, IngestCommit, TextDedupOps, TextStatsOps}
import graft.queries._

/** One benchmark workload, composed from the repository's public API only
  * (no persist or checkpoint of the benchmark's own: whatever the engine
  * recomputes, the benchmark pays). */
trait Workload {
  /** layers this workload calls, named `<package>.<module>` */
  def layers: Seq[String]
  /** ops in one pass of the workload's mix: the timed loop ends on a
    * whole pass, and the traced run alternates whole passes */
  def unit: Int = 1
  /** the ops of one set-up round that warm JIT and codegen up */
  def warmUp(t: Tracer): Unit
  def opName(i: Int): String
  def run(i: Int, t: Tracer): Unit
  def hasOp(i: Int): Boolean = true
  /** output checks after the timed loop, outside timing */
  def check(nOps: Int): Map[String, Any]
  /** per-layer counts of the traced run, after the checks */
  def counts(): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: String,
      work: String): Workload = name match {
    case "frame_analytics" => new FrameAnalytics(spark, inputs, work)
    case "ingest_incremental" => new IngestIncremental(spark, inputs, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** (bytes, files) under `dir`, Hadoop checksum files included */
  def du(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val s = fs.getContentSummary(p)
      (s.getLength, s.getFileCount)
    }
  }
}

/** Round-robin mix of ten oracle-checked registry queries. */
final class FrameAnalytics(spark: SparkSession, dir: String, work: String)
    extends Workload {
  private val modules: Seq[(String, graft.QueryModule)] = Seq(
    "CoreQueries" -> CoreQueries, "JoinQueries" -> JoinQueries,
    "AsofQueries" -> AsofQueries, "ResampleQueries" -> ResampleQueries,
    "WindowQueries" -> WindowQueries, "SelectionQueries" -> SelectionQueries,
    "GroupByQueries" -> GroupByQueries, "ExtrasQueries" -> ExtrasQueries)
  private val names = Seq("q1_agg", "q3_join_topk", "asof_backward_by",
    "resample_5min", "rolling_fixed_100", "ewm_mean", "dedup_keep_first",
    "pivot_table_orders", "query_expr_filter", "eval_assign")
  /** (query, owning module's layer) in mix order */
  val mix: Seq[(QueryDef, String)] = names.map { n =>
    modules.iterator.flatMap { case (m, mod) =>
      mod.defs.find(_.name == n).map(_ -> s"queries.$m") }
      .nextOption().getOrElse(sys.error(s"query $n is not registered"))
  }
  val layers: Seq[String] = mix.map(_._2).distinct
  override val unit: Int = mix.size

  def opName(i: Int): String = mix(i % unit)._1.name

  /** The module builds a lazy frame, which the sink plans and runs; a
    * traced op also plans the frame on its own for the module's plan_ms. */
  def run(i: Int, t: Tracer): Unit = {
    val (q, layer) = mix(i % unit)
    val df = t.span(layer)(q.fn(spark, dir))
    t.planProbe(layer, df)
    t.span("sink")(df.write.format("noop").mode("overwrite").save())
  }

  /** One pass of the mix that writes each query's result where the
    * DuckDB oracle check reads it: the check runs outside the timed ops,
    * and the pass compiles every query's plan before timing starts. */
  def warmUp(t: Tracer): Unit = mix.foreach { case (q, _) =>
    q.fn(spark, dir).write.mode("overwrite")
      .parquet(s"$work/oracle_out/${q.name}")
  }

  def check(nOps: Int): Map[String, Any] = Map(
    "oracle_dir" -> s"$work/oracle_out",
    "oracle_sql" -> mix.map { case (q, _) =>
      q.name -> q.oracle.getOrElse(sys.error(s"${q.name} has no oracle"))
    }.toMap)
}

/** One incoming batch per op, curated and committed as a user composes
  * the public API: Gopher quality and repetition gates, exact dedup, a
  * hard-label quality classifier trained and scored on the batch, then
  * `IngestCommit.nearDupIngestBatch`, which drops near duplicates of the
  * batch and of the committed corpus and commits the survivors. Input
  * file 0, the base corpus, is ingested as batch 0 in the warm-up; op i
  * ingests file i + 1 as batch i + 1, so the LSH index and the corpus
  * grow from the base across the run. */
final class IngestIncremental(spark: SparkSession, dir: String, work: String)
    extends Workload {
  import IngestIncremental._

  val layers: Seq[String] = Seq(TextStats, TextDedup, Classifier, Ingest)
  private val files: Array[String] =
    new java.io.File(dir).list().filter(_.endsWith(".parquet"))
      .sorted.map(f => s"$dir/$f")
  private val index = s"$work/ingest/index"
  private val corpus = s"$work/ingest/corpus"
  /** every batch of the run, before and after each gate */
  private var offered: Map[String, DataFrame] = Map.empty

  Workload.deleteTree(spark, index)
  Workload.deleteTree(spark, corpus)
  TextDedupOps.writeLshIndex(TextDedupOps.minHashSignatures(
    spark.read.parquet(files(0)).limit(0), "doc_id", "text"), index,
    "doc_id", bands = 8)

  def opName(i: Int): String = "ingest_batch"
  override def hasOp(i: Int): Boolean = i + 1 < files.length

  /** The batch after the quality gates and exact dedup. Both layers only
    * build lazy frames; a traced op also probes each one's kernel alone:
    * the Gopher gates over the batch file, and exact dedup over the gated
    * rows held on the driver. */
  private def gated(file: String, t: Tracer): Map[String, DataFrame] = {
    val batch = spark.read.parquet(file)
    val quality = t.span(TextStats)(
      batch.filter(TextStatsOps.gopherKeep(col("text"))))
    val kept = t.span(TextStats)(
      TextStatsOps.gopherRepetitionKept(quality, "doc_id", "text"))
    val keptRows = t.probe(TextStats)(kept.collect())
    val exact = t.span(TextDedup)(TextDedupOps.exactDedup(kept, "text", "doc_id"))
    keptRows.foreach { rows =>
      val local = spark.createDataFrame(rows.toSeq.asJava, kept.schema)
      t.probe(TextDedup)(TextDedupOps.exactDedup(local, "text", "doc_id")
        .write.format("noop").mode("overwrite").save())
    }
    Map("batch" -> batch, "kept" -> kept, "exact" -> exact)
  }

  /** Curates input file `id` and commits it as batch `id`. */
  private def ingest(id: Int, t: Tracer): Unit = {
    val g = gated(files(id), t)
    val scored = t.span(Classifier)(ClassifierOps.trainHardLogisticScored(
      g("exact"), "text", "y", "doc_id"))
    val curated = g("exact").join(scored, Seq("doc_id"))
    val committed = t.span(Ingest)(IngestCommit.nearDupIngestBatch(
      curated, id.toLong, index, corpus, threshold = Threshold))
    require(committed, s"batch $id was not committed")
  }

  def run(i: Int, t: Tracer): Unit = ingest(i + 1, t)

  def warmUp(t: Tracer): Unit = ingest(0, t)

  /** Writes the committed corpus and its one-shot twin, `lshIncremental`
    * over every gated batch (the base included) at once, for the checks
    * `run.py` makes. */
  def check(nOps: Int): Map[String, Any] = {
    val off = new Tracer(spark)
    val all = (0 to nOps).map(i => gated(files(i), off))
    offered = Seq("batch", "kept", "exact").map(k =>
      k -> all.map(_(k).select("doc_id", "text")).reduce(_ union _)).toMap
    val exact = offered("exact")
    val emptyIdx = TextDedupOps.minHashSignatures(exact.limit(0), "doc_id",
      "text")
    TextDedupOps.lshIncremental(exact, emptyIdx, "doc_id", "text",
      threshold = Threshold).write.parquet(s"$work/twin")
    IngestCommit.committedCorpus(spark, corpus, s"$index/commits")
      .select("doc_id", "text").write.parquet(s"$work/committed")
    val (ib, ifiles) = Workload.du(spark, index)
    val (cb, cfiles) = Workload.du(spark, corpus)
    Map("twin_dir" -> s"$work/twin", "committed_dir" -> s"$work/committed",
      "hwm" -> IngestCommit.committedHwm(spark, s"$index/commits")
        .getOrElse(-1L),
      "last_batch" -> nOps,
      "bytes_written" -> (ib + cb), "files_written" -> (ifiles + cfiles))
  }

  /** Documents offered over the run before and after each gate, and the
    * LSH candidate pairs (documents colliding in at least one band, as
    * the ingest's banding finds them) among the exact-deduped ones. */
  override def counts(): Map[String, Any] = {
    val sigs = TextDedupOps.minHashSignatures(offered("exact"), "doc_id",
      "text")
    offered.map { case (k, df) => k -> df.count() } + ("candidate_pairs" ->
      TextDedupOps.lshCandidatePairs(sigs, "doc_id", bands = 8,
        threshold = 0.0).count())
  }
}

object IngestIncremental {
  val TextStats = "llm.TextStatsOps"
  val TextDedup = "llm.TextDedupOps"
  val Classifier = "llm.ClassifierOps"
  val Ingest = "llm.IngestCommit"
  /** Estimated-Jaccard floor for a near duplicate. A planted near
    * duplicate differs from its source in four words of one paragraph
    * (Jaccard ~0.9) and unrelated documents share almost no 3-shingles,
    * so 0.5 separates the two with margin on both sides. */
  val Threshold = 0.5
}
