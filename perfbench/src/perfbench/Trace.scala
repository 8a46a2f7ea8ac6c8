package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the benchmark thread. Spans of one op share `op`;
  * the op's root span has parent -1. A `probe` span is work the traced
  * run adds to the op (see [[Tracer.probe]]), not part of the op. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, startMs: Long, probe: Boolean = false,
    var endNs: Long = -1L, var endMs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around each public call plus the Spark-side counters attributed
  * to them. Spans are recorded only while `on`; jobs are attributed
  * through the `perfbench.span` thread-local property, which Spark copies
  * onto every job the benchmark thread submits. A job submitted from another
  * thread (a `Future` inside the engine) does not carry the current
  * span, and is counted under `unattributed`. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var on = false
  private val collector = new Collector
  private val qeCollector = new QeCollector
  /** ops whose spans count; untraced ops are only timed */
  val tracedOps = mutable.ArrayBuffer.empty[Int]
  /** plan ms per layer from [[planProbe]] */
  private val planned = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Runs one op; with `traced`, records its spans and Spark events. */
  def op[T](opId: Int, name: String, traced: Boolean)(body: => T): T = {
    on = traced
    if (traced) {
      tracedOps += opId
      sc.addSparkListener(collector)
      spark.listenerManager.register(qeCollector)
    }
    try span(name, opId)(body)
    finally if (traced) {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(collector)
      spark.listenerManager.unregister(qeCollector)
      on = false
    }
  }

  /** Records `name` around `body` when tracing is on. */
  def span[T](name: String, opId: Int = -1, probe: Boolean = false)(
      body: => T): T = {
    if (!on) return body
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.fold(-1)(_.id),
      parent.fold(opId)(_.op), System.nanoTime(), System.currentTimeMillis(),
      probe)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** In a traced op only: runs `body`, which evaluates a layer's lazy
    * output on its own, inside a probe span named after `layer`, so that
    * the layer's kernels get jobs, plan, execution and task counters of
    * their own. In the op itself those kernels run inside later layers'
    * jobs (nothing is persisted), and those layers keep that cost too.
    * Probe time counts in no layer's build_ms, in no op's wall time and
    * in no uncovered share. Returns None in an untraced op. */
  def probe[T](layer: String)(body: => T): Option[T] =
    if (on) Some(span(layer, probe = true)(body)) else None

  /** A probe that plans `df`, a layer's lazy output, without running it:
    * the analysis, optimization and physical planning its query takes
    * count in the layer's plan_ms. The action that later runs `df` plans
    * it again, for its own layer. */
  def planProbe(layer: String, df: DataFrame): Unit = probe(layer) {
    val qe = df.queryExecution
    qe.executedPlan
    planned(layer) += planMs(qe.tracker)
  }

  /** Wall ms of the probe spans of op `opId`. */
  def probeMs(opId: Int): Double =
    spans.filter(s => s.probe && s.op == opId).map(_.ms).sum

  /** Per-layer metrics, each a mean per traced op. */
  def layerMetrics(layers: Seq[String]): Map[String, Double] = {
    val nOps = math.max(1, tracedOps.size)
    val byId = spans.map(s => s.id -> s).toMap
    // A tag names the span open on the submitting thread when that thread
    // was created; a job submitted outside the tagged span's interval came
    // from a thread that inherited a stale tag.
    def layerOf(info: JobInfo): String =
      info.span.flatMap(byId.get)
        .filter(s => s.parent >= 0 && s.startMs <= info.timeMs &&
          info.timeMs <= s.endMs)
        .map(_.name).getOrElse(Unattributed)
    val jobLayer = collector.jobs.asScala.map { case (j, info) =>
      j.intValue -> layerOf(info) }
    // execution id -> layer, from the jobs that ran under it
    val execLayer = collector.jobs.asScala.values
      .flatMap(i => i.exec.map(_ -> layerOf(i))).toMap
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(layer: String, m: String, v: Double): Unit =
      acc(s"$layer.$m") += v
    spans.filter(s => s.parent >= 0 && !s.probe).foreach { s =>
      val childMs = spans.filter(_.parent == s.id).map(_.ms).sum
      add(s.name, "build_ms", s.ms - childMs)
    }
    jobLayer.values.foreach(l => add(l, "jobs", 1))
    collector.stages.asScala.foreach { case (_, st) =>
      val l = Option(collector.stageJob.get(st.stageId)).flatMap(j =>
        jobLayer.get(j.intValue)).getOrElse(Unattributed)
      add(l, "task_cpu_ms", st.cpuNs / 1e6)
      add(l, "gc_ms", st.gcMs.toDouble)
      add(l, "sched_delay_ms", st.schedDelayMs.toDouble)
      add(l, "shuffle_write_mb", st.shuffleBytes / 1048576.0)
    }
    planned.foreach { case (l, ms) => add(l, "plan_ms", ms) }
    qeCollector.done.asScala.foreach { q =>
      val l = execLayer.getOrElse(q.execId, layerAt(q.startMs))
      add(l, "plan_ms", q.planMs)
      add(l, "exec_ms", q.execMs)
    }
    val roots = spans.filter(_.parent < 0)
    val uncovered = roots.map(r =>
      r.ms - spans.filter(_.parent == r.id).map(_.ms).sum).sum
    val opMs = roots.map(r => r.ms - probeMs(r.op)).sum
    val out = for (l <- layers; m <- Metrics) yield {
      val k = s"$l.$m"
      k -> acc(k) / nOps
    }
    out.toMap + ("uncovered_pct" ->
      (if (roots.isEmpty) 0.0 else 100.0 * uncovered / opMs))
  }

  /** Fallback for a query with no job: the layer span open at its start. */
  private def layerAt(wallMs: Long): String =
    spans.filter(s => s.parent >= 0 && s.startMs <= wallMs && wallMs <= s.endMs)
      .lastOption.map(_.name).getOrElse(Unattributed)

  def spansJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "probe" -> s.probe, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"
  val Metrics: Seq[String] = Seq("build_ms", "plan_ms", "exec_ms", "jobs",
    "task_cpu_ms", "gc_ms", "sched_delay_ms", "shuffle_write_mb")

  /** Analysis + optimization + planning, as the query's tracker saw it */
  def planMs(tracker: QueryPlanningTracker): Double =
    Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(tracker.phases.get)
      .map(p => p.endTimeMs - p.startTimeMs).sum.toDouble

  final case class JobInfo(span: Option[Int], exec: Option[Long],
      timeMs: Long)
  final class StageAcc(val stageId: Int) {
    var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L; var shuffleBytes = 0L
  }

  final class Collector extends SparkListener {
    val jobs = new ConcurrentHashMap[Integer, JobInfo]()
    val stageJob = new ConcurrentHashMap[Integer, Integer]()
    val stages = new ConcurrentHashMap[Integer, StageAcc]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs.put(e.jobId, JobInfo(
        p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
          .map(_.toLong), e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val st = stages.computeIfAbsent(e.stageId, s => new StageAcc(s))
      val i = e.taskInfo
      // the Spark UI's definition: time the task spent neither
      // deserializing, running, serializing nor shipping its result
      val delay = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime)
      st.synchronized {
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.schedDelayMs += delay
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  final case class QeRecord(execId: Long, startMs: Long, planMs: Double,
      execMs: Double)

  final class QeCollector extends QueryExecutionListener {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QeRecord]()

    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val start = qe.tracker.phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      done.add(QeRecord(qe.id, start, planMs(qe.tracker), durationNs / 1e6))
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe, durationNs)

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe, 0L)
  }
}
