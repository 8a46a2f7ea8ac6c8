package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's engine side: set-up rounds, the timed closed loop (one
  * client; each op waits for its result) and, with `--trace 1`, the
  * traced run. Writes one JSON result file; `run.py` turns it into the
  * reported metrics.
  *
  * Args: --workload W --inputs DIR --work DIR --seconds S --min-ops K
  *       --trace 0|1 --rounds R --cores N --out FILE
  */
object Main {
  /** `probeMs`: the part of `ms` spent in the traced run's probes */
  final case class OpRecord(i: Int, name: String, ms: Double, ok: Boolean,
      traced: Boolean, probeMs: Double, error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val work = a("work")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    createPoolThreads()

    // Set-up rounds: each builds a Spark session and opens the inputs; the
    // first also pays JVM start. The warm-up ops (JIT, codegen) run once,
    // in the last round's session, and are timed on their own.
    val sessionMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    for (round <- 1 to a("rounds").toInt) {
      if (spark != null) spark.stop()
      val t0 = if (round == 1) jvmStartMs else System.currentTimeMillis()
      spark = session(cores, work)
      wl = Workload(a("workload"), spark, a("inputs"), work)
      sessionMs += (System.currentTimeMillis() - t0).toDouble
    }
    val w0 = System.nanoTime()
    wl.warmUp(new Tracer(spark))
    val warmUpMs = (System.nanoTime() - w0) / 1e6

    val tracer = new Tracer(spark)
    val heap = new HeapPeak
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    // The traced run settles for one untraced unit of work, then repeats
    // units in the order untraced, traced, traced, untraced, so that both
    // sides see the same mix and a steady drift (JIT, a growing index)
    // cancels. Every run times at least --min-ops ops and --seconds, and
    // ends on a whole pass of the mix.
    val (settle, boundary) = if (trace) (1, 4 * wl.unit) else (0, wl.unit)
    val minOps = settle * wl.unit + a("min-ops").toInt
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    def more(i: Int): Boolean = i < minOps || System.nanoTime() < deadline ||
      (i - settle * wl.unit) % boundary != 0
    var i = 0
    while (wl.hasOp(i) && more(i)) {
      val unit = i / wl.unit - settle
      val traced = trace && unit >= 0 && Set(1, 2)(unit % 4)
      val t0 = System.nanoTime()
      val err = try {
        tracer.op(i, wl.opName(i), traced)(wl.run(i, tracer)); null
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] op $i failed: $e")
        e.toString
      }
      ops += OpRecord(i, wl.opName(i), (System.nanoTime() - t0) / 1e6,
        err == null, traced, tracer.probeMs(i), err)
      i += 1
    }
    val inputsExhausted = !wl.hasOp(i) && more(i)
    val c0 = System.nanoTime()
    val checks = wl.check(ops.size)
    val checkMs = (System.nanoTime() - c0) / 1e6
    val counts = if (trace) wl.counts() else Map.empty[String, Any]
    val layerMetrics =
      if (trace) tracer.layerMetrics(wl.layers :+ "sink" :+ Tracer.Unattributed)
      else Map.empty[String, Double]
    if (trace) Files.write(Paths.get(a("work"), "spans.json"),
      tracer.spansJson.getBytes(UTF_8))

    val result = Json.obj(
      "session_ms" -> sessionMs,
      "warm_up_ms" -> warmUpMs,
      "check_ms" -> checkMs,
      "ops" -> ops.map(o => Json.Raw(Json.obj("i" -> o.i, "name" -> o.name,
        "ms" -> o.ms, "ok" -> o.ok, "traced" -> o.traced,
        "probe_ms" -> o.probeMs, "error" -> o.error))),
      "unit" -> wl.unit,
      "inputs_exhausted" -> inputsExhausted,
      "checks" -> checks,
      "counts" -> counts,
      "layers" -> layerMetrics,
      "heap_peak_mb" -> heap.peakMb,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version)
    spark.stop()
    Files.write(Paths.get(a("out")), result.getBytes(UTF_8))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Hadoop's local filesystem forks a chmod (and a readlink) process
      // per file it creates or renames when libhadoop is absent; the
      // repository's fork-free binding keeps host fork latency, which
      // varies severalfold between hosts, out of the measurement
      .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFs")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.NioLocalAfs")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Starts every worker of the global execution context before any span
    * tag is set, so engine `Future`s never run on a thread that inherited
    * a span tag (their jobs then count as unattributed). */
  private def createPoolThreads(): Unit = {
    val n = Runtime.getRuntime.availableProcessors
    val all = new CountDownLatch(n)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = (1 to n).map(_ => Future { all.countDown(); all.await() })
    fs.foreach(Await.result(_, Duration.Inf))
  }
}

/** Largest old-generation occupancy seen right after any collection. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo
        .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (k, u) if k.contains("Old") || k.contains("Tenured") =>
          u.getUsed }.sum
      peak.accumulateAndGet(old, (a, b) => math.max(a, b))
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak.get / 1048576.0
}
