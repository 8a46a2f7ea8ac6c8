package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Benchmark main (driver contract): times the [[BenchTable]] workloads
  * — the HEADLINE registry query set from BASELINE.md (not the whole
  * registry, which is sized for correctness coverage, not timing), the
  * stress entries and the stream≡batch witnesses — and prints the JSON
  * record plus a compact summary line.
  *
  * Each query is materialized through the `noop` sink so every projected
  * column is actually computed (a bare `.count()` would let Catalyst
  * prune the aggregates away and time an empty scan).
  *
  * This object is the harness: warm-up, reps, noisy-retry, host guard,
  * state-store provider pairs, env block and JSON output. The table
  * says what runs; nothing here names an entry except the summary's
  * legacy-9 split and the fixtures forced before the timed stress reps.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default = ALL processors, matching the driver's official shape
    // (the old default of 4 silently under-measured the stream-stream
    // witnesses ~4x for three rounds — 16 state stores per trigger
    // instead of 128; see BENCH.md r17 "second factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // Scratch (shuffle files, RocksDB state-store working dirs) pins
    // to tmpfs when present — the disk-weather fix's second half (the
    // first is the witness checkpoint base below): with checkpoints on
    // tmpfs but spark.local.dir on /tmp, a background fsync load still
    // inflated the RocksDB join witness 160-195 s (its SST/WAL writes
    // ride the local dir) while the HDFS provider sat at 4.7-6.3 s.
    // Bench working sets are MBs at sf0.1 — tmpfs is safe; a real
    // cluster sizes local dirs deliberately, which is exactly why the
    // bench must not measure this host's disk instead of the engine.
    val localDir = tmpfsDir("local")
    val spark = LocalSession.start(cpus,
      "spark.local.dir" -> localDir,
      "spark.sql.adaptive.enabled" -> "true",
      // the stream witnesses read their own decomposition out of
      // recentProgress, which Spark caps (default 100 updates) — a
      // witness with more triggers would silently undercount batch_sum
      // and misattribute the gap to overhead
      "spark.sql.streaming.numRecentProgressUpdates" -> "2000",
      // Fork-free local checkpoint filesystem (r17 — the stream-join
      // session-variable fix; see NioLocalFs's scaladoc + BENCH.md):
      // stock Hadoop local FS FORKS a process per checkpoint-file
      // create (chmod) and per atomic rename (readlink), so the
      // state-commit-heavy witnesses measured the guest's fork+exec
      // latency (3-4x apart across VM kernels: 19-22 s vs 4-6 s for
      // identical engine work) instead of the engine. Same pinning
      // rationale as the tmpfs scratch dirs: a production checkpoint
      // store (HDFS/S3) never forks per file. Spark's own checkpoint
      // checksum layer stays at its default.
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        "graft.sources.NioLocalAfs")

    val table = new BenchTable(spark, sfDir)
    // Witness CHECKPOINTS pin to tmpfs (/dev/shm) when present — the
    // r15 verdict's 3× stream-join mode, reproduced here under an
    // fsync disk load on /tmp (CPU loadavg ~4): HDFS-provider walls
    // inflate 2-3× plus ~10 s of post-stop checkpoint cleanup, and
    // RocksDB goes 113-164 s — the witness was measuring the VM's
    // DISK WEATHER, which CPU loadavg cannot see. These witnesses
    // exist to compare the ENGINE round over round; production state
    // durability lives on a distributed store with its own SLO. State
    // size here is MBs (bounded by watermark), so tmpfs is safe; the
    // per-batch/state_commit decomposition still records the commit
    // cost honestly. Falls back to java.io.tmpdir when no tmpfs.
    val ckptBase = tmpfsDir("ckpt")
    val harness = new WitnessHarness(spark, ckptBase)
    // Dev-only iteration aid: SPARK_GRAFT_STRESS_FILTER=<substring>
    // restricts the stress + streaming-witness entries, skips the
    // headline warm-up and reps (and the recall block unless the filter
    // matches "recall") so one entry can be re-timed without paying the
    // full suite. Official runs leave it unset — the JSON contract and
    // entry set are unchanged.
    val stressFilter = sys.env.get("SPARK_GRAFT_STRESS_FILTER")
    def keepStress(n: String): Boolean = stressFilter.forall(n.contains)
    val queries = SparkEntry.queries
    val entries: Seq[(String, () => DataFrame)] =
      if (stressFilter.isDefined) Seq.empty
      else BenchTable.headline.filter(queries.contains)
        .map(n => n -> (() => queries(n)(spark, sfDir)))
    val stressEntries = table.stress().filter(e => keepStress(e._1))

    val (loadStart, hostBusyAtStart) = hostGuard()

    // Warmup: pay one-time session/codegen/JIT/parquet-footer costs
    // outside the measured loop, as any long-lived cluster would have —
    // each headline query runs once unmeasured, then 3 measured reps.
    // r20 (r19 verdict task #3): the warmup times are RECORDED in the
    // JSON (`warmup`) next to the rep medians, so queries whose steady
    // state rides a cache warmed here (minhash's persisted signature/
    // fingerprint frames) carry their cold first-run cost in the same
    // artifact — warm-vs-cold is auditable without re-running. Nothing
    // about the timed region changes.
    val warmupTimes: Seq[(String, Double)] =
      entries.map { case (n, f) => n -> runOnce(n, f) }

    // Median of 3 reps per query: a single-shot number on a contended
    // host has misstated totals by 2-3x; the median is robust to one
    // noisy rep and the per-rep times are kept in the JSON for audit.
    // Malformed or non-positive rep overrides fall back to 3 — reps=0
    // would silently report every query as excluded-as-failed.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1)
      .getOrElse(3)
    val (results, noisy, attemptTotals) =
      measureWithRetry(entries, reps, hostBusyAtStart, loadStart)
    val qs = obj(results.map { case (k, m, _) => k -> m })
    val rs = obj(results.map { case (k, _, ts) => k -> ts.mkString("[", ",", "]") })
    val st = obj(entries.map { case (n, f) => n -> planStages(f) })
    val total = totalOf(results)

    // Stress witnesses (r12 verdict task #2): TWO reps each, reporting
    // the MIN — twice the official single-rep stress numbers were 2×
    // contention-inflated (lsh 14.3 vs 6.8 idle, stream_join 55 vs 32),
    // making round-over-round witness comparison noise-limited. The
    // work is deterministic, so timing noise is strictly additive and
    // the min of two is the honest steady-state estimate; every rep
    // stays in stress_reps for audit, and stress_noisy flags any entry
    // whose worst rep exceeds 3× its best. A diff failure in ANY rep
    // reports -1 (semantics failures must stay loud, never be
    // min'd away).
    def stressReps(run: () => Double): Vector[Double] =
      Vector.fill(2)(run())
    val streamWitnesses = new BenchWitnesses(spark, sfDir, harness).all
      .filter(e => keepStress(e._1))
    // One-time witness fixtures (the WET shard write) materialize
    // OUTSIDE the timed reps — otherwise rep 1 carries setup, the
    // rep split trips the 3× noise detector, and min-of-reps silently
    // absorbs a cost that was never ingest throughput.
    System.err.println(s"[bench] wet shards staged at ${table.wetShards._1}")
    if (keepStress("ivfpq_probe_stress")) {
      // index build (quantizer training + write) is fixture cost, not
      // serving cost — force it outside the timed reps
      System.err.println(s"[bench] ivfpq index staged at ${table.ivfPqIndexDir}")
    }
    table.warmUp()
    // Streaming witnesses get the SAME min-of-2-reps treatment the
    // non-streaming stress entries got in r13 (r14 verdict task #8:
    // the official single-rep stream_join numbers ran 19-21 s where
    // an idle-host re-run measured 5-7 s — contention-dominated, so
    // single-rep round-over-round comparison was noise-limited). Tags
    // stay unique per rep: queryNames/temp tables are tag-derived.
    // Each witness runs once per STATE-STORE PROVIDER (r12 verdict
    // task #3): the default HDFS-backed provider keeps the
    // round-over-round series comparable with r12, and RocksDB — the
    // provider a 100 TB streaming state actually deploys (state
    // off-heap in a native LSM with incremental snapshots, instead of
    // a full on-heap copy snapshotted per batch) — is recorded beside
    // it as <name>_rocksdb. Each provider run independently re-diffs
    // the streamed result against its batch twin, so stream≡batch is
    // witnessed under BOTH providers, and the pair doubles as two
    // timings of near-identical work for the contention check.
    val stressResults: Seq[(String, Vector[Double])] =
      stressEntries.map { case (n, f) =>
        (n, stressReps(() => runOnce(n, f)))
      } ++
      streamWitnesses.flatMap { case (n, w) =>
        Seq(
          n -> Vector(
            withStateProvider(spark, None)(w("h1")),
            withStateProvider(spark, None)(w("h2"))),
          (n + "_rocksdb") -> Vector(
            withStateProvider(spark, Some(RocksDb))(w("r1")),
            withStateProvider(spark, Some(RocksDb))(w("r2"))))
      }
    // Noise detection: within-entry (any 2-rep entry whose worst rep
    // exceeds 3× its best) AND across each streaming witness's
    // provider pair — the two provider runs do near-identical work
    // (RocksDB commit overhead stays well under 2× of HDFS here), so
    // a >3× split between the pair's best reps is host contention.
    val stressByName = stressResults.toMap
    val providerPairNoisy = streamWitnesses.exists { case (n, _) =>
      val pair = Seq(n, n + "_rocksdb").flatMap(stressByName.get)
        .map(_.filter(_ > 0)).filter(_.nonEmpty).map(_.min)
      pair.size == 2 && pair.max / pair.min > 3.0
    }
    val stressNoisy = providerPairNoisy || stressResults.exists {
      case (_, ts) =>
        val ok = ts.filter(_ >= 0)
        ok.size >= 2 && ok.min > 0 && ok.max / ok.min > 3.0
    }
    val str = obj(stressResults.map { case (k, ts) => k -> minOrFail(ts) })
    val strReps = obj(stressResults.map { case (k, ts) =>
      k -> ts.mkString("[", ",", "]") })

    // OPTIONAL scaling probe (r20, r19 verdict task #7). At sf0.1
    // every headline query is overhead-bound — the driver's 8-core vs
    // 32-core ratios all sit near 1 because per-job fixed cost
    // dominates sub-second queries, so the scaling block cannot
    // witness parallelism. SPARK_GRAFT_BENCH_SCALE=k (k ≥ 1) times
    // three headline shapes with the FACT side amplified k×
    // ([[BenchTable.scaleProbe]]). Results go in a SEPARATE
    // `scale_probe` field (min of 2 reps, like stress): the official
    // `queries`/total series is untouched, and the driver's contract
    // output is byte-identical when the env var is unset. Run the
    // bench twice (SPARK_GRAFT_CPUS=32 then =8) with the same k and
    // compare scale_probe entries — at k=100 the shapes are
    // seconds-long compute and the 8→32-core ratio witnesses parallel
    // speedup (measured ≥ 2× — OPTIMIZATION_r20.md).
    val scaleProbe: Seq[(String, Vector[Double])] =
      sys.env.get("SPARK_GRAFT_BENCH_SCALE")
        .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ >= 1)
        .toSeq.flatMap(table.scaleProbe)
        .map { case (n, f) => n -> stressReps(() => runOnce(n, f)) }
    val scaleProbeJson = obj(scaleProbe.map { case (k, ts) =>
      k -> minOrFail(ts) })

    val recallJson =
      obj(if (keepStress("recall")) table.annRecall() else Seq.empty)

    // the IVF-PQ fixture is a full per-cell code layout under tmp —
    // don't leave it accumulating across runs (pid-keyed dirs pile up)
    if (keepStress("ivfpq_probe_stress"))
      deleteTree(spark, table.ivfPqIndexDir)

    // tmpfs checkpoint litter is RAM — always clean it up (the
    // spark.local.dir tree is cleaned after spark.stop() below; Spark
    // holds it until shutdown)
    rmrf(new java.io.File(ckptBase))
    val loadEnd = loadAvg()
    val envJson = envBlock(cpus)
    val at = attemptTotals.mkString("[", ",", "]")
    // Previous-run comparison (r15 verdict task #5's second half):
    // a >1.5× total jump joins the load guard in host_busy — the flag
    // that says "read this point with suspicion", distinct from
    // `noisy` (intra-run rep spread, which equal load on both reps
    // cannot trip). The series is SELF-OWNED (BENCH_HISTORY.jsonl in
    // the working directory, appended only by official-shape runs —
    // default reps, no stress filter): the driver's BENCH_r*.json
    // files left-truncate the output line, so the prior total is not
    // recoverable from them. Same-sf entries only.
    val historyFile = new java.io.File("BENCH_HISTORY.jsonl")
    val officialShape = stressFilter.isEmpty && reps == 3
    val prevTotal: Option[Double] = try {
      if (!historyFile.exists()) None
      else scala.io.Source.fromFile(historyFile).getLines().toSeq
        .filter(_.contains("\"sf\":\"" + sfDir + "\""))
        .lastOption
        .flatMap(l => "\"total\":([0-9.]+)".r.findFirstMatchIn(l)
          .map(_.group(1).toDouble))
    } catch { case _: Throwable => None }
    if (officialShape) try {
      val w = new java.io.FileWriter(historyFile, true)
      try w.write(s"""{"epoch_ms":${System.currentTimeMillis()},""" +
        s""""total":$total,"noisy":$noisy,"sf":"$sfDir"}\n""")
      finally w.close()
    } catch { case _: Throwable => () }
    val vsPrev = prevTotal.filter(_ > 0).map(p => total / p)
    // loadEnd is informational ONLY — it is sampled right after the
    // bench's own 32-thread run, so it measures the bench itself and
    // ORing it into host_busy made the flag fire on every idle-start
    // official run (r16: end loads 9.3/14.4 vs threshold 8 — a guard
    // that always fires trains readers to ignore it). The flag keeps
    // the two signals that see EXTERNAL contamination: pre-run load
    // and the jump vs the previous official total.
    val hostBusy = hostBusyAtStart || vsPrev.exists(_ > 1.5)
    val vsPrevJson = vsPrev.map(r => r2(r).toString).getOrElse("null")
    val decompJson = obj(harness.decomp.toSeq)
    val wu = obj(warmupTimes)
    val scaleField =
      if (scaleProbe.isEmpty) "" else s""""scale_probe":$scaleProbeJson,"""
    val benchJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$rs,"warmup":$wu,"stages":$st,"stress":$str,"stress_reps":$strReps,"stress_noisy":$stressNoisy,$scaleField"recall":$recallJson,"stream_decomp":$decompJson,"env":$envJson,"loadavg":[$loadStart,$loadEnd],"noisy":$noisy,"host_busy":$hostBusy,"vs_prev":$vsPrevJson,"attempts":$at,"sf":"$sfDir"}"""
    println(benchJson)
    // COMPACT summary as a SECOND line, printed AFTER the full record
    // (r18 verdict task #1c): the driver captures a bounded TAIL of
    // stdout and has left "parsed": null for three rounds because the
    // full line outgrew it — this line is a few hundred bytes, lands
    // last, and carries everything a series reader needs (total,
    // legacy-9 subtotal, per-query medians, flags, both attempt
    // totals, and the host-state digest that the round-over-round
    // comparison rules require reading first). Same driver contract
    // shape: metric/value/unit/queries/sf.
    val legacy9 = totalOf(results.filter(_._1 != "classifier_train"))
    val envDigest = Seq("cpu_scale", "fork_ms").flatMap { k =>
      s""""$k":([0-9.]+)""".r.findFirstMatchIn(envJson)
        .map(m => s""","$k":${m.group(1)}""")
    }.mkString
    val summaryJson =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec",""" +
      s""""summary":true,"legacy9":${r2(legacy9)},"queries":$qs,""" +
      s""""noisy":$noisy,"host_busy":$hostBusy,"attempts":$at,""" +
      s""""vs_prev":$vsPrevJson,"loadavg":[$loadStart,$loadEnd]""" +
      s"""$envDigest,"sf":"$sfDir"}"""
    println(summaryJson)
    // ALSO to a file (r17 verdict task #7): the driver captures stdout
    // through sbt's [info]-prefixed pipe and has truncated the line in
    // two rounds ("parsed": null in BENCH_r16/r17) — BENCH_LAST.json
    // is the same single line, written directly, so the series always
    // has one parseable artifact per run. Override the path with
    // SPARK_GRAFT_BENCH_OUT.
    try {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "BENCH_LAST.json")
      val w = new java.io.FileWriter(outPath, false)
      try w.write(benchJson + "\n") finally w.close()
    } catch { case _: Throwable => () }
    spark.stop()
    rmrf(new java.io.File(localDir))
  }

  /** `{"k":v,...}` in the given order; values print with `toString`. */
  private def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private[graft] def r2(x: Double): Double = math.rint(x * 100) / 100

  /** `<java.io.tmpdir>/graft-bench-<kind>-<pid>`: a per-process path for
    * an entry's staged input or fixture. */
  private[graft] def tmpPath(kind: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-bench-$kind-" +
      ProcessHandle.current().pid()

  /** A fresh per-process `graft-bench-<kind>-<pid>` directory on tmpfs
    * (/dev/shm) when it is writable, else under java.io.tmpdir. */
  private def tmpfsDir(kind: String): String = {
    val shm = new java.io.File("/dev/shm")
    val parent =
      if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(sys.props("java.io.tmpdir"))
    val d = new java.io.File(parent,
      s"graft-bench-$kind-${ProcessHandle.current().pid()}")
    d.mkdirs()
    d.toString
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** Recursively deletes `dir` through the session's Hadoop filesystem. */
  private[graft] def deleteTree(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  // Host-contention self-identification (the r7 lesson: one official
  // run on a loaded host reported 48 s for a 5 s suite and stood
  // unexplained): 1-minute load average sampled at start and end, and
  // a `noisy` flag when any query's worst rep exceeds 3× its median.
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Pre-run HOST GUARD (r15 verdict task #5: the official run
    * recorded 11.19 s at loadavg 13.46 and `noisy` did not trip
    * because BOTH reps were equally loaded — the run must gate
    * ITSELF, not just its rep spread): when the 1-minute load
    * already exceeds ~2× cores/8 before any timing starts, wait
    * once for the transient to drain and re-sample; a still-busy
    * host proceeds (the driver needs a number) but the JSON carries
    * host_busy=true so the series marks the contaminated point even
    * when rep splits cannot see it. Returns (load at start, busy). */
  private def hostGuard(): (Double, Boolean) = {
    val busyThreshold = math.max(2.0,
      Runtime.getRuntime.availableProcessors() / 4.0)
    val loadFirst = loadAvg()
    val loadStart =
      if (loadFirst > busyThreshold) {
        System.err.println(f"[bench] loadavg $loadFirst%.2f > " +
          f"$busyThreshold%.1f before start — sleeping 60s for the " +
          "transient to drain")
        Thread.sleep(60000)
        loadAvg()
      } else loadFirst
    (loadStart, loadStart > busyThreshold)
  }

  // NOTE: DistScan.releaseCaches() is deliberately NOT called between
  // warmup and measurement — Spark's CacheManager matches persisted
  // plans structurally, so the measured run reusing the warmed
  // range-partition cache IS the steady state a long-lived cluster
  // sits in (releasing mid-bench re-times the one-off partitioning:
  // +50% total, all of it warmup cost this harness exists to exclude).
  private def runOnce(name: String, frame: () => DataFrame): Double = {
    val t0 = System.nanoTime()
    try frame().write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      return -1.0
    }
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[bench] $name: $secs%.2f s")
    secs
  }

  // Plan-shape signal: shuffle-exchange count per query (+1 = stage
  // count on a non-adaptive run). Wall-time noise can hide a plan
  // regression; an extra Exchange cannot hide from this.
  // (shuffles print as "Exchange hashpartitioning/rangepartitioning";
  // BroadcastExchange is not a stage boundary and ReusedExchange is a
  // pointer to an already-counted one — both excluded)
  private def planStages(frame: () => DataFrame): Int = {
    val plan = frame().queryExecution.executedPlan.toString
    plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("ReusedExchange")) + 1
  }

  /** (name, median of the ok reps or -1, every rep). */
  private type Reps = Seq[(String, Double, Vector[Double])]

  private def measure(entries: Seq[(String, () => DataFrame)],
      reps: Int): Reps =
    entries.map { case (n, f) =>
      val times = (1 to reps).map(_ => runOnce(n, f)).toVector
      val ok = times.filter(_ >= 0).sorted
      val median = if (ok.isEmpty) -1.0 else ok(ok.size / 2)
      (n, median, times)
    }

  // TWO split tests per query (r18 verdict task #1): worst/median
  // catches one slow rep; median/best catches the shape that poisoned
  // the official r18 record — TWO contended reps and one clean one
  // ([27.0, 29.9, 2.5]: max/median 1.1 passes, median/min 10.7 is
  // the tell). Either ratio > 3 marks the attempt noisy.
  private def isNoisy(rs: Reps): Boolean =
    rs.exists { case (_, m, ts) =>
      val ok = ts.filter(_ >= 0)
      m > 0 && ok.nonEmpty &&
        (ok.max / m > 3.0 || (ok.min > 0 && m / ok.min > 3.0))
    }

  private def totalOf(rs: Reps): Double = rs.map(_._2).filter(_ >= 0).sum

  /** Noisy-retry (three straight rounds shipped a contention-poisoned
    * official BENCH the harness merely flagged): when the first attempt
    * trips the noise detector — OR the host was already busy before
    * timing started (r18: host_busy=true flagged the 37.5 s record but
    * did not retry, and equal load across reps is exactly what the rep
    * splits cannot see) — wait for the transient load to drain and
    * measure ONCE more, then report the cleaner attempt; both attempt
    * totals stay in the JSON so nothing is hidden. Bounded at one
    * retry: a persistently loaded host reports noisy/host_busy as
    * before. Returns (results, noisy, attempt totals). */
  private def measureWithRetry(entries: Seq[(String, () => DataFrame)],
      reps: Int, hostBusyAtStart: Boolean,
      loadStart: Double): (Reps, Boolean, Seq[Double]) = {
    val attempt1 = measure(entries, reps)
    if (entries.isEmpty || (!isNoisy(attempt1) && !hostBusyAtStart))
      (attempt1, false, Seq(totalOf(attempt1)))
    else {
      val why = if (isNoisy(attempt1)) "noisy rep split" else
        f"host busy at start (loadavg $loadStart%.2f)"
      System.err.println(s"[bench] first attempt suspect ($why) — " +
        "sleeping 30s and re-measuring once")
      Thread.sleep(30000)
      val attempt2 = measure(entries, reps)
      val pick = if (totalOf(attempt2) <= totalOf(attempt1)) attempt2 else attempt1
      (pick, isNoisy(pick), Seq(totalOf(attempt1), totalOf(attempt2)))
    }
  }

  private val RocksDb = "org.apache.spark.sql.execution.streaming.state." +
    "RocksDBStateStoreProvider"

  private def withStateProvider[T](spark: SparkSession,
      provider: Option[String])(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    provider.foreach(spark.conf.set(key, _))
    try body finally provider.foreach { _ =>
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  private def minOrFail(ts: Vector[Double]): Double =
    if (ts.exists(_ < 0)) -1.0 else ts.min

  /** Session-environment attribution block (the stream-join hunt —
    * three environments measured 15-25 s where a fourth measured
    * 4-6 s on the same HEAD, with overhead ≈ 0 and uniformly
    * inflated task time; loadavg alone cannot attribute that): record
    * the variables that can differ per session, plus a direct CPU
    * throughput probe. `cpu_1t` is the seconds one thread needs for a
    * fixed integer spin; `cpu_scale` is the aggregate speedup when
    * every vCPU spins at once — on dedicated cores it sits near the
    * processor count, and a low value is host-level CPU
    * oversubscription (vCPU steal), which guest loadavg and /proc
    * cannot see when steal accounting is off (Firecracker). */
  private def envBlock(cpus: String): String = {
    def slurp(p: String): String =
      try scala.io.Source.fromFile(p).mkString.trim
      catch { case _: Throwable => "" }
    def spinOnce(iters: Long): Double = {
      val t0 = System.nanoTime()
      var x = 0L; var i = 0L
      while (i < iters) { x += i * 31 + 7; i += 1 }
      if (x == 42) System.err.print("") // keep the loop live
      (System.nanoTime() - t0) / 1e9
    }
    // fork+exec latency probe — THE stream-witness variable (r17
    // finding): state-store commits on local checkpoints fork a chmod
    // per file (RawLocalFileSystem without native libhadoop) plus the
    // Spark 4.1 checksum sidecars, so join-witness wall time is
    // fork-throughput-bound and fork latency varies 3-4× across
    // Firecracker guest kernels. ~20 forks ≈ tens of ms.
    def forkMs(): Double = {
      try {
        def one(): Unit = {
          val p = new ProcessBuilder("/bin/true").start()
          p.waitFor(); ()
        }
        (1 to 5).foreach(_ => one()) // warm the spawn path
        val t0 = System.nanoTime()
        val n = 20
        (1 to n).foreach(_ => one())
        r2((System.nanoTime() - t0) / 1e6 / n)
      } catch { case _: Throwable => -1.0 }
    }
    val procs = Runtime.getRuntime.availableProcessors()
    spinOnce(20000000L) // JIT warmup
    val spinIters = 400000000L
    // min of 3: a single 0.1-0.3 s sample is descheduling-noisy and
    // an inflated t1 reads as a nonsense >procs cpu_scale
    val t1 = (1 to 3).map(_ => spinOnce(spinIters)).min
    val threads = (0 until procs).map { _ =>
      new Thread(() => { spinOnce(spinIters); () })
    }
    val tm0 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val tMulti = (System.nanoTime() - tm0) / 1e9
    val scale = if (tMulti > 0) procs * t1 / tMulti else -1.0
    val cpu = slurp("/proc/cpuinfo").linesIterator
      .find(_.startsWith("model name")).fold("")(
        _.split(":").drop(1).mkString(":").trim)
    val uptime = slurp("/proc/uptime").split(" ").headOption
      .flatMap(s => scala.util.Try(s.toDouble.toLong).toOption)
      .getOrElse(-1L)
    val quota = slurp("/sys/fs/cgroup/cpu.max")
    val gov =
      slurp("/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor")
    s"""{"procs":$procs,"cpus_env":"$cpus",""" +
      s""""heap_gb":${r2(Runtime.getRuntime.maxMemory / 1e9)},""" +
      s""""jvm":"${System.getProperty("java.version")}",""" +
      s""""kernel":"${System.getProperty("os.version")}",""" +
      s""""cpu":"$cpu","uptime_s":$uptime,""" +
      s""""cpu_quota":"$quota","governor":"$gov",""" +
      s""""cpu_1t":${r2(t1)},"cpu_scale":${r2(scale)},""" +
      s""""fork_ms":${forkMs()}}"""
  }
}

/** The stream-witness harness: stages a witness's input, runs its
  * query to completion, records the run's decomposition, and diffs the
  * streamed result against its batch twin. Checkpoints live under
  * `ckptBase/<sub>_<tag>` and queries are named
  * `graft_stream_<sub>_<tag>` (a foreachBatch run may name its query
  * apart), so every tag gets fresh ones. */
final class WitnessHarness(spark: SparkSession, ckptBase: String) {
  // Per-run decomposition of the witnesses (r15 verdict task #4: two
  // same-host chains measured 4-6 s vs 15-18 s with reps AGREEING —
  // something fixed-cost or I/O-mode-dependent, not rep noise):
  // wall = query start → processAllAvailable returns; batch_sum = Σ
  // per-trigger triggerExecution from the progress log; overhead =
  // wall − batch_sum (stream startup, source listing, final no-data
  // trigger). Memory-sink runs add state_commit = Σ per-trigger
  // stateOperators commit times — the disk-placement-sensitive slice —
  // plus, for per-session attribution (the stream-join hunt), the
  // state-store fan-out per trigger (shuffle partitions × stateful
  // operators) and the final state row count, so a divergent run
  // shows whether it did MORE state work or the SAME work slower.
  // foreachBatch runs keep their cost in the sink lambda (jobs the
  // progress log times as addBatch), so they record wall vs Σ
  // triggerExecution only (r16 verdict task #7). The entries are
  // printed per run and shipped in the bench JSON so a divergent
  // official run can be attributed without a re-run.
  /** `<witness>_<tag>` → decomposition JSON, in run order. */
  val decomp = scala.collection.mutable.LinkedHashMap[String, String]()

  private def record(name: String, tag: String, t0: Long, q: StreamingQuery,
      state: Boolean): Unit = {
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.toSeq
    val batches = prog.map(p =>
      Option(p.durationMs.get("triggerExecution"))
        .fold(0.0)(_.toDouble / 1000))
    val batchSum = batches.sum
    val stateFields = if (!state) "" else {
      val ops = prog.flatMap(_.stateOperators.toSeq)
      val commit = ops.map(o => o.allUpdatesTimeMs + o.commitTimeMs)
        .sum / 1000.0
      val shufParts = ops.headOption.fold(0)(_.numShufflePartitions.toInt)
      val stateRows = prog.lastOption
        .flatMap(_.stateOperators.headOption).fold(0L)(_.numRowsTotal)
      s""""state_commit":${Bench.r2(commit)},""" +
        s""""shuffle_parts":$shufParts,"state_rows":$stateRows,"""
    }
    val entry =
      s"""{"wall":${Bench.r2(wall)},"batch_sum":${Bench.r2(batchSum)},""" +
        s""""overhead":${Bench.r2(wall - batchSum)},""" + stateFields +
        s""""batches":[${batches.map(Bench.r2).mkString(",")}]}"""
    decomp(s"${name}_$tag") = entry
    System.err.println(s"[bench] decomp ${name}_$tag: $entry")
  }

  /** Writes `df` to `dir` as 16 files range-partitioned and sorted on
    * `key`, and returns the staged schema. FileStreamSource replays in
    * MODIFICATION-TIME order, and the 16 parallel part writers finish
    * in arbitrary ms order — left alone the ranges replay scrambled,
    * the watermark leaps ahead on the first out-of-order file, and
    * genuinely-early rows get dropped as late. So the mtimes are
    * stamped in part order (= range order): the replay is what it
    * models, an ordered historical backfill. */
  def stage16(df: DataFrame, key: String, dir: String): StructType = {
    df.repartitionByRange(16, col(key)).sortWithinPartitions(key)
      .write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified((i + 1) * 60000L) }
    spark.read.parquet(dir).schema
  }

  /** The staged files as a parquet file-source stream,
    * `filesPerTrigger` files per micro-batch. */
  def replay(dir: String, schema: StructType,
      filesPerTrigger: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(dir)

  /** Runs `df` into the memory sink `graft_stream_<sub>_<tag>` until
    * all input is processed and records its decomposition with the
    * state fields. Returns the seconds since `t0`, taken once the query
    * stopped, and the sink's table. */
  def toMemory(name: String, tag: String, t0: Long, df: DataFrame,
      mode: String, sub: String): (Double, DataFrame) = {
    val table = s"graft_stream_${sub}_$tag"
    val q = df.writeStream.outputMode(mode).format("memory")
      .option("checkpointLocation", s"$ckptBase/${sub}_$tag")
      .queryName(table).start()
    try { q.processAllAvailable()
      record(name, tag, t0, q, state = true)
    } finally q.stop()
    ((System.nanoTime() - t0) / 1e9, spark.table(table))
  }

  /** Runs `df` in append mode into `sink` (checkpoint `<sub>_<tag>`,
    * query `graft_stream_<query>_<tag>`) until all input is processed
    * and records its decomposition without the state fields. Returns
    * the seconds since `t0`, taken once the query stopped. */
  def toForeach(name: String, tag: String, t0: Long, df: DataFrame,
      sub: String, query: String)(sink: (DataFrame, Long) => Unit): Double = {
    val q = df.writeStream.outputMode("append")
      .option("checkpointLocation", s"$ckptBase/${sub}_$tag")
      .foreachBatch(sink)
      .queryName(s"graft_stream_${query}_$tag").start()
    try { q.processAllAvailable()
      record(name, tag, t0, q, state = false)
    } finally q.stop()
    (System.nanoTime() - t0) / 1e9
  }

  /** The crash-recovery loop: streams `frame()` into a per-batch
    * partition-overwrite parquet sink under `out` (idempotent on
    * replay), throws out of the sink once, after batch `killAt`'s rows
    * landed and before its epoch commits, then restarts from the same
    * checkpoint and runs to completion. The seconds span BOTH runs;
    * None when the kill never fired. */
  def killThenRestart(name: String, tag: String, sub: String, out: String,
      killAt: Long)(frame: () => DataFrame): Option[Double] = {
    @volatile var killed = false
    val t0 = System.nanoTime()
    def run(): Unit =
      try toForeach(name, tag, t0, frame(), sub, sub) { (df, bid) =>
        df.write.mode("overwrite").parquet(s"$out/batch_id=$bid")
        if (bid == killAt && !killed) { killed = true
          sys.error(s"bench: injected crash after batch $killAt's rows " +
            "landed, before its epoch commit") }
      } catch { case _: Exception => () }
    run() // dies mid-stream on the injected crash
    if (!killed) {
      System.err.println(s"[bench] $name: the kill never fired (input " +
        s"produced < ${killAt + 1} batches) — reporting -1")
      None
    } else {
      run() // restart from the checkpoint, run to completion
      Some((System.nanoTime() - t0) / 1e9)
    }
  }

  /** `secs` when `streamed` and `batch` hold the same rows (as
    * multisets), else -1, logging how many rows differ. */
  def sameRows(name: String, between: String, streamed: DataFrame,
      batch: DataFrame, secs: Double): Double = {
    val diff = streamed.exceptAll(batch).count() +
      batch.exceptAll(streamed).count()
    if (diff == 0) secs
    else {
      System.err.println(s"[bench] $name: $diff rows differ between " +
        s"$between — reporting -1")
      -1.0
    }
  }

  /** Runs `body` at `n` shuffle partitions, then restores the session's. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
