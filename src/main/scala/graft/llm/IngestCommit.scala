package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** EXACTLY-ONCE ingest for the incremental curation loops.
  *
  * Spark's `foreachBatch` is at-least-once by contract: after a crash,
  * the last batch whose offsets were logged but whose epoch was never
  * committed REPLAYS with the identical input file set. The batch
  * incremental operators ([[TextDedupOps.dedupIncremental]] /
  * [[TextDedupOps.lshIncrementalIndexed]]) are pure, but the SINK
  * side of an ingest loop — append survivors to the corpus, append
  * their signatures to the persisted index — is not idempotent as
  * plain parquet appends: a replay double-appends the survivors
  * (duplicate corpus rows) and their signatures (duplicate band rows
  * that inflate `maxBucketSize` bucket counts and can silently
  * suppress real candidates near the cap). Worse, the replayed
  * survivor COMPUTATION consults an index that already contains the
  * crashed attempt's rows, so every replayed doc near-dup-matches its
  * own half-committed copy and the batch's survivors vanish — losing
  * data, the exact failure a 100 TB nightly ingest cannot have.
  *
  * This module closes the loop with a COMMIT LOG (the lakehouse
  * write-audit-publish pattern, re-expressed minimally):
  *
  *   - `<log>/`: filename-encoded markers — one empty
  *     `begin-<batchId>` / `commit-<batchId>` file per event, created
  *     atomically; the committed HIGH-WATER-MARK is the max commit
  *     marker. foreachBatch ids are strictly increasing and
  *     sequential, so a single hwm (not a set) captures the committed
  *     prefix. Reading the log is one directory listing and writing a
  *     marker one FS create — the protocol adds NO Spark jobs to a
  *     micro-batch.
  *   - A replayed batch with id ≤ hwm SKIPS entirely — the whole
  *     batch effect is already durable.
  *   - Corpus writes go to `corpusDir/ingest_id=<batch>` partition
  *     directories with OVERWRITE semantics — a replay self-cleans
  *     any partial files. Readers ([[committedCorpus]]) filter
  *     `ingest_id <= hwm`, a pure partition prune, so uncommitted
  *     data is never read even while it sits on disk.
  *   - Index appends are STAMPED with `ingest_id` (see
  *     [[TextDedupOps.appendSigsToIndex]]); committed readers filter
  *     by the hwm, and a replay whose previous attempt died
  *     mid-append subtracts the already-visible stamped rows
  *     (`exceptAll` — sound because the replayed computation is
  *     deterministic) before appending the remainder.
  *   - The `begin` marker is the write-ahead half: it is appended
  *     BEFORE any index write, so a replay knows whether the
  *     recovery subtraction is needed at all (absent begin ⇒ plain
  *     append, no extra scan on the happy path).
  *
  * With the log in place, intra-batch WRITE ORDER no longer carries
  * correctness weight (uncommitted rows are invisible regardless of
  * which write crashed), and maintenance (vacuum/compaction) refuses
  * to run over an in-flight batch — see [[maintain]].
  *
  * SINGLE-WRITER CONTRACT (r18 verdict task #4): one store (one commit
  * log) takes ONE ingest writer — a single streaming query whose
  * foreachBatch ids are strictly increasing and sequential (Spark's
  * own contract for one checkpoint). Backfills run through the same
  * query, or between streams with batch ids that CONTINUE the
  * sequence — never a second concurrent query. The entry protocol
  * enforces everything the log can observe:
  *   - `batchId == hwm` skips (the benign redelivery: a crash between
  *     this module's commit marker and Spark's own epoch commit
  *     re-offers exactly the last committed batch);
  *   - `batchId < hwm` REJECTS loudly — batch ids regressed, the
  *     signature of a stream restarted with a FRESH checkpoint (ids
  *     reset to 0); a silent skip would drop that stream's new data;
  *   - a begun-but-uncommitted marker for a DIFFERENT id REJECTS —
  *     the only in-flight id an entry may see is its own crashed
  *     attempt; anything else is a skipped-ahead batch or a second
  *     writer, whose partial stamped rows this batch's commit would
  *     otherwise promote to committed (the ADVICE-flagged hazard);
  *   - two writers racing the SAME fresh batch id inside one listing
  *     window are caught by the begin marker's atomic
  *     create-if-absent: the loser's create finds the winner's file
  *     and REJECTS before any write (on object stores without atomic
  *     create-if-absent, front the log with a consistent store — the
  *     same caveat the log carries generally).
  * A replayed RECOVERY of an in-flight id cannot distinguish its own
  * crashed begin from a live twin's — recovery remains single-writer
  * by contract.
  *
  * MAINTENANCE LEASE (r18 verdict task #2): vacuum/compaction REWRITE
  * the index (folding stamps into the unstamped base), so an ingest
  * append racing the rewrite would land in the old directory and be
  * silently dropped by the swap. Maintenance therefore runs under a
  * `maint-<stamp>` lease marker in the log dir
  * ([[withMaintenanceLease]]): each side writes its INTENT first and
  * checks the other's second — maintenance creates the lease, then
  * checks for in-flight begins; ingest creates its begin, then checks
  * for leases (retracting the begin if it backs off) — so at most one
  * side can proceed, on any filesystem with read-after-write listing
  * visibility. A lease left by a maintainer that died mid-rewrite
  * blocks ingest until the SAME maintenance op is re-run (idempotent:
  * IndexSwap recovery + rewrite complete the job and release), or
  * [[breakMaintenanceLease]] clears it manually.
  *
  * STORE PROTOCOL: the four exactly-once stores — the ingested
  * corpus, the LSH index, the SimHash store, the IVF-PQ index — share
  * one tombstone delete/read/anti-join ([[appendTombstones]],
  * [[readTombstones]], [[minusTombstones]]), one maintenance entry
  * ([[maintain]]: lease, swap recovery, in-flight guard, the store's
  * own rewrite, tombstone clear) and one publish-then-commit step
  * ([[publishAndCommit]]), all defined in this module; each store
  * keeps only its layout ([[Store]]) and its rewrite.
  *
  * DELETES vs RECOVERY: tombstone deletes (the deleteFrom* ops) are
  * legal at ANY point, including between a crashed
  * ingest attempt and its replay — soundness rests on monotonicity:
  * a delete only REMOVES matches, so the replay's survivor set is
  * always a SUPERSET of the crashed attempt's, and the exceptAll
  * recovery subtraction (visible stamped rows ⊆ recomputed
  * survivors) never strands a stale row. Appends cannot shrink the
  * view mid-batch because the single-writer contract serializes
  * them. IngestCommitSpec pins the delete-between-crash-and-replay
  * interleaving.
  *
  * CORPUS TAKEDOWN (r19): [[deleteFromCorpus]] tombstones document
  * ids out of every committed read (and out of the exact-dedup
  * matching view — a taken-down doc surrenders its claim on the
  * content); [[vacuumCorpus]] folds the tombstones physically by
  * rewriting ONLY the affected `ingest_id` partitions under the
  * maintenance lease — the compliance delete path, O(affected
  * batches) not O(corpus).
  *
  * Scale: per batch the log costs ONE directory listing (≤ 2 marker
  * files per batch between compactions;
  * [[TextDedupOps.compactLshIndex]] folds the history to a single
  * marker) and 1-2 atomic file creates — no Spark jobs. Recovery —
  * the rare path — costs one stamped-row scan bounded by parquet
  * row-group stats to roughly the crashed batch's own files.
  *
  * Reference semantics: the reference engine's eager single-process
  * loops get exactly-once trivially (one process, one store); this is
  * the distributed re-expression a restartable 100 TB pipeline needs.
  */
object IngestCommit {

  // The log is FILENAME-ENCODED: one empty marker file per event,
  // `begin-<batchId>` / `commit-<batchId>`. The name IS the record,
  // so reading the log is ONE directory listing (no Spark job, no
  // parquet — the first cut stored parquet rows and paid 2-3 driver
  // jobs per micro-batch, measurable on the ingest witnesses), and
  // writing a marker is one atomic create. Compaction is plain file
  // deletes (keep the max commit marker) — every intermediate state
  // of a crashed compaction parses to the same (hwm, in-flight). On
  // object stores without atomic create-if-absent, front the log dir
  // with a consistent store — the same caveat IndexSwap documents.
  private val MarkerRe = "(begin|commit)-([0-9]+)".r

  private def fsOf(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Maintenance-lease marker prefix — `maint-<nanotime stamp>`.
    * Deliberately OUTSIDE MarkerRe: lease files are invisible to the
    * hwm/in-flight parse and survive [[compactIngestLog]]. */
  private val LeasePrefix = "maint-"

  /** (committed high-water-mark, begun-but-uncommitted batch ids,
    * live maintenance leases). (-1, ∅, ∅) for a missing or empty
    * log. One FS listing. */
  private def logStateFull(spark: SparkSession,
      logDir: String): (Long, Set[Long], Seq[String]) = {
    val p = new org.apache.hadoop.fs.Path(logDir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return (-1L, Set.empty, Nil)
    val names = fs.listStatus(p).map(_.getPath.getName)
    val committed = names.collect { case MarkerRe("commit", id) => id.toLong }
    val begun = names.collect { case MarkerRe("begin", id) => id.toLong }
    val leases = names.filter(_.startsWith(LeasePrefix)).toSeq.sorted
    (if (committed.isEmpty) -1L else committed.max,
      begun.toSet -- committed.toSet, leases)
  }

  /** (committed high-water-mark, begun-but-uncommitted batch ids).
    * (-1, ∅) for a missing or empty log. One FS listing. */
  private[graft] def logState(spark: SparkSession,
      logDir: String): (Long, Set[Long]) = {
    val (hwm, inFlight, _) = logStateFull(spark, logDir)
    (hwm, inFlight)
  }

  /** None when no log directory exists (a legacy, non-exactly-once
    * store — readers then take the raw view); Some(hwm) otherwise,
    * where hwm = -1 means "log present, nothing committed yet". */
  def committedHwm(spark: SparkSession,
      logDir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(logDir)
    if (!fsOf(spark, p).exists(p)) None
    else Some(logState(spark, logDir)._1)
  }

  /** Create one marker file. `strict` turns the atomic
    * create-if-absent into a DETECTOR: a fresh (non-recover) begin
    * whose file already exists means another writer's begin for the
    * same id landed between this entry's log read and now — the one
    * same-id race a listing alone cannot see — so it throws instead
    * of proceeding to writes the other writer's commit would promote.
    * Non-strict creates (commit markers, replayed begins) stay
    * tolerant: a crash straight after a successful create legally
    * re-runs into its own marker. */
  private[graft] def appendLog(spark: SparkSession, logDir: String,
      batchId: Long, kind: String, strict: Boolean = false): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$logDir/$kind-$batchId")
    val fs = fsOf(spark, p)
    fs.mkdirs(p.getParent)
    try fs.create(p, false).close() // atomic create-if-absent
    catch {
      case e: Exception if (e.isInstanceOf[
            org.apache.hadoop.fs.FileAlreadyExistsException] ||
          e.isInstanceOf[java.io.IOException]) && fs.exists(p) =>
        if (strict) throw new IllegalStateException(
          s"concurrent ingest writer detected: $kind-$batchId at " +
            s"$logDir appeared after this entry's log read — two " +
            "writers are racing one store (single-writer contract); " +
            "stop one stream and replay", e)
    }
  }

  /** Shared entry protocol for every ingest*Batch wrapper (the
    * single-writer contract in the header, made enforceable): parse
    * the log ONCE, then skip/reject/proceed. Returns None when the
    * batch must SKIP (it is exactly the committed hwm — the benign
    * Spark-epoch redelivery), Some(recover) otherwise, where recover
    * means this id's previous attempt died begun-but-uncommitted.
    * With `writeAhead` the begin marker is created here, and the
    * maintenance-lease check runs AFTER it is durable (intent first,
    * check second — see the header; the begin is retracted before a
    * back-off reject so it leaves no stuck in-flight id). */
  private def beginIngest(spark: SparkSession, logDir: String,
      batchId: Long, op: String, writeAhead: Boolean): Option[Boolean] = {
    val (hwm, inFlight, leases) = logStateFull(spark, logDir)
    if (batchId == hwm) return None
    require(batchId > hwm,
      s"$op: batch id $batchId regressed below the committed " +
        s"high-water-mark $hwm at $logDir — the signature of a stream " +
        "restarted with a FRESH checkpoint (foreachBatch ids reset to " +
        "0), whose batches a silent skip would DROP; resume the " +
        "original checkpoint, or point the new stream at a new " +
        "store/log")
    require(inFlight.forall(_ == batchId),
      s"$op: in-flight (begun, uncommitted) ingest batch(es) " +
        s"${(inFlight - batchId).toSeq.sorted.mkString(", ")} at " +
        s"$logDir while entering batch $batchId — one store takes ONE " +
        "sequential writer (single-writer contract); replay the " +
        "in-flight batch to completion before this one")
    val recover = inFlight.contains(batchId)
    def leaseReject(live: Seq[String]): Unit =
      require(live.isEmpty,
        s"$op: maintenance lease(s) ${live.mkString(", ")} live at " +
          s"$logDir — a vacuum/compaction is mid-rewrite (or died " +
          "there); re-run that maintenance op to completion (it " +
          "recovers and releases), or clear a stale lease with " +
          "IngestCommit.breakMaintenanceLease, then replay this batch")
    if (recover || !writeAhead) leaseReject(leases)
    else {
      appendLog(spark, logDir, batchId, "begin", strict = true)
      val leasesNow = logStateFull(spark, logDir)._3
      if (leasesNow.nonEmpty) {
        // retract: nothing is written yet, so backing off must not
        // leave an in-flight id that would block the maintenance
        val p = new org.apache.hadoop.fs.Path(s"$logDir/begin-$batchId")
        fsOf(spark, p).delete(p, false)
        leaseReject(leasesNow)
      }
    }
    Some(recover)
  }

  /** Run `body` (a vacuum/compaction rewrite) under a maintenance
    * lease on `logDir` — the mutual-exclusion half the entry-time
    * in-flight guard alone cannot give (an ingest batch beginning
    * after the guard passed but before the swap renamed would have
    * its append silently dropped with the old directory). Acquiring
    * TAKES OVER any lease already on disk (the stale-lease rule:
    * maintenance is idempotent — IndexSwap recovery plus a re-run
    * complete any crashed rewrite — so re-running the SAME op IS the
    * takeover; concurrent maintainers are out of contract exactly as
    * concurrent ingest writers are). The lease is released on any
    * normal exit including a guard reject (live layouts only mutate
    * via atomic swap-ins, so a mid-body failure leaves a servable
    * index); process death keeps it on disk, blocking ingest until
    * the op is re-run or [[breakMaintenanceLease]] clears it. */
  private[graft] def withMaintenanceLease[T](spark: SparkSession,
      logDir: String, op: String)(body: => T): T = {
    val dirP = new org.apache.hadoop.fs.Path(logDir)
    val fs = fsOf(spark, dirP)
    fs.mkdirs(dirP)
    val stale = fs.listStatus(dirP).map(_.getPath.getName)
      .filter(_.startsWith(LeasePrefix))
    val token = s"$LeasePrefix${System.nanoTime()}"
    val tokenP = new org.apache.hadoop.fs.Path(s"$logDir/$token")
    try fs.create(tokenP, false).close()
    catch { case _: java.io.IOException if fs.exists(tokenP) => () }
    stale.filter(_ != token).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$logDir/$n"), false); ()
    }
    try body
    finally { fs.delete(tokenP, false); () }
  }

  /** Clear maintenance lease(s) left by a maintainer that died
    * mid-rewrite — the MANUAL stale-lease override. Prefer re-running
    * the maintenance op itself: it recovers the layout AND releases
    * the lease; break only when that is not an option (the index may
    * then still need IndexSwap recovery, which the next maintenance
    * entry performs). */
  def breakMaintenanceLease(spark: SparkSession, logDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(logDir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return
    fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith(LeasePrefix))
      .foreach { n =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$logDir/$n"), false); ()
      }
  }

  /** Fold a fully-committed ingest log to its single max commit
    * marker: a long-lived nightly otherwise accumulates 1-2 marker
    * files per batch and pays an ever-growing directory listing on
    * every hwm read. Public for the exact-dedup corpus log
    * (`corpusDir/_commits`), which has no maintenance op to fold it;
    * the index compactions fold their logs themselves. Refuses over
    * an in-flight (begun, uncommitted) batch; otherwise idempotent
    * and safe to run between batches — markers created AFTER its
    * listing are never touched, and every intermediate state of a
    * crashed fold parses to the same (hwm, in-flight). */
  def compactIngestLog(spark: SparkSession, logDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(logDir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return
    val (hwm, inFlight) = logState(spark, logDir)
    require(inFlight.isEmpty,
      s"compactIngestLog: in-flight ingest batch(es) at $logDir: " +
        inFlight.toSeq.sorted.mkString(", "))
    if (hwm < 0) return
    val keep = s"commit-$hwm"
    // delete ONLY recognized marker files: a foreign name in the log
    // dir (a stray _SUCCESS, a live maintenance lease, future protocol
    // metadata) is not this fold's to destroy
    fs.listStatus(p).foreach { st =>
      st.getPath.getName match {
        case n @ MarkerRe(_, _) if n != keep => fs.delete(st.getPath, false)
        case _ => ()
      }
      ()
    }
  }

  // ----- Shared STORE protocol (see the header) ----------------------

  /** One exactly-once store's layout: its data directory, its commit
    * log, its tombstone directory, and the ingest wrapper that writes
    * it (the one to replay when maintenance finds a batch in flight). */
  private[llm] final case class Store(dir: String, logDir: String,
      tombDir: String, ingest: String)

  private[llm] def lshStore(dir: String): Store =
    Store(dir, s"$dir/commits", s"$dir/tombstones", "nearDupIngestBatch")
  private[llm] def simHashStore(dir: String): Store =
    Store(dir, s"$dir/_commits", s"$dir/tombstones", "simHashIngestBatch")
  private[llm] def ivfPqStore(dir: String): Store =
    Store(dir, s"$dir/commits", s"$dir/tombstones", "ivfPqIngestBatch")

  /** The ingested corpus — the underscores keep Spark's listing from
    * reading the log and the tombstones as corpus data. `logDir` is
    * the pipeline's commit log; empty means the exact-dedup loop's
    * own `corpusDir/_commits`. */
  private[llm] def corpusStore(corpusDir: String, logDir: String): Store =
    if (logDir.isEmpty)
      Store(corpusDir, s"$corpusDir/_commits", s"$corpusDir/_tombstones",
        "exactDedupIngestBatch")
    else Store(corpusDir, logDir, s"$corpusDir/_tombstones",
      s"the ingest wrapper committing to $logDir")

  /** Append `ids` (cast to long, keyed `idCol`) to a store's
    * tombstones. Deleting an absent id is a harmless no-op. */
  private[llm] def appendTombstones(ids: DataFrame, store: Store,
      idCol: String): Unit =
    ids.select(col(idCol).cast("long").as(idCol)).distinct()
      .coalesce(1) // deletes are metadata-sized next to any store
      .write.mode("append").parquet(store.tombDir)

  /** A store's pending tombstones as a slim distinct long id set keyed
    * `idCol` — or, when `idCol` is empty, by the tombstone file's own
    * single column (the self-describing corpus takedowns). None when
    * nothing is pending — no tombstone directory, or one holding only
    * `_`/`.` markers (`_SUCCESS`, a running append's `_temporary`):
    * one listing, no Spark job. */
  private[llm] def readTombstones(spark: SparkSession, store: Store,
      idCol: String = ""): Option[DataFrame] =
    if (tombListing(spark, store).forall(_.getPath.getName.matches("[_.].*")))
      None
    else {
      val raw = spark.read.parquet(store.tombDir)
      val idc = if (idCol.isEmpty) raw.columns.head else idCol
      Some(raw.select(col(idc).cast("long").as(idc)).distinct())
    }

  private def tombListing(spark: SparkSession,
      store: Store): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(store.tombDir)
    try fsOf(spark, p).listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Anti-join `tomb` out of `df` on the tombstone set's own key column
    * (cast to long on both sides — the stored id type). Broadcast: a
    * tombstone set is deletes-sized, not store-sized. No tombstones →
    * `df` unchanged, its plan byte-identical to a tombstone-free read. */
  private[llm] def minusTombstones(df: DataFrame,
      tomb: Option[DataFrame]): DataFrame =
    tomb.fold(df) { t =>
      val idc = t.columns.head
      df.join(broadcast(t.withColumnRenamed(idc, "__tomb_id")),
        df(idc).cast("long") === col("__tomb_id"), "left_anti")
    }

  /** Maintenance may only run between COMMITTED ingest batches: a
    * rewrite folds every surviving row into the unstamped base (valid
    * precisely because all rows are committed), so an in-flight or
    * crashed-uncommitted batch at rewrite time would have its partial
    * rows promoted to unconditionally-visible — the exact corruption
    * the commit log exists to prevent. Fail with the remedy. */
  private def requireNoInFlight(spark: SparkSession, store: Store,
      op: String): Unit = {
    val (_, inFlight) = logState(spark, store.logDir)
    require(inFlight.isEmpty,
      s"$op: store at ${store.dir} has in-flight (begun, uncommitted) " +
        s"ingest batch(es) ${inFlight.toSeq.sorted.mkString(", ")} in " +
        s"${store.logDir} — finish or replay the ingest (${store.ingest} " +
        "recovers it) before maintenance")
  }

  /** The one maintenance entry of every store's vacuum/compaction:
    * take the lease on the store's log (ingest is excluded for the
    * WHOLE rewrite window, not just at this entry check — an append
    * racing a swap would land in the old directory and be silently
    * dropped by the rename), finish every [[IndexSwap]] a crashed run
    * left, refuse over an in-flight batch, run the store's own
    * `rewrite` over its pending tombstones ([[readTombstones]] keyed
    * `idCol`), and clear those tombstones LAST (exactly the files the
    * read listed: a delete landing mid-rewrite stays pending), so a
    * re-run completes the job from EVERY intermediate state. Each
    * rewrite swaps its layouts through IndexSwap (renames only: atomic
    * on HDFS-like filesystems, a copy on S3-style object stores —
    * maintain there behind a committer or a table format). The
    * exactly-once wrappers are excluded by the lease; DIRECT appends
    * (writeLshIndex append, appendIvfPqIndex) must still pause their
    * writer themselves. */
  private[llm] def maintain(spark: SparkSession, store: Store, op: String,
      idCol: String = "")(rewrite: Option[DataFrame] => Unit): Unit =
    withMaintenanceLease(spark, store.logDir, op) {
      IndexSwap.recoverAll(spark.sparkContext.hadoopConfiguration,
        store.dir)
      requireNoInFlight(spark, store, op)
      val tomb = readTombstones(spark, store, idCol)
      val read = tomb.fold(Array.empty[String])(_.inputFiles)
      rewrite(tomb)
      val tombP = new org.apache.hadoop.fs.Path(store.tombDir)
      val fs = fsOf(spark, tombP)
      read.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
      // then the directory, once only `_` marker files are left; its
      // delete is NON-recursive, so a tombstone (or a `_temporary`)
      // landing in between keeps it
      val left = tombListing(spark, store)
      if (read.nonEmpty && left.forall(st =>
          st.isFile && st.getPath.getName.startsWith("_"))) {
        left.foreach(st => fs.delete(st.getPath, false))
        scala.util.Try(fs.delete(tombP, false))
      }
      ()
    }

  /** The default no-op failpoint. Reference-compared in
    * [[publishAndCommit]]: with it, the corpus publish and the index
    * append run CONCURRENTLY (independent outputs, both invisible
    * until the commit marker — crash order carries no correctness
    * weight under the log); any custom failpoint forces the
    * sequential corpus→index order so kill specs can target the exact
    * inter-write states. */
  val NoFailpoint: String => Unit = _ => ()

  /** Publish one batch's corpus partition and index append, then
    * commit it — the shared tail of the index ingest wrappers.
    * Concurrent under [[NoFailpoint]], sequential (with the
    * "after-corpus" / "after-index" crash points) otherwise; a failure
    * rethrows only AFTER both writes settle, so no stray in-flight
    * write may outlive this batch into the next. The concurrent index
    * append runs on [[writePool]] with the caller's session and local
    * properties (job group, scheduler pool, tags), so its jobs carry
    * the same attribution as the corpus write on the caller's thread. */
  private def publishAndCommit(spark: SparkSession, logDir: String,
      batchId: Long, failpoint: String => Unit)(writeCorpus: => Unit)
      (writeIndex: => Unit): Boolean = {
    if (failpoint eq NoFailpoint) {
      val index = org.apache.spark.sql.execution.SQLExecution
        .withThreadLocalCaptured(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          writePool)(writeIndex)
      val r1 = scala.util.Try(writeCorpus)
      val r2 = scala.util.Try(
        try index.join()
        catch { case e: java.util.concurrent.CompletionException =>
          throw e.getCause })
      r1.get; r2.get
    } else {
      writeCorpus; failpoint("after-corpus")
      writeIndex; failpoint("after-index")
    }
    appendLog(spark, logDir, batchId, "commit")
    true
  }

  /** Daemon threads for [[publishAndCommit]]'s index append; each task
    * installs its captured local properties on entry. */
  private lazy val writePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "graft-ingest-index-append")
      t.setDaemon(true)
      t
    }

  /** The COMMITTED corpus view: partition directories with
    * `ingest_id` at or below the high-water-mark, stamp dropped — a
    * pure partition prune, so a crashed batch's partial directory is
    * never even listed into the scan. `logDir` is the pipeline's
    * commit log ([[exactDedupIngestBatch]] keeps it at
    * `corpusDir/_commits`; [[nearDupIngestBatch]] at
    * `indexDir/commits`, one log per pipeline). */
  def committedCorpus(spark: SparkSession, corpusDir: String,
      logDir: String): DataFrame = {
    val hwm = committedHwm(spark, logDir).getOrElse(-1L)
    require(hwm >= 0,
      s"committedCorpus: no committed ingest batch recorded at $logDir")
    val base = spark.read.option("basePath", corpusDir).parquet(corpusDir)
      .filter(col("ingest_id") <= hwm).drop("ingest_id")
    minusTombstones(base, corpusTombstones(spark, corpusDir, base.columns))
  }

  /** The committed corpus AS OF an earlier batch — the snapshot read
    * a reproducible training run pins ("train on the corpus exactly
    * as batch N left it"). Same pure partition prune as
    * [[committedCorpus]], at `asOfBatch` instead of the hwm; rejects
    * an id above the committed high-water-mark (uncommitted data
    * never serves, snapshot or not). Takedown tombstones STILL apply
    * — a compliance delete removes the document from every read, and
    * no snapshot may resurrect it. Snapshots survive [[vacuumCorpus]]
    * because the fold rewrites each `ingest_id` partition in place,
    * never merging batch boundaries. */
  def committedCorpusAsOf(spark: SparkSession, corpusDir: String,
      logDir: String, asOfBatch: Long): DataFrame = {
    val hwm = committedHwm(spark, logDir).getOrElse(-1L)
    require(hwm >= 0,
      s"committedCorpusAsOf: no committed ingest batch recorded at " +
        logDir)
    require(asOfBatch <= hwm,
      s"committedCorpusAsOf: as-of batch $asOfBatch is above the " +
        s"committed high-water-mark $hwm at $logDir — uncommitted " +
        "data never serves")
    val base = spark.read.option("basePath", corpusDir).parquet(corpusDir)
      .filter(col("ingest_id") <= asOfBatch).drop("ingest_id")
    minusTombstones(base, corpusTombstones(spark, corpusDir, base.columns))
  }

  // ----- Corpus TAKEDOWN tier (r19) ---------------------------------
  // At 100 TB the most common delete is not curation but COMPLIANCE:
  // "remove these documents from the training corpus" (takedown,
  // opt-out, license recall), which must not cost a corpus-sized
  // rewrite. The store protocol above applies with the corpus layout
  // ([[corpusStore]]), and [[vacuumCorpus]] rewrites ONLY the
  // partitions that hold tombstoned rows, so the physical cost is
  // O(affected batches), not O(corpus).
  //
  // Matching semantics: a takedown removes the DOCUMENT, not its
  // claim on the content — [[exactDedupIngestBatch]] computes
  // survivorship against the tombstone-filtered view, so a later copy
  // of a deleted text is admitted again (the same rule the LSH /
  // SimHash index deletes follow). For near-dup pipelines the corpus
  // and the index are deleted separately ([[deleteFromCorpus]] +
  // TextDedupOps.deleteFromLshIndex / SimilarityOps
  // .deleteFromIvfPqIndex) — export and matching are different
  // lifecycles, and a caller may legitimately stop serving a doc
  // while keeping its near-dup shadow, or vice versa.

  /** Mark `ids` DELETED in an ingested corpus. Takes effect on the
    * next [[committedCorpus]] read (and on the next batch's
    * exact-dedup matching). Deleting an absent id is a harmless
    * no-op. The tombstone file is self-describing: its single column
    * name must be the corpus' id column. */
  def deleteFromCorpus(ids: DataFrame, corpusDir: String,
      idCol: String = "doc_id"): Unit =
    appendTombstones(ids, corpusStore(corpusDir, ""), idCol)

  /** The corpus' pending takedowns (read only when tombstones exist). */
  private def corpusTombstones(spark: SparkSession, corpusDir: String,
      corpusCols: => Array[String]): Option[DataFrame] =
    readTombstones(spark, corpusStore(corpusDir, ""))
      .map(requireCorpusKey(corpusDir, corpusCols, _))

  /** `tomb`, once the column it keys on — the one the tombstone file
    * names — is checked to be one of the corpus' `corpusCols`. */
  private def requireCorpusKey(corpusDir: String,
      corpusCols: Array[String], tomb: DataFrame): DataFrame = {
    val idc = tomb.columns.head
    require(corpusCols.contains(idc),
      s"corpus tombstones at $corpusDir/_tombstones key on '$idc' " +
        s"but the corpus columns are ${corpusCols.mkString(", ")} — " +
        "deleteFromCorpus must use the corpus' id column")
    tomb
  }

  /** Fold accumulated corpus tombstones into a PHYSICAL rewrite of
    * exactly the `ingest_id=<n>` partitions that hold tombstoned rows
    * — O(affected batches), never O(corpus). Each partition swaps
    * through [[IndexSwap]], and the run goes through [[maintain]]
    * under the lease on `logDir` — the pipeline's commit log
    * (`corpusDir/_commits` for the exact-dedup loop, the default;
    * `indexDir/commits` etc. for the index pipelines) — so a crash at
    * ANY point re-runs to completion with the logical view
    * ([[committedCorpus]]) unchanged throughout.
    *
    * `failpoint` is a test hook ("after-partition" per swapped
    * partition, "before-tombstone-clear"); production callers leave
    * the default no-op. */
  def vacuumCorpus(spark: SparkSession, corpusDir: String,
      logDir: String = "",
      failpoint: String => Unit = NoFailpoint): Unit = {
    val store = corpusStore(corpusDir, logDir)
    maintain(spark, store, "vacuumCorpus") { pending =>
      pending.foreach { tomb0 =>
        val base = spark.read.option("basePath", corpusDir)
          .parquet(corpusDir)
        val tomb = requireCorpusKey(corpusDir, base.columns, tomb0)
        val idc = tomb.columns.head
        // the partitions that actually hold tombstoned rows — bounded
        // by the batch count; the semi-join rides the slim id column
        val affected = base
          .join(broadcast(tomb.withColumnRenamed(idc, "__tomb_id")),
            base(idc).cast("long") === col("__tomb_id"), "left_semi")
          .select(col("ingest_id").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted
        affected.foreach { pid =>
          val sub = s"ingest_id=$pid"
          IndexSwap.swapIn(spark.sparkContext.hadoopConfiguration,
              corpusDir, sub) { tmp =>
            minusTombstones(spark.read.parquet(s"$corpusDir/$sub"),
              Some(tomb)).write.parquet(tmp)
          }
          failpoint("after-partition")
        }
      }
      failpoint("before-tombstone-clear")
    }
  }

  /** Exactly-once EXACT-dedup ingest of one foreachBatch micro-batch:
    * dedup `batch` within itself and against the committed corpus
    * ([[TextDedupOps.dedupIncremental]]), publish the survivors as
    * `corpusDir/ingest_id=<batchId>`, then commit. Returns false —
    * without touching storage — when the batch is exactly the
    * committed hwm (the replay-skip); an id BELOW the hwm or a
    * foreign in-flight id rejects loudly per the single-writer
    * contract. No begin marker is needed: the only write is
    * the self-cleaning partition overwrite, so every crash point
    * replays to the identical end state. The log lives at
    * `corpusDir/_commits` (the underscore keeps Spark's file listing
    * from reading it as corpus data). */
  def exactDedupIngestBatch(batch: DataFrame, batchId: Long,
      corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text",
      failpoint: String => Unit = _ => ()): Boolean = {
    val spark = batch.sparkSession
    val logDir = corpusStore(corpusDir, "").logDir
    if (beginIngest(spark, logDir, batchId, "exactDedupIngestBatch",
        writeAhead = false).isEmpty) return false
    val hwm = committedHwm(spark, logDir).getOrElse(-1L)
    // matching runs against the tombstone-FILTERED committed view: a
    // taken-down document surrenders its claim on the content, so a
    // later copy of its text is admitted again (the index-delete rule)
    val existing =
      if (hwm >= 0) {
        val committed = spark.read.option("basePath", corpusDir)
          .parquet(corpusDir).filter(col("ingest_id") <= hwm)
        minusTombstones(committed,
          corpusTombstones(spark, corpusDir, committed.columns))
          .select(col(textCol))
      } else batch.select(col(textCol)).limit(0)
    TextDedupOps.dedupIncremental(batch, existing, idCol, textCol)
      .write.mode("overwrite").parquet(s"$corpusDir/ingest_id=$batchId")
    failpoint("after-corpus")
    appendLog(spark, logDir, batchId, "commit")
    true
  }

  /** Exactly-once IVF-PQ ingest — the EMBEDDING-store member of the
    * family: unlike the dedup loops there is no survivorship (the
    * index stores what it is given; `dedupIds = true` drops batch
    * rows whose vec_id is already COMMITTED — see the inline note —
    * while within-batch id uniqueness stays the caller's job), so
    * the batch effect is a pure exactly-once APPEND — the batch's raw
    * vectors publish to `corpusDir/ingest_id=<batch>` (the float
    * store the exact re-rank reads back by id) and their PQ codes
    * append to the index's cell partitions stamped with the batch id
    * ([[SimilarityOps.appendIvfPqIndex]]). The commit log lives at
    * `indexDir/commits`; [[SimilarityOps.ivfPqTopKIndexed]] filters
    * its partition-pruned codes scan to committed rows whenever the
    * log exists, so a crashed attempt's partial append never serves,
    * and maintenance (vacuum/compaction) refuses to run over an
    * in-flight batch. Recovery after a mid-append crash subtracts the
    * already-visible stamped rows — sound because the encode is
    * deterministic against the STORED quantizers. Returns false (no
    * writes) for an already-committed batch. `failpoint` is a test
    * hook ("after-batch", "after-corpus", "after-index"). */
  def ivfPqIngestBatch(newVectors: DataFrame, batchId: Long,
      indexDir: String, corpusDir: String, cId: String = "vec_id",
      embCol: String = "embedding", dedupIds: Boolean = false,
      failpoint: String => Unit = NoFailpoint): Boolean = {
    val spark = newVectors.sparkSession
    val logDir = ivfPqStore(indexDir).logDir
    val recover = beginIngest(spark, logDir, batchId,
      "ivfPqIngestBatch", writeAhead = true) match {
      case None => return false
      case Some(r) => r
    }
    val raw = newVectors.select(col(cId), col(embCol))
    // Optional cross-batch id dedup (r18 verdict task #5): a vec_id
    // already committed would otherwise double-serve from the codes
    // scan. Probe the committed corpus' slim id column with the
    // batch's ids broadcast (semi-join — one column-pruned,
    // partition-pruned scan), then anti-join the hits back out of the
    // batch (hits are ≤ batch-sized, broadcast again). Deterministic
    // on replay: the committed view is frozen at the hwm while this
    // batch is uncommitted. Within-batch id uniqueness stays the
    // caller's job (a deterministic pick between two different
    // embeddings under one id does not exist). Default OFF — legacy
    // plans stay byte-identical.
    val hwm = committedHwm(spark, logDir).getOrElse(-1L)
    val deduped =
      if (!dedupIds || hwm < 0) raw
      else {
        val committedIds = spark.read.option("basePath", corpusDir)
          .parquet(corpusDir)
          .filter(col("ingest_id") <= hwm).select(col(cId))
        val hit = committedIds
          .join(broadcast(raw.select(col(cId)).distinct()),
            Seq(cId), "left_semi")
          .distinct()
        raw.join(broadcast(hit), Seq(cId), "left_anti")
      }
    val batch = deduped
      .localCheckpoint(true) // consumed twice; caller lineage may be
                             // expensive and must not run per write
    failpoint("after-batch")
    publishAndCommit(spark, logDir, batchId, failpoint) {
      batch.write.mode("overwrite")
        .parquet(s"$corpusDir/ingest_id=$batchId")
    } {
      SimilarityOps.appendIvfPqIndex(batch, indexDir, cId, embCol,
        ingestId = Some(batchId), recover = recover)
    }
  }

  /** Exactly-once SIMHASH near-dup ingest — the banded-Hamming twin
    * of [[nearDupIngestBatch]] over the cheapest persisted index
    * (8 bytes of hash per document): survivors are computed against
    * the COMMITTED, tombstone-filtered hash view
    * ([[TextDedupOps.committedSimHashes]] — deletes via
    * [[TextDedupOps.deleteFromSimHashStore]] take effect on the next
    * batch's matching immediately), published to
    * `corpusDir/ingest_id=<batch>`, and their hashes appended under
    * `hashesDir/hashes` stamped with the batch id (r18 root-layout
    * stores migrate on first touch); the commit log lives at
    * `hashesDir/_commits`. This wrapper OWNS the store (every file it
    * writes carries `ingest_id`); recovery after a mid-append crash
    * subtracts the batch's already-visible rows exactly as the LSH
    * path does, and [[TextDedupOps.compactSimHashStore]] is the
    * maintenance tier. Returns false (no writes) for a replay of the
    * hwm batch. `failpoint` is a test hook ("after-survivors",
    * "after-corpus", "after-index").
    *
    * Driver-cost shape, as in [[nearDupIngestBatch]]: `batch` is
    * evaluated ONCE, into a sized eager checkpoint; its hashes are
    * computed from that checkpoint and checkpointed once by the
    * incremental core, which pairs them new-vs-all against the
    * committed view; the corpus partition and the hash append are the
    * checkpointed batch and its checkpointed hashes through the same
    * survivor step, each coalesced for its write only
    * ([[Bridge.writeWidth]]). A NULL-id document reaches the corpus
    * but, having no id to index, not the store. */
  def simHashIngestBatch(batch: DataFrame, batchId: Long,
      hashesDir: String, corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3, bands: Int = 4,
      maxBucketSize: Int = Int.MaxValue,
      failpoint: String => Unit = NoFailpoint): Boolean = {
    val spark = batch.sparkSession
    // r19: hash files live under hashesDir/hashes (r18 root layouts
    // migrate on first touch, inside committedSimHashes) so the store
    // gets the IndexSwap-based delete/compaction tier its siblings
    // have; the matching view — committed at the hwm, tombstones
    // anti-joined — is the shared committedSimHashes read. Unstamped
    // rows (a compacted base, or out-of-contract direct writes) read
    // as committed-at-any-watermark, the family's
    // null-means-committed convention.
    val dataDir = TextDedupOps.simHashDataDir(hashesDir)
    nearDupIngest(batch, batchId, simHashStore(hashesDir).logDir,
        "simHashIngestBatch", corpusDir, failpoint) {
      TextDedupOps.incrementalSimHash(_, TextDedupOps.committedSimHashes(
        spark, hashesDir, idCol), idCol, textCol, maxHamming, bands,
        maxBucketSize)
    } { (survHashes, recover) =>
      val dataP = new org.apache.hadoop.fs.Path(dataDir)
      // pinned schema: the crashed attempt may be the store's FIRST
      // write, and the recovery read must not depend on which footer
      // inference lands on
      val toWrite = if (!recover || !fsOf(spark, dataP).exists(dataP))
        survHashes else survHashes.exceptAll(spark.read
          .schema(TextDedupOps.simHashReadSchema(idCol)).parquet(dataDir)
          .filter(col("ingest_id") === batchId)
          .select(col(idCol), col("simhash")))
      toWrite.withColumn("ingest_id", lit(batchId))
        .write.mode("append").parquet(dataDir)
    }
  }

  /** Exactly-once NEAR-DUP ingest of one foreachBatch micro-batch
    * against a persisted LSH index: survivors are computed against the
    * COMMITTED index view, published to `corpusDir/ingest_id=<batch>`,
    * their signatures appended to the index stamped with the batch id,
    * and the batch committed — in that order, though under the log the
    * order is a convention, not a correctness dependency. Returns
    * false (no storage writes) for an already-committed batch.
    *
    * Driver-cost shape: `batch` (the caller's lineage, typically
    * gated, exact-deduped and scored) is evaluated ONCE, into an eager
    * checkpoint that reports its stored size
    * ([[Bridge.sizedLocalCheckpoint]]); the signatures and the corpus
    * write read it, so corpus partition and index append come from the
    * same rows by construction. The survivor step
    * ([[TextDedupOps]]' `incrementalLosers`) collects (or, past its cap,
    * checkpoints) the pair set eagerly, so the corpus write, the bands
    * append and the sigs append are each one narrow job: the
    * checkpointed batch or its checkpointed signatures through that
    * step — a filter on the losing ids on the collected path, which
    * runs no job of its own, or an anti-join with the persisted losers
    * past the cap; each is coalesced for its write only
    * ([[Bridge.writeWidth]]), so the signature kernel keeps the
    * checkpoint's parallelism. A NULL-id document passes the step: it
    * reaches the corpus but, having no id to index, is never signed,
    * so not the index. `kKnown` skips the per-append signature-length
    * probe job.
    *
    * `failpoint` is a test hook invoked at the named crash points
    * ("after-survivors", "after-corpus", "after-index"); production
    * callers leave the default no-op. */
  def nearDupIngestBatch(batch: DataFrame, batchId: Long,
      indexDir: String, corpusDir: String, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.7,
      maxBucketSize: Int = Int.MaxValue,
      failpoint: String => Unit = NoFailpoint): Boolean = {
    nearDupIngest(batch, batchId, lshStore(indexDir).logDir,
        "nearDupIngestBatch", corpusDir, failpoint) {
      // Core filters the index to rows committed at the hwm — the
      // crashed attempt's own stamped rows are invisible, making the
      // loser set identical on every replay (the determinism the
      // recovery subtraction in appendSigsToIndex relies on)
      TextDedupOps.lshIncrementalIndexedCore(_, indexDir, idCol, textCol,
        shingleN, k, bands, threshold, maxBucketSize)
    } { (survSigs, recover) =>
      TextDedupOps.appendSigsToIndex(survSigs, indexDir, idCol, bands,
        shingleN, ingestId = Some(batchId), recover = recover,
        kKnown = Some(k))
    }
  }

  /** The one body of [[nearDupIngestBatch]] and [[simHashIngestBatch]].
    * It opens `batchId` in the log at `logDir` (false, and no writes,
    * for a replay of the hwm batch) and checkpoints `batch` once. The
    * tier's incremental `core` maps that checkpoint to (its payload:
    * signatures or hashes; the survivor step). The survivors go to
    * `corpusDir/ingest_id=<batch>` and their payload to `append(payload,
    * recover)`, each coalesced for its write only
    * ([[Bridge.writeWidth]]). */
  private def nearDupIngest(batch: DataFrame, batchId: Long,
      logDir: String, op: String, corpusDir: String,
      failpoint: String => Unit)(
      core: DataFrame => (DataFrame, DataFrame => DataFrame))(
      append: (DataFrame, Boolean) => Unit): Boolean = {
    val spark = batch.sparkSession
    beginIngest(spark, logDir, batchId, op, writeAhead = true).fold(false) { recover =>
      val docs = Bridge.sizedLocalCheckpoint(batch) // the ONE evaluation
      val (payload, survive) = core(docs)
      val written = survive.andThen(Bridge.writeWidth(docs))
      failpoint("after-survivors")
      publishAndCommit(spark, logDir, batchId, failpoint) {
        written(docs).write.mode("overwrite")
          .parquet(s"$corpusDir/ingest_id=$batchId")
      }(append(written(payload), recover))
    }
  }
}
