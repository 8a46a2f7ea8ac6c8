package graft.llm

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Crash-recoverable directory swap for store maintenance — every
  * rewrite under [[IngestCommit.maintain]] (LSH bands/sigs, SimHash
  * hashes, IVF-PQ cells, affected corpus partitions) swaps through it.
  *
  * The naive swap — delete(live) then rename(tmp, live) — has a window
  * where a crash leaves NO live layout, and a re-run fails resolving
  * the missing parquet path instead of completing the job. This helper
  * swaps by renames only (each atomic on HDFS-like filesystems), so
  * every intermediate state is recoverable by [[recoverAll]] on the
  * next maintenance entry:
  *
  *   1. crash while writing `.sub.compact`  → live intact; the re-run
  *      deletes the partial temp and rewrites it;
  *   2. crash after rename(live → .sub.trash) but before
  *      rename(.sub.compact → live) → live missing but the COMPLETE
  *      compacted layout sits in `.sub.compact`; [[recover]] finishes
  *      the rename-in (the temp was fully written — `_SUCCESS` and all
  *      — before any rename ran) and drops the trash;
  *   3. crash after rename-in but before the trash delete → live is
  *      the new layout; [[recover]] just drops the trash.
  *
  * In every state the store's tombstones are still present
  * (maintenance clears them only after all swaps commit), so the
  * re-run that recovers proceeds to a full — idempotent — rewrite. On
  * S3-style object stores rename is a copy, not atomic; run vacuums
  * there behind a committer or a table format. */
private[llm] object IndexSwap {
  private def paths(dir: String, sub: String): (Path, Path, Path) =
    (new Path(s"$dir/$sub"), new Path(s"$dir/.$sub.compact"),
      new Path(s"$dir/.$sub.trash"))

  private val SwapRe = """^\.(.+)\.(compact|trash)$""".r

  /** Finish every swap a previous maintenance run crashed in under
    * `dir` (see states above): one recovery per sub-layout that left a
    * `.sub.compact` / `.sub.trash` directory behind. Call on
    * maintenance entry, BEFORE reading any live directory. One listing
    * and no-op on a clean store. */
  def recoverAll(conf: Configuration, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    fs.listStatus(root).map(_.getPath.getName)
      .collect { case SwapRe(sub, _) => sub }.distinct
      .foreach { sub =>
        val (live, tmp, trash) = paths(dir, sub)
        if (!fs.exists(live) && fs.exists(tmp))
          require(fs.rename(tmp, live),
            s"index swap recovery: rename $tmp -> $live failed")
        fs.delete(trash, true)
      }
  }

  /** Write the compacted layout to `.sub.compact` via `write`, then
    * swap it in by renames: live → `.sub.trash`, compact → live, drop
    * trash. Never deletes the live layout before its replacement is
    * fully in place. */
  def swapIn(conf: Configuration, dir: String, sub: String)
      (write: String => Unit): Unit = {
    val (live, tmp, trash) = paths(dir, sub)
    val fs = live.getFileSystem(conf)
    fs.delete(tmp, true)
    fs.delete(trash, true)
    write(tmp.toString)
    if (fs.exists(live))
      require(fs.rename(live, trash),
        s"index swap: rename $live -> $trash failed")
    require(fs.rename(tmp, live),
      s"index swap: rename $tmp -> $live failed")
    fs.delete(trash, true)
    ()
  }
}
