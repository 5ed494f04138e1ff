package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FS plumbing for `foreachBatch` state directories.
  *
  * Every probe goes through the FileSystem OF THE PATH — never
  * `java.io.File` — so a state dir works on any storage Spark itself
  * can read (hdfs://, s3a://, file:/). A driver-local `File.exists()`
  * probe reads every remote dir as absent, which silently disables
  * cross-batch state: each micro-batch would fold into nothing and
  * overwrite the history. The helpers here are the only sanctioned way
  * the streaming maintainers touch their state dirs.
  */
object BatchState {

  def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** True iff `dir` exists and holds at least one visible entry
    * (hidden/meta names `_*` and `.*` — `_SUCCESS`, `.crc` — don't
    * count as data).
    */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = fs(spark, dir)
    f.exists(p) && f.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !(n.startsWith("_") || n.startsWith("."))
    }
  }

  /** Batch ids recorded in the `_folded_batches` ledger under `dir` —
    * batches whose log rows an out-of-band compaction folded into the
    * `batch_id = -1` generation, so their own partition directories
    * (the at-least-once replay unit) no longer hold them. A ledgered
    * batch is durably committed by every compactor's precondition, so
    * the only exact replay of it is a NO-OP append. Underscore-prefixed
    * name: Spark's file listing treats it as hidden, so the ledger can
    * sit inside or next to data directories. Empty before the first
    * compaction.
    */
  def readFolded(spark: SparkSession, dir: String): Set[Long] = {
    val (f, root) = fs(spark, dir)
    val p = new Path(root, FoldedLedger)
    if (!f.exists(p)) Set.empty
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(_.toLong).toSet
      finally in.close()
    }
  }

  /** Overwrite `dir`'s folded-batches ledger with `ids` (compactors
    * pass the union with [[readFolded]] — folds accumulate, they never
    * un-fold).
    */
  def writeFolded(spark: SparkSession, dir: String, ids: Set[Long]): Unit = {
    val (f, root) = fs(spark, dir)
    val out = f.create(new Path(root, FoldedLedger), true)
    try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  val FoldedLedger = "_folded_batches"

  /** Number of UNFOLDED per-batch partition directories
    * (`batch_id=<N>`, N ≠ -1) directly under `dir` — the fold-trigger
    * signal: each unfolded batch contributes its own file set to every
    * read, so this count (not data bytes) is what degrades a serving
    * log left uncompacted (measured: 1632 files → 4.85 s/search vs 25
    * files → 1.80 s, PERFNOTES r15). One driver-side `listStatus`,
    * O(batches) names.
    */
  def unfoldedBatches(spark: SparkSession, dir: String): Int = {
    val (f, p) = fs(spark, dir)
    if (!f.exists(p)) 0
    else f.listStatus(p).count { s =>
      val n = s.getPath.getName
      s.isDirectory && n.startsWith("batch_id=") && n != "batch_id=-1"
    }
  }

  /** Finish an interrupted [[swapIn]] (r17): the one non-atomic window
    * is between the retire and the promote — a crash there leaves NO
    * live dir, a COMPLETE `_compacting` candidate (the retire runs
    * strictly after `write` returned), and the previous generation
    * under `_old`. Recovery promotes the candidate; a stray `_old`
    * next to a healthy live dir (crash after promote, before cleanup)
    * is deleted. MUST run before any append or read of a swapped dir:
    * an append onto the missing-live window would re-create the live
    * dir with one batch's rows, after which the candidate (holding the
    * whole folded history) looks stale and the next swap deletes it —
    * silent total loss. Returns true when it repaired the missing-live
    * window. Idempotent, one existence probe on the happy path.
    */
  def recoverSwap(spark: SparkSession, liveDir: String): Boolean = {
    val (f, live) = fs(spark, liveDir)
    val tmp = new Path(s"${liveDir}_compacting")
    val old = new Path(s"${liveDir}_old")
    val repaired =
      if (!f.exists(live) && f.exists(tmp)) {
        if (!f.rename(tmp, live))
          sys.error(s"recoverSwap: cannot promote $tmp to $live")
        true
      } else false
    if (f.exists(live) && f.exists(old)) f.delete(old, true)
    repaired
  }

  /** Atomically replace the directory at `liveDir` with whatever
    * `write` produces at the tmp path it is handed: write beside,
    * promote-then-retire via Hadoop-FS renames (never `java.io.File` —
    * see the object scaladoc). Crash windows: before the retire the
    * old generation stays live (a stale partial candidate is deleted
    * on the next pass); between retire and promote, [[recoverSwap]] —
    * run here on entry and by every maintainer's append/load path —
    * promotes the complete candidate; after the promote, a leftover
    * `_old` is cleaned on the next pass. Never a half-written live dir.
    */
  def swapIn(spark: SparkSession, liveDir: String)(write: String => Unit): Unit = {
    val (f, live) = fs(spark, liveDir)
    val tmp = new Path(s"${liveDir}_compacting")
    val old = new Path(s"${liveDir}_old")
    recoverSwap(spark, liveDir) // promote-before-delete: a missing-live
    // window's candidate holds the only copy of the folded history
    if (f.exists(tmp)) f.delete(tmp, true)
    write(tmp.toString)
    if (f.exists(old)) f.delete(old, true)
    if (!f.rename(live, old)) sys.error(s"swapIn: cannot retire $live")
    if (!f.rename(tmp, live)) sys.error(s"swapIn: cannot promote $tmp")
    f.delete(old, true)
    ()
  }
}
