package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The replay-exact batch log of the streaming maintainers, written
  * once: [[append]], [[read]] and [[fold]].
  *
  * Layout: a maintainer's state dir `<dir>` holds one or more logs
  * `<dir>/<log>/`, each partitioned by `batch_id`, and beside them the
  * `_folded_batches` ledger. Each micro-batch writes its own
  * `batch_id=<N>` partition of every log by dynamic overwrite, so an
  * at-least-once retry rewrites its failed attempt instead of appending
  * next to it; a fold collapses each log into one `batch_id = -1`
  * generation and ledgers the batch ids it moved there, whose replays
  * are then no-ops.
  *
  * Every probe goes through the FileSystem OF THE PATH — never
  * `java.io.File` — so a state dir works on any storage Spark itself
  * can read (hdfs://, s3a://, file:/). A driver-local `File.exists()`
  * probe reads every remote dir as absent, which silently disables
  * cross-batch state: each micro-batch would fold into nothing and
  * overwrite the history.
  */
object BatchState {

  def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** `foreachBatch` step: write batch `batchId`'s rows to each named
    * log under `dir`, replay-exactly. A fold that crashed mid-swap is
    * finished first on every log (an append onto the missing-live
    * window would re-create the live dir with this batch alone, after
    * which the next swap deletes the candidate holding the folded
    * history); a batch the ledger names is a no-op, because its rows
    * already live in the `-1` generation and re-appending would count
    * them twice. The rows are lazy frames, so a no-op computes nothing.
    */
  def append(dir: String, batchId: Long, logs: (String, DataFrame)*): Unit = {
    val spark = logs.head._2.sparkSession
    logs.foreach { case (log, _) => recoverSwap(spark, s"$dir/$log") }
    if (readFolded(spark, dir).contains(batchId)) return
    logs.foreach { case (log, rows) =>
      rows.withColumn("batch_id", lit(batchId))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$dir/$log")
    }
  }

  /** The rows of the log at `logDir`, every generation, without the
    * batch stamp (after finishing a crashed fold's swap).
    */
  def read(spark: SparkSession, logDir: String): DataFrame = {
    recoverSwap(spark, logDir)
    spark.read.parquet(logDir).drop("batch_id")
  }

  /** Collapse each named log under `dir` into one `batch_id = -1`
    * generation, through its fold function (a sum for additive deltas,
    * a clustering sort for row logs). Out-of-band, or in-band right
    * after an append completed: a batch being written concurrently is
    * not allowed.
    *
    * A multi-log append is several non-atomic writes, so a batch is
    * COMPLETE when its id is present in every log, or when the ledger
    * already names it (a fold that crashed between two logs' swaps).
    * Folding a partial batch would be wrong both ways: ledgering it
    * skips the repairing replay, while folding it un-ledgered lets the
    * replay re-append next to the fold. So only complete ids are
    * ledgered, before any swap (complete ⇒ its writes all finished, so
    * early ledgering is safe whichever swap a crash interrupts), and
    * each log's other partitions ride the swap untouched under their
    * own `batch_id=<N>`, for the replay to repair in place and the next
    * fold to take. Nothing is folded when no batch is complete.
    */
  def fold(spark: SparkSession, dir: String,
           logs: (String, DataFrame => DataFrame)*): Unit = {
    logs.foreach { case (log, _) => recoverSwap(spark, s"$dir/$log") }
    val ids = logs.map { case (log, _) => batchIds(spark, s"$dir/$log") }
    val folded = readFolded(spark, dir)
    val complete = ids.reduce(_ & _) ++ (ids.reduce(_ | _) & folded)
    if (complete.isEmpty) return
    writeFolded(spark, dir, complete ++ folded)
    logs.zip(ids).foreach { case ((log, foldLog), present) =>
      val carried = (present -- complete).toSeq
      swapIn(spark, s"$dir/$log") { tmp =>
        val rows = spark.read.parquet(s"$dir/$log")
        foldLog(rows.filter(!col("batch_id").isin(carried: _*))
            .drop("batch_id"))
          .withColumn("batch_id", lit(-1L))
          .write.partitionBy("batch_id").mode("overwrite").parquet(tmp)
        if (carried.nonEmpty)
          rows.filter(col("batch_id").isin(carried: _*))
            .write.partitionBy("batch_id").mode("append").parquet(tmp)
      }
    }
  }

  /** Batch ids recorded in the `_folded_batches` ledger under `dir`.
    * Underscore-prefixed name: Spark's file listing treats it as
    * hidden. Empty before the first fold.
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

  /** Overwrite `dir`'s folded-batches ledger with `ids` ([[fold]]
    * passes the union with [[readFolded]] — folds accumulate, they
    * never un-fold).
    */
  def writeFolded(spark: SparkSession, dir: String, ids: Set[Long]): Unit = {
    val (f, root) = fs(spark, dir)
    val out = f.create(new Path(root, FoldedLedger), true)
    try out.write(ids.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private val FoldedLedger = "_folded_batches"

  /** Number of UNFOLDED per-batch partition directories
    * (`batch_id=<N>`, N ≠ -1) directly under `logDir` — the fold-trigger
    * signal: each unfolded batch contributes its own file set to every
    * read, so this count (not data bytes) is what degrades a serving
    * log left uncompacted (measured: 1632 files → 4.85 s/search vs 25
    * files → 1.80 s, PERFNOTES r15).
    */
  def unfoldedBatches(spark: SparkSession, logDir: String): Int =
    batchIds(spark, logDir).size

  /** Ids of the unfolded partitions under `logDir`; empty when it does
    * not exist. One driver-side `listStatus`, O(batches) names.
    */
  private def batchIds(spark: SparkSession, logDir: String): Set[Long] = {
    val (f, p) = fs(spark, logDir)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).iterator.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.startsWith("batch_id=") && n != "batch_id=-1")
      .map(_.stripPrefix("batch_id=").toLong).toSet
  }

  /** Finish an interrupted [[swapIn]] (r17): the one non-atomic window
    * is between the retire and the promote — a crash there leaves NO
    * live dir, a COMPLETE `_compacting` candidate (the retire runs
    * strictly after `write` returned), and the previous generation
    * under `_old`. Recovery promotes the candidate; a stray `_old`
    * next to a healthy live dir (crash after promote, before cleanup)
    * is deleted. Runs before every append, read and fold of a log.
    * Idempotent, one existence probe on the happy path.
    */
  private def recoverSwap(spark: SparkSession, liveDir: String): Unit = {
    val (f, live) = fs(spark, liveDir)
    val tmp = new Path(s"${liveDir}_compacting")
    val old = new Path(s"${liveDir}_old")
    if (!f.exists(live) && f.exists(tmp) && !f.rename(tmp, live))
      sys.error(s"recoverSwap: cannot promote $tmp to $live")
    if (f.exists(live) && f.exists(old)) f.delete(old, true)
  }

  /** Atomically replace the directory at `liveDir` with whatever
    * `write` produces at the tmp path it is handed: write beside,
    * promote-then-retire via Hadoop-FS renames. Crash windows: before
    * the retire the old generation stays live (a stale partial
    * candidate is deleted on the next pass); between retire and
    * promote, [[recoverSwap]] promotes the complete candidate; after
    * the promote, a leftover `_old` is cleaned on the next pass. Never a
    * half-written live dir. The caller has run [[recoverSwap]], so a
    * candidate found here is a stale partial one.
    */
  private def swapIn(spark: SparkSession, liveDir: String)
                    (write: String => Unit): Unit = {
    val (f, live) = fs(spark, liveDir)
    val tmp = new Path(s"${liveDir}_compacting")
    val old = new Path(s"${liveDir}_old")
    if (f.exists(tmp)) f.delete(tmp, true)
    write(tmp.toString)
    if (f.exists(old)) f.delete(old, true)
    if (!f.rename(live, old)) sys.error(s"swapIn: cannot retire $live")
    if (!f.rename(tmp, live)) sys.error(s"swapIn: cannot promote $tmp")
    f.delete(old, true)
  }
}
