package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBus

/** The task-metrics listener of the measurement mains (ScaleBench,
  * SkewBench): per-task maxima (the "would one task OOM/straggle"
  * signal) plus totals (the "did the shuffle volume actually scale"
  * signal) over one timed block.
  *
  * [[timed]] (and [[timedWith]]) is the only way to take a reading. It
  * resets the probe, times `body`, drains the listener bus (so every
  * task-end event of the block has arrived), then prints one JSON line —
  * the caller's fields in order, then `"sec"`, then every probe field —
  * and returns the body's result. A body that throws prints nothing;
  * the next block still starts from zero.
  */
final class Probe private (spark: SparkSession) extends SparkListener {
  import Probe.Reading

  private var maxTaskMs, maxShuffleRead, maxShuffleWrite, maxPeakMem = 0L
  private var totShuffleWrite, totInput, totRecords = 0L
  private var tasks = 0

  /** The reading the last completed [[timed]] block printed. */
  @volatile var last: Reading = Reading(0.0, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskInfo != null) maxTaskMs = maxTaskMs.max(t.taskInfo.duration)
    val m = t.taskMetrics
    if (m != null) {
      maxShuffleRead = maxShuffleRead.max(m.shuffleReadMetrics.totalBytesRead)
      maxShuffleWrite = maxShuffleWrite.max(m.shuffleWriteMetrics.bytesWritten)
      maxPeakMem = maxPeakMem.max(m.peakExecutionMemory)
      totShuffleWrite += m.shuffleWriteMetrics.bytesWritten
      totInput += m.inputMetrics.bytesRead
      totRecords += m.inputMetrics.recordsRead
    }
    tasks += 1
  }

  private def reset(): Unit = synchronized {
    maxTaskMs = 0L; maxShuffleRead = 0L; maxShuffleWrite = 0L
    maxPeakMem = 0L; totShuffleWrite = 0L; totInput = 0L; totRecords = 0L
    tasks = 0
  }

  def timed[A](fields: (String, Any)*)(body: => A): A =
    timedWith(fields: _*)(body)(_ => Nil)

  /** [[timed]] with fields computed from the body's result (row counts,
    * a status), placed after the caller's fields. `derived` runs after
    * the reading is taken, so jobs it starts are not counted.
    */
  def timedWith[A](fields: (String, Any)*)(body: => A)
                  (derived: A => Seq[(String, Any)]): A = {
    ListenerBus.drain(spark.sparkContext) // earlier untimed jobs' events
    reset()
    val t0 = System.nanoTime()
    val result = body
    val sec = (System.nanoTime() - t0) / 1e9
    ListenerBus.drain(spark.sparkContext)
    last = synchronized(Reading(sec, maxTaskMs, maxShuffleRead,
      maxShuffleWrite, maxPeakMem, totShuffleWrite, totInput, totRecords, tasks))
    println(Probe.json(fields ++ derived(result) ++ last.fields))
    result
  }
}

object Probe {

  /** Registers a new probe on the session's listener bus. */
  def apply(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }

  final case class Reading(sec: Double, maxTaskMs: Long, maxShuffleRead: Long,
                           maxShuffleWrite: Long, maxPeakMem: Long,
                           totShuffleWrite: Long, totInput: Long,
                           totRecords: Long, tasks: Int) {
    def fields: Seq[(String, Any)] = Seq(
      "sec" -> sec,
      "max_task_ms" -> maxTaskMs,
      "max_task_shuffle_read" -> maxShuffleRead,
      "max_task_shuffle_write" -> maxShuffleWrite,
      "max_task_peak_mem" -> maxPeakMem,
      "shuffle_write_bytes" -> totShuffleWrite,
      "input_bytes" -> totInput,
      "rows_read" -> totRecords,
      "tasks" -> tasks)
  }

  /** One JSON object: strings quoted and escaped, doubles rounded to 4
    * places (null when not finite), anything else as its `toString`.
    */
  private def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => quote(s)
    case f: Float => value(f.toDouble)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double =>
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  /** JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped. Verify's oracle_sql.json goes through it too: a tab or CR
    * in an oracle query would otherwise make the checker's `json.load`
    * fail and silently zero the correctness compare.
    */
  private[graft] def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
}
