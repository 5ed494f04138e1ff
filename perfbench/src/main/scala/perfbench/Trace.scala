package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one span collects: Spark jobs tagged with the span's name,
  * and the query phases of every action that completed inside it.
  */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskCpuNs = 0L; var inputBytes = 0L; var inputRecords = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L
  var actions = 0L
  var analysisMs = 0.0; var optimizationMs = 0.0; var planningMs = 0.0
  /** Action time as Spark reports it (optimization and planning of the
    * action's plan included), and that time less those two phases.
    */
  var actionMs = 0.0; var executionMs = 0.0

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; actions += o.actions
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; actionMs += o.actionMs
    executionMs += o.executionMs
  }
}

/** One timed interval: `parent` is the id of the span that caused it
  * (-1 for a root), `run` the pass it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time: the span's duration minus the part of it its children
    * cover (overlapping children count once).
    */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    parent.durNs - covered
  }
}

/** The traced run's recorder: spans kept in memory and written as JSON at
  * the end, Spark counters attributed to the innermost open span. Jobs
  * carry the span name as a local property; action phases (from each
  * action's `QueryExecution.tracker`) reach the listener bus
  * asynchronously, so every span start and end drains the bus and files the
  * actions completed since under the innermost span open at the time.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  private var run = "setup"
  private val counters = mutable.LinkedHashMap.empty[String, Counters]
  private def ctr(name: String) = counters.getOrElseUpdate(name, new Counters)

  private val stageSpan = mutable.Map.empty[Int, String]
  private val pendingActions = mutable.ArrayBuffer.empty[Counters]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val name = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .getOrElse("none|none")
      e.stageIds.foreach(stageSpan(_) = name)
      ctr(name).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        ctr(stageSpan.getOrElse(e.stageInfo.stageId, "none|none")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = ctr(stageSpan.getOrElse(e.stageId, "none|none"))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskCpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val actionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit =
      record(qe, durNs)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durNs: Long): Unit = {
      val c = new Counters
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      c.actions = 1
      c.analysisMs = ms("analysis"); c.optimizationMs = ms("optimization")
      c.planningMs = ms("planning"); c.actionMs = durNs / 1e6
      c.executionMs = math.max(0.0, c.actionMs - c.optimizationMs - c.planningMs)
      Tracer.this.synchronized { pendingActions += c }
    }
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(actionListener)

  def close(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(actionListener)
  }

  def startRun(id: String): Unit = { run = id }

  /** File the actions that completed so far under the innermost open span
    * (none open: they precede tracing and are dropped).
    */
  private def fileActions(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      open.headOption.foreach { case (_, n, _) =>
        pendingActions.foreach(ctr(s"$run|$n") += _)
      }
      pendingActions.clear()
    }
  }

  def span[T](name: String)(body: => T): T = {
    fileActions()
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val prevProp = sc.getLocalProperty(Prop)
    open.push((id, name, System.nanoTime()))
    sc.setLocalProperty(Prop, s"$run|$name")
    try body
    finally {
      fileActions()
      val end = System.nanoTime()
      val (_, _, start) = open.pop()
      sc.setLocalProperty(Prop, prevProp)
      spans += Span(id, name, parent, run, start, end)
    }
  }

  /** Counters of every span name of run `run`. */
  def countersOf(run: String): Map[String, Counters] = synchronized {
    counters.collect { case (k, c) if k.startsWith(run + "|") =>
      k.drop(run.length + 1) -> c
    }.toMap
  }

  /** Counters of run `run` summed, bookkeeping excluded. */
  def totalCounters(run: String): Counters = {
    val t = new Counters
    countersOf(run).foreach { case (n, c) => if (n != Tracer.Bookkeeping) t += c }
    t
  }

  /** Wall time per span name (children included), summed over run `run`. */
  def totalMs(run: String): Map[String, Double] =
    spans.filter(_.run == run).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.durNs).sum / 1e6 }

  /** Self time per span name, summed over spans of run `run`. */
  def selfMs(run: String): Map[String, Double] = {
    val inRun = spans.filter(_.run == run)
    val kids = inRun.groupBy(_.parent)
    inRun.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => Span.selfNs(s, kids.getOrElse(s.id, Nil).toSeq)).sum / 1e6
    }
  }

  def writeJson(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      w.println(spans.map { s =>
        val n = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
        s"""{"id":${s.id},"name":"$n","parent":${s.parent},"run":"${s.run}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}

object Tracer {
  /** Span of the checks and counts the traced run itself adds. */
  val Bookkeeping = "trace.bookkeeping"
}
