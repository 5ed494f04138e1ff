package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** One inspection tool over the query registry
  * (`SparkEntry.queries ++ Bench.benchOnly`): plan shape and per-operator
  * cost of the same query, side by side. Usage:
  *   runMain graft.Inspect <q_name>... [sfDir] --plan|--hash|--phases|--stages|--ops
  *
  * - `--plan`   `explain("formatted")`.
  * - `--hash`   md5 of the full result (rows sorted, columns by name,
  *              every field length-prefixed) — proves a restructured plan
  *              output-identical against another commit.
  * - `--phases` analyze / optimize+plan / execute split over three
  *              rounds, each with its Janino compile count (the JVM's
  *              codegen compilations during the round), then the
  *              optimizer's top 40 rules by time.
  * - `--stages` the third (warm) run's stages by executor-run time.
  * - `--ops`    the second (warm) run's physical operators with their SQL
  *              metrics.
  *
  * sfDir: the argument, else SPARK_GRAFT_SF_DIR, else sf0.1; width:
  * SPARK_GRAFT_CPUS (see [[Harness]]).
  */
object Inspect {

  private val modes = Seq("--plan", "--hash", "--phases", "--stages", "--ops")
  private val usage =
    s"usage: graft.Inspect <q_name>... [sfDir] ${modes.mkString("|")}"

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    val (names, dirs) = rest.partition(_.startsWith("q_"))
    require(flags.size == 1 && modes.contains(flags.head) && names.nonEmpty &&
      dirs.size <= 1, usage)
    val sfDir = Harness.sfDir(dirs.headOption)
    val spark = Harness.session()
    try {
      SchemaCanary.warn(spark, sfDir)
      names.foreach(run(spark, _, sfDir, flags.head))
    } finally spark.stop()
  }

  def run(spark: SparkSession, name: String, sfDir: String, mode: String): Unit = {
    val query = (SparkEntry.queries ++ Bench.benchOnly).getOrElse(name,
      throw new IllegalArgumentException(
        s"$name is in neither SparkEntry.queries nor Bench.benchOnly"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def materialize(df: DataFrame): Unit = { noop(df); Checkpoints.sweep(spark) }
    mode match {
      case "--plan" =>
        println(s"==== $name ====")
        query(spark, sfDir).explain("formatted")
      case "--hash" =>
        val df0 = query(spark, sfDir)
        val df = df0.select(df0.columns.sorted.map(col).toSeq: _*)
        val rows = df.collect().toSeq.map(_.toSeq)
        println(s"[hash] $name rows=${rows.size} " +
          s"schema=${df.schema.map(f => f.name + ":" + f.dataType.sql).mkString(",")} " +
          s"md5=${digest(rows)}")
      case "--phases" =>
        Harness.untimed("inspect warm-up") {
          noop(spark.read.parquet(s"$sfDir/events.parquet").limit(1000))
        }
        RuleExecutor.resetMetrics()
        for (round <- 1 to 3) {
          val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val t0 = System.nanoTime()
          val df = query(spark, sfDir) // eager per-select analysis
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          noop(df)
          val t3 = System.nanoTime()
          Checkpoints.sweep(spark)
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
          println(f"[phases] $name round $round: analyze=${(t1 - t0) / 1e9}%6.2fs " +
            f"plan=${(t2 - t1) / 1e9}%6.2fs exec=${(t3 - t2) / 1e9}%6.2fs " +
            s"compiles=$compiles")
        }
        // which optimizer rules own the optimize+plan phase
        println(RuleExecutor.dumpTimeSpent().linesIterator.take(40).mkString("\n"))
      case "--stages" =>
        materialize(query(spark, sfDir)); materialize(query(spark, sfDir)) // warm
        val stages = scala.collection.mutable.ArrayBuffer.empty[StageInfo]
        val listener = new SparkListener {
          override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
            stages.synchronized { stages += s.stageInfo }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        materialize(query(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val ms = stages.toSeq.map(s => s -> s.taskMetrics)
        println(f"[stages] $name wall=$sec%.2fs stages=${ms.size} " +
          f"taskRunSec=${ms.map(_._2.executorRunTime).sum / 1e3}%.1f " +
          f"taskCpuSec=${ms.map(_._2.executorCpuTime).sum / 1e9}%.1f")
        ms.sortBy(-_._2.executorRunTime).take(40).foreach { case (s, m) =>
          println(f"[stage] ${s.stageId}%4d run=${m.executorRunTime / 1e3}%7.2fs " +
            f"cpu=${m.executorCpuTime / 1e9}%7.2fs gc=${m.jvmGCTime / 1e3}%5.2fs " +
            f"tasks=${s.numTasks}%3d " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2fMB " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fMB " +
            f"spill=${m.memoryBytesSpilled / 1e6}%8.1f/${m.diskBytesSpilled / 1e6}%7.1fMB " +
            f"peak=${m.peakExecutionMemory / 1e6}%8.1fMB ${s.name.takeWhile(_ != '\n')}")
        }
      case "--ops" =>
        materialize(query(spark, sfDir)) // warm
        val df = query(spark, sfDir)
        @volatile var ran: Option[QueryExecution] = None
        val listener = new QueryExecutionListener {
          override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
            ran = Some(qe)
          override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
        }
        spark.listenerManager.register(listener)
        val t0 = System.nanoTime()
        noop(df)
        println(f"[ops] $name exec=${(System.nanoTime() - t0) / 1e9}%.2fs")
        ListenerBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
        walk(ran.getOrElse(throw new IllegalStateException(
          s"[ops] $name: no successful execution reached the listener")).executedPlan, 0)
      case other =>
        throw new IllegalArgumentException(s"unknown mode $other; $usage")
    }
    Checkpoints.sweep(spark)
  }

  private val opMetrics = Set("sortTime", "spillSize", "peakMemory",
    "numOutputRows", "aggTime", "shuffleWriteTime", "fetchWaitTime",
    "dataSize", "shuffleBytesWritten")

  private def walk(p: SparkPlan, depth: Int): Unit = {
    val ms = p.metrics.collect {
      case (k, m) if opMetrics(k) && m.value != 0 => s"$k=${m.value}"
    }.mkString(" ")
    println(s"[op] ${"  " * depth}${p.nodeName} $ms")
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
      case q: QueryStageExec => walk(q.plan, depth + 1)
      case r: ReusedExchangeExec =>
        println(s"[op] ${"  " * (depth + 1)}(reused ${r.child.nodeName})")
      case _ => p.children.foreach(walk(_, depth + 1))
    }
  }

  /** One result field as a self-delimiting token, `<length>:<text>`, with
    * `~` for null: plain concatenation hashed ("ab","c") like ("a","bc"),
    * and null like the string "NULL".
    */
  def field(v: Any): String = v match {
    case null => "~"
    case _ =>
      val text = v match {
        case d: Double => java.lang.Double.toHexString(d)
        case f: Float => java.lang.Float.toHexString(f)
        case t: java.sql.Timestamp => t.toInstant.toString
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case s: scala.collection.Seq[_] => s.map(field).mkString
        case m: scala.collection.Map[_, _] =>
          m.toSeq.map { case (k, x) => field(k) + field(x) }.sorted.mkString
        case r: Row => r.toSeq.map(field).mkString
        case x => x.toString
      }
      s"${text.length}:$text"
  }

  /** md5 over the sorted, field-encoded rows: independent of row order. */
  def digest(rows: Seq[Seq[Any]]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(_.map(field).mkString).sorted
      .foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}
