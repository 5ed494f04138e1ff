package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The ETD pipeline benchmark. One JVM, `local[k]` with k = the cores the
  * JVM sees, one closed-loop client per workload.
  *
  *   --workload refresh_fleet|analysis_reads
  *   --seed N --seconds S --trace 0|1 [--record COUNT] [--expected DIR]
  *
  * Prints one `metric <name> <value> <unit> ...` line per metric, then one
  * JSON result line (the last line of stdout). `--record COUNT` writes the
  * output digests of input variants N .. N+COUNT-1 to the expected table
  * instead of measuring.
  *
  * The inputs of seed N are input variant N mod `InputVariants`, and the
  * digests of every variant are recorded, so the digest checks apply to any
  * seed.
  */
object Main {

  final case class Workload(name: String, shape: Gen.Shape, reads: Boolean)
  val workloads: Seq[Workload] = Seq(
    Workload("refresh_fleet", Gen.Shape(houses = 30, days = 1), reads = false),
    Workload("analysis_reads", Gen.Shape(houses = 6, days = 4, projects = 3), reads = true))

  /** Input variants with recorded digests (`expected/<workload>.tsv`). */
  val InputVariants = 20

  final case class Args(workload: Workload, seed: Long, seconds: Double,
                        trace: Boolean, record: Int, expected: String) {
    /** Seed of the generated inputs; a recording run records its own seed. */
    def inputSeed: Long = if (record > 0) seed else Math.floorMod(seed, InputVariants.toLong)
  }

  def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    val w = workloads.find(_.name == need("--workload"))
      .getOrElse(sys.error(s"unknown workload ${need("--workload")}"))
    Args(w, need("--seed").toLong, need("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1", kv.getOrElse("--record", "0").toInt,
      kv.getOrElse("--expected", "perfbench/expected"))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // every glob read of the per-house files logs a stack trace at WARN
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  /** Resident high-water mark of this JVM (MB), from /proc. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  /** Largest heap occupancy left after a garbage collection since `start`:
    * the program's live data at its peak, plus garbage no collection has
    * reached yet. Unlike the resident size it does not grow with the heap
    * the JVM is given.
    */
  object HeapWatch {
    import java.lang.management.MemoryType
    import javax.management.{NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import scala.jdk.CollectionConverters._
    import com.sun.management.GarbageCollectionNotificationInfo

    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private var peakBytes = 0L
    private var collections = 0L

    private val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
        val used = after.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, used); collections += 1 }
      }

    def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
    /** (peak MB, collections seen) */
    def peak: (Double, Long) = synchronized { (peakBytes / 1048576.0, collections) }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(s".bench_work/${a.workload.name}-${a.seed}-" +
      ProcessHandle.current().pid()).getAbsoluteFile
    work.mkdirs()
    val spark = session(Runtime.getRuntime.availableProcessors(), work)
    val code =
      try {
        if (a.record > 0) (a.seed until a.seed + a.record).foreach { seed =>
          require(seed >= 0 && seed < InputVariants, s"input variant $seed outside 0 until $InputVariants")
          val dir = new File(work, s"seed-$seed")
          new Run(spark, a.copy(seed = seed), dir, jvmStartMs).record()
          Files.deleteRecursively(dir)
        } else {
          val ctx = new Run(spark, a, work, jvmStartMs)
          val res = if (a.trace) ctx.traced() else ctx.timed()
          res.lines.foreach(println)
          println(res.json)
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        Files.deleteRecursively(work)
      }
    sys.exit(code)
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

final case class Metric(name: String, value: Double, unit: String, note: String = "")

final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric],
                        failures: Seq[String]) {
  def lines: Seq[String] =
    failures.take(20).map("failure " + _) ++
      metrics.map(m => f"metric ${m.name} ${m.value}%.6g ${m.unit}" +
        (if (m.note.isEmpty) "" else s"  (${m.note})")) :+
      f"metric failed_ratio ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.6g ratio  ($failed of $attempted operations)"
  def json: String = {
    val ms = metrics.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** One benchmark process: set-up, then the timed, traced or recording run. */
final class Run(spark: SparkSession, a: Main.Args, work: File, jvmStartMs: Long) {
  import Main._

  private val w = a.workload
  private val s = w.shape
  private val in = new File(work, "in").getPath
  private val expected = new Expected(s"${a.expected}/${w.name}.tsv")
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val inputSeed = a.inputSeed
  private val readings: Long =
    s.includedHouses.map(h => Gen.presentRows(inputSeed, s, h).toLong).sum

  private def now = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs $msg")
  private def secs(t0: Long) = (now - t0) / 1e9
  private def outDir(tag: String) = new File(work, s"out-$tag").getPath

  private def fail(msgs: Seq[String]): Unit = failures ++= msgs

  /** Set in traced runs: checks then run in a bookkeeping span, outside the
    * unit's counters.
    */
  private var tracer: Option[Tracer] = None
  private def book[T](body: => T): T =
    tracer.fold(body)(_.span(Tracer.Bookkeeping)(body))

  /** Reference digest for a sink or query: the one recorded for the input
    * variant; none while recording. A name with no recorded digest fails.
    */
  private val seen = mutable.Map.empty[String, String]
  private def reference(name: String): Option[String] =
    if (a.record > 0) None
    else Some(expected.get(inputSeed, name).getOrElse("unrecorded"))

  /** Check a written layout; every sink is one operation. */
  private def checkSinks(out: String): Map[String, String] = {
    val (digests, bad) = Staged.check(spark, out, inputSeed, s, reference)
    digests.foreach { case (n, d) => seen.getOrElseUpdate(n, d) }
    attempted += Checks.sinks.size
    fail(bad)
    digests
  }

  private def generate(): Unit =
    Gen.write(spark, inputSeed, s, in, partitions = spark.sparkContext.defaultParallelism)

  private lazy val reads = new Reads(spark, in, outDir("layout"), None)
  private lazy val allQueries: Seq[(String, Int)] =
    for (k <- reads.kinds; p <- s.includedProjects) yield (k, p)
  private def qname(q: (String, Int)) = s"${q._1}:${q._2}"

  private var rowsReturned = 0L

  /** Run one read query; one operation. Returns its wall time (ms). */
  private def query(r: Reads, q: (String, Int)): Double = {
    val t0 = now
    attempted += 1
    val rows =
      try Some(r.run(q._1, q._2))
      catch { case e: Exception => fail(Seq(s"${qname(q)} failed: $e")); None }
    val ms = (now - t0) / 1e6
    rowsReturned += rows.fold(0L)(_.length.toLong)
    rows.foreach { rs =>
      val d = Reads.digest(rs)
      reference(qname(q)).filter(_ != d)
        .foreach(e => fail(Seq(s"${qname(q)}: digest $d, expected $e")))
      seen.getOrElseUpdate(qname(q), d)
    }
    ms
  }

  /** Inputs; for analysis_reads also the partitioned layout (one cold
    * pipeline pass, checked) and untimed rounds of the read mix.
    */
  private def setUp(): Unit = {
    log("session up")
    generate()
    log("inputs written")
    if (w.reads) {
      Staged.pass(spark, in, outDir("layout"), partitionByProject = true)
      log("layout written")
      checkSinks(outDir("layout"))
      // a query's planning and execution code keeps getting faster over the
      // first rounds (JIT): process CPU per round falls by a third from the
      // third to the sixth round. Four untimed rounds take most of that curve
      for (i <- -3 to 0)
        Reads.round(i, reads.kinds, s.includedProjects).foreach(query(reads, _))
      log("warm-up rounds done")
    }
  }

  def record(): Unit = {
    setUp()
    if (w.reads) allQueries.foreach(query(reads, _))
    else {
      Staged.pass(spark, in, outDir("pass"))
      checkSinks(outDir("pass"))
    }
    require(failures.isEmpty, s"refusing to record a failing run: $failures")
    expected.record(a.seed, seen.toMap)
    log(s"recorded ${seen.size} digests for input variant ${a.seed}")
  }

  /** One timed unit: a staged pass, or one round of the read mix.
    * Returns (wall s, cpu s, query latencies ms). A staged pass is one
    * query: its user submits the refresh and waits for all 15 sinks.
    */
  private def unit(i: Int): (Double, Double, Seq[Double]) = {
    val c0 = cpuNs; val t0 = now
    if (w.reads) {
      val lat = Reads.round(i, reads.kinds, s.includedProjects)
        .map(query(reads, _))
      (secs(t0), (cpuNs - c0) / 1e9, lat)
    } else {
      val out = outDir(s"pass-$i")
      val ok =
        try { Staged.pass(spark, in, out); true }
        catch { case e: Exception =>
          attempted += Checks.sinks.size
          fail(Seq(s"pass $i failed: $e"))
          false
        }
      val wall = secs(t0); val cpu = (cpuNs - c0) / 1e9
      if (ok) book(checkSinks(out))
      Files.deleteRecursively(new File(out))
      (wall, cpu, Seq(wall * 1e3))
    }
  }

  def timed(): Result = {
    HeapWatch.start()
    setUp()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val units = mutable.ArrayBuffer.empty[(Double, Double, Seq[Double])]
    val t0 = now
    while (units.isEmpty || secs(t0) < a.seconds) {
      units += unit(units.size + 1)
      log(f"unit ${units.size}: ${units.last._1}%.2fs wall, ${units.last._2}%.2f CPU-s")
    }
    // A staged pass is a batch job: its user pays the first pass of a fresh
    // JVM. Later (warmer) passes are checked but not measured.
    val measured = if (w.reads) units.toSeq else units.take(1).toSeq
    val walls = measured.map(_._1)
    val cpus = measured.map(_._2)
    val lats = measured.flatMap(_._3)
    val busy = walls.sum
    val runS = median(walls)
    val (heapMb, collections) = HeapWatch.peak
    val unitName = if (w.reads) "rounds of the read mix" else "cold staged pass"
    val queryName = if (w.reads) "queries" else "staged pass"
    Result(attempted, failures.size, Seq(
      Metric("setup_s", setupS, "s", "JVM start to first timed operation"),
      Metric("run_s", runS, "s", s"median of ${walls.size} $unitName"),
      Metric("readings_per_s", readings / runS, "readings/s", s"$readings readings"),
      Metric("cpu_s", median(cpus), "CPU-s", s"process CPU per unit, median of ${cpus.size}"),
      Metric("peak_rss_mb", peakRssMb, "MB", "VmHWM of the benchmark JVM"),
      Metric("peak_heap_mb", heapMb, "MB", s"heap left after a collection, largest of $collections"),
      Metric("query_p50_ms", Stats.quantile(lats, 0.5), "ms", s"${lats.size} $queryName"),
      Metric("query_p95_ms", Stats.quantile(lats, 0.95), "ms",
        s"${lats.size} $queryName, ${(lats.size * 0.05).toInt} beyond"),
      Metric("queries_per_s", lats.size / busy, "queries/s", "closed loop, 1 client")),
      failures.toSeq)
  }

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Query phases and Spark counters of the whole unit of run `run`. */
  private def unitMetrics(tr: Tracer, run: String, wallS: Double,
                          gcS: Double): Seq[(String, Double)] = {
    val c = tr.totalCounters(run)
    Seq(
      "driver.analysis_ms" -> c.analysisMs,
      "driver.optimization_ms" -> c.optimizationMs,
      "driver.planning_ms" -> c.planningMs,
      "driver.execution_ms" -> c.executionMs,
      // wall time outside every action: building the frames (Spark
      // analyzes each new Dataset eagerly), file listing, footer reads
      "driver.construct_ms" -> math.max(0.0, wallS * 1e3 - c.analysisMs - c.actionMs),
      "driver.actions" -> c.actions.toDouble,
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_cpu_s" -> c.taskCpuNs / 1e9,
      "spark.gc_s" -> gcS,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> c.spillBytes / 1e6)
  }

  /** Per-module metrics from the traced unit's spans: a module's self time
    * under its own name; frame construction of combineHouseholds is
    * `build_ms`, its materialization `scan_s`; writeStage counts all sinks.
    */
  private def layerMetrics(tr: Tracer, run: String): Seq[(String, Double)] = {
    val self = tr.selfMs(run)
    val total = tr.totalMs(run)
    val reads = Set("Tables.household", "Tables.project", "Sources.readKnmiCsv",
      "Weather.weatherTable", "Weather.joinWeather")
    self.toSeq.sortBy(_._1).flatMap {
      case ("unit" | Tracer.Bookkeeping, _) => Nil
      case (n, _) if n.startsWith("query.") || n.startsWith("Sources.writeStage.") => Nil
      case ("Sources.combineHouseholds", ms) => Seq("Sources.combineHouseholds.build_ms" -> ms)
      case ("Sources.combineHouseholds.scan", ms) => Seq("Sources.combineHouseholds.scan_s" -> ms / 1e3)
      case ("Sources.writeStage", _) => Seq("Sources.writeStage.s" -> total("Sources.writeStage") / 1e3)
      case (n, ms) if reads(n) => Seq(s"$n.ms" -> ms)
      case (n, ms) => Seq(s"$n.s" -> ms / 1e3)
    } ++ tr.countersOf(run).get("Impute.imputeColumnsBatched")
      .map(c => "Impute.imputeColumnsBatched.task_cpu_s" -> c.taskCpuNs / 1e9)
  }

  def traced(): Result = {
    val tr = new Tracer(spark)
    tracer = Some(tr)
    setUp()
    val m = mutable.LinkedHashMap.empty[String, Double]
    def untraced(run: String, i: Int): Double = {
      tr.startRun(run)
      val gc0 = gcMs
      val wall = tr.span("unit")(unit(i))._1
      if (run == "untraced") m ++= unitMetrics(tr, run, wall, (gcMs - gc0) / 1e3)
      wall
    }
    // query phases and Spark counters of the unit the timed run measures
    val rows0 = rowsReturned
    val first = untraced("untraced", 1)
    if (w.reads) {
      val scanned = tr.totalCounters("untraced")
      val returned = rowsReturned - rows0
      m("scan.mb_read") = scanned.inputBytes / 1e6
      m("scan.rows_read_per_row_returned") =
        if (returned == 0) 0.0 else scanned.inputRecords.toDouble / returned
    }
    // the reference for the tracing overhead must be as warm as the traced
    // unit: a staged first pass is cold
    val baseS = if (w.reads) first else untraced("warm", 2)
    tr.startRun("traced")
    if (w.reads) {
      val r = new Reads(spark, in, outDir("layout"), Some(tr))
      tr.span("unit") {
        Reads.round(1, r.kinds, s.includedProjects).foreach { q =>
          tr.span(s"query.${q._1}")(query(r, q))
        }
      }
    } else {
      m ++= tr.span("unit")(Staged.tracedPass(spark, tr, in, outDir("traced"),
        partitionByProject = false))
      checkSinks(outDir("traced"))
    }
    val totals = tr.totalMs("traced")
    val tracedS = (totals("unit") - totals.getOrElse(Tracer.Bookkeeping, 0.0)) / 1e3
    m("trace.overhead_ratio") = tracedS / baseS
    m ++= layerMetrics(tr, "traced")
    if (w.reads) {
      // the pipeline layers behind the layout this workload reads
      tr.startRun("layout")
      m ++= tr.span("unit")(Staged.tracedPass(spark, tr, in, outDir("traced-layout"),
        partitionByProject = true))
      checkSinks(outDir("traced-layout"))
      m ++= layerMetrics(tr, "layout")
    }
    tr.close()
    tr.writeJson(new File(work.getParentFile, s"spans-${w.name}.json").getPath)
    Result(attempted, failures.size,
      m.toSeq.map { case (k, v) => Metric(k, v, Units.of(k)) }, failures.toSeq)
  }
}

object Units {
  private val counts = Seq("jobs", "stages", "tasks", "actions", "files",
    "rows", "cells", "window_nodes", "files_written")
  def of(name: String): String =
    if (name.endsWith("task_cpu_s")) "CPU-s"
    else if (name.endsWith("_ms") || name.endsWith(".ms")) "ms"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_mb") || name.contains(".mb_")) "MB"
    else if (name.contains("ratio") || name.contains("per_row")) "ratio"
    else if (counts.exists(name.endsWith)) "count"
    else sys.error(s"no unit for metric $name")
}
