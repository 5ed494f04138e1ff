package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etd.Model

/** Seeded input generator: writes the reference's on-disk input layout —
  * `household_{id}_table.parquet` per house, `index.parquet` with the
  * `Meenemen` flag, a KNMI hourly CSV with its `#` preamble and the
  * project → station mapping CSV. The program under test sees only these
  * files.
  *
  * Every value is a pure function of (seed, house, slot, column), computed
  * per house in plain Scala, so the written rows do not depend on how many
  * Spark partitions carry the houses.
  *
  * Meter model: a true 5-minute consumption series per (house, column) in
  * integer milli-units; the cumulative meter is its running sum, reported
  * NA while the meter is out; the Diff column is the difference of two
  * consecutive reported meter values, so it is NA on every outage slot AND
  * on the slot where the meter comes back (which carries the resumed
  * reading — the gap's end value). Each (house, column) carries one
  * deterministic feature so that every `Model.ImputeType` branch fires on
  * any seed:
  *   0 hour-to-day outage          -> ScaledFill
  *   1 outage then a meter reset   -> NegativeGapJump
  *   2 outage with zero use        -> NearZeroGapJump
  *   3 outage running to the end   -> NoEndValue (up to half the
  *                                    period: some columns are over 40 %
  *                                    imputed)
  *   4 above-threshold reading     -> ThresholdAdjusted (+ an outage)
  *   5 new meter from 0, idle start-> ZeroEndValue
  * Every house starts with a NA Diff (no previous reading): PositiveEndValue
  * unless the meter starts at 0. Project-wide outages (every house of the
  * project out at once, so the `_avg` value is NA) give LinearFill.
  * Single-slot meter drops and dropped rows are spread over everything.
  */
object Gen {

  /** One house in this many has `Meenemen = false`. */
  val ExcludeEvery = 12

  final case class Shape(houses: Int, days: Int, projects: Int = 5) {
    val slots: Int = days * 288
    def project(h: Int): Int = (h - 1) % projects + 1
    def included(h: Int): Boolean = h % ExcludeEvery != 0
    def includedHouses: Seq[Int] = (1 to houses).filter(included)
    def includedProjects: Seq[Int] =
      includedHouses.map(project).distinct.sorted
  }

  /** 2024-01-01T00:00:00Z, the first reading slot. */
  val StartEpoch = 1704067200L

  final case class Station(stn: Int, name: String)
  val Stations = Seq(Station(260, "DE BILT"), Station(240, "SCHIPHOL"),
    Station(344, "ROTTERDAM"))
  def stationOf(project: Int): Station = Stations((project - 1) % Stations.size)

  private val cums = Model.cumulativeColumns

  /** SplitMix64 finalizer over the mixed key: a stateless hash, so any
    * (seed, house, slot, column) value is computed without a stream.
    */
  def mix(parts: Long*): Long = {
    var z = 0x9E3779B97F4A7C15L
    parts.foreach { p =>
      z += p * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
    }
    z
  }
  def unit(parts: Long*): Double = (mix(parts: _*) >>> 11) * (1.0 / (1L << 53))
  def pick(lo: Int, hi: Int, parts: Long*): Int =
    lo + (unit(parts: _*) * (hi - lo + 1)).toInt.min(hi - lo)

  // salts, so the streams of different decisions never coincide
  private val SDiff = 1L; private val SDrop = 2L; private val SRow = 3L
  private val SPos = 4L; private val SLen = 5L; private val SBase = 6L

  /** Per (project, column) outage that takes every house of the project
    * out over the same slots, or None.
    */
  def projectOutage(seed: Long, s: Shape, p: Int, c: Int): Option[(Int, Int)] =
    if ((p + c) % 4 != 0) None
    else {
      val len = pick(12, math.min(144, s.slots / 4), seed, SLen, p, c, 99)
      val at = pick(1, s.slots - len - 2, seed, SPos, p, c, 99)
      Some((at, len))
    }

  def feature(h: Int, c: Int): Int = (h + 7 * c) % 6

  /** Whether row `t` of house `h` exists at all (a dropped record). The
    * first and last slot always exist, so the resample spine spans the
    * whole period for every house.
    */
  def rowPresent(seed: Long, s: Shape, h: Int, t: Int): Boolean =
    t == 0 || t == s.slots - 1 || unit(seed, SRow, h, t) >= 1.0 / 400

  /** Reported cumulative meter (milli-units, or -1 for NA) of one column
    * over every slot of one house.
    */
  def meter(seed: Long, s: Shape, h: Int, c: Int): Array[Long] = {
    val n = s.slots
    val diff = Model.diffCol(cums(c))
    val hi = Model.thresholds(diff)._2
    val scale = hi * 1000 * 0.15
    val solar = cums(c) == "Zon-opwekTotaal"
    val f = feature(h, c)
    val out = new Array[Boolean](n)
    val zeroUse = new Array[Boolean](n)
    def outage(at: Int, len: Int): Unit =
      (at until math.min(n, at + len)).foreach(out(_) = true)
    // the feature's own outage
    val fLen = f match {
      case 0 => pick(12, math.min(288, n / 3), seed, SLen, h, c)
      case 1 => pick(3, 36, seed, SLen, h, c)
      case 2 => pick(6, 48, seed, SLen, h, c)
      case 3 => pick(6, n / 2, seed, SLen, h, c)
      case 4 => pick(12, 72, seed, SLen, h, c)
      case _ => pick(3, 24, seed, SLen, h, c)
    }
    val fAt = f match {
      case 3 => n - fLen
      case 5 => 0
      case _ => pick(2, n - fLen - 3, seed, SPos, h, c)
    }
    outage(fAt, fLen)
    // zero use through the slot the meter comes back on: the gap's jump
    // (end reading minus the reading before the gap) is then exactly 0
    if (f == 2 || f == 5)
      (fAt to math.min(n - 1, fAt + fLen)).foreach(zeroUse(_) = true)
    projectOutage(seed, s, s.project(h), c).foreach { case (a, l) => outage(a, l) }
    val spike = if (f == 4) pick(1, n - 1, seed, SPos, h, c, 4) else -1
    val resetAt = if (f == 1) fAt + fLen else -1
    var cum = if (f == 5) 0L else 1000L * pick(100, 20000, seed, SBase, h, c)
    val rep = new Array[Long](n)
    var t = 0
    while (t < n) {
      if (t > 0) {
        val slotOfDay = t % 288
        val use =
          if (zeroUse(t) || (solar && (slotOfDay < 84 || slotOfDay >= 228))) 0L
          else if (t == spike && !out(t)) (hi * 1000 * 1.5).toLong
          else {
            val u = unit(seed, SDiff, h, t, c)
            (u * u * scale).toLong
          }
        cum += use
        // the meter comes back lower than it left: a replaced meter
        if (t == resetAt) cum = cum * 2 / 5
      }
      val dropped = out(t) || (t > 0 && unit(seed, SDrop, h, t, c) < 1.0 / 300)
      rep(t) = if (dropped) -1L else cum
      t += 1
    }
    rep
  }

  val householdSchema: StructType = StructType(
    StructField(Model.ReadingDate, TimestampType, nullable = false) +:
      (cums.map(c => StructField(c, DoubleType)) ++
        cums.map(c => StructField(Model.diffCol(c), DoubleType))))

  /** The rows of one house, in slot order. */
  def houseRows(seed: Long, s: Shape, h: Int): Iterator[Row] = {
    val meters = cums.indices.map(c => meter(seed, s, h, c)).toArray
    val prev = Array.fill(cums.size)(-1L)
    (0 until s.slots).iterator.flatMap { t =>
      if (!rowPresent(seed, s, h, t)) None
      else {
        val values = new Array[Any](1 + 2 * cums.size)
        values(0) = new java.sql.Timestamp((StartEpoch + 300L * t) * 1000L)
        var c = 0
        while (c < cums.size) {
          val m = meters(c)(t)
          values(1 + c) = if (m < 0) null else m / 1000.0
          values(1 + cums.size + c) =
            if (m < 0 || prev(c) < 0) null else (m - prev(c)) / 1000.0
          prev(c) = m
          c += 1
        }
        Some(Row.fromSeq(values.toSeq))
      }
    }
  }

  /** Rows of house `h` that exist (the generator's own count, for checks). */
  def presentRows(seed: Long, s: Shape, h: Int): Int =
    (0 until s.slots).count(t => rowPresent(seed, s, h, t))

  def mappedDir(root: String): String = s"$root/mapped"
  def weatherDir(root: String): String = s"$root/knmi"
  def stationCsv(root: String): String = s"$root/stations.csv"

  /** Write every input file under `root`. `partitions` only sets how many
    * Spark tasks carry the houses.
    */
  def write(spark: SparkSession, seed: Long, s: Shape, root: String,
            partitions: Int): Unit = {
    val mapped = mappedDir(root)
    val staging = s"$root/_staging"
    val withHouse = StructType(
      StructField(Model.HouseId, LongType, nullable = false) +: householdSchema.fields)
    val rdd = spark.sparkContext
      .parallelize(1 to s.houses, partitions)
      .flatMap(h => houseRows(seed, s, h).map(r => Row.fromSeq(h.toLong +: r.toSeq)))
    spark.createDataFrame(rdd, withHouse)
      .write.mode("overwrite").partitionBy(Model.HouseId).parquet(staging)
    new File(mapped).mkdirs()
    (1 to s.houses).foreach { h =>
      val from = new File(s"$staging/${Model.HouseId}=$h")
      val to = new File(s"$mapped/household_${h}_table.parquet")
      require(from.renameTo(to), s"could not move $from to $to")
    }
    Files.deleteRecursively(new File(staging))
    indexFrame(spark, s).coalesce(1).write.mode("overwrite")
      .parquet(s"$mapped/index.parquet")
    writeKnmi(seed, s, weatherDir(root))
    writeStations(s, stationCsv(root))
  }

  def indexFrame(spark: SparkSession, s: Shape): DataFrame = {
    val rows = (1 to s.houses).map { h =>
      Row(h.toLong, s.project(h).toLong, s.included(h),
        50.0 + (h * 37 % 150), s"leverancier_${h % 3}",
        stationOf(s.project(h)).name)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      Model.indexSchema)
  }

  /** KNMI hourly export: a `#` preamble whose last line is the header,
    * covering two weeks before the first reading (the 14-day rolling
    * averages need them) through the day after the last.
    */
  def writeKnmi(seed: Long, s: Shape, dir: String): Unit = {
    new File(dir).mkdirs()
    val w = new PrintWriter(new File(s"$dir/uurgeg_etd.txt"), "UTF-8")
    try {
      w.println("# BRON: KONINKLIJK NEDERLANDS METEOROLOGISCH INSTITUUT (KNMI)")
      w.println("# SYNTHETIC HOURLY DATA FOR THE BENCHMARK")
      w.println("# STN,YYYYMMDD,   HH,    T,   FH,    U")
      val first = java.time.LocalDate.of(2024, 1, 1).minusDays(14)
      for (st <- Stations; d <- 0 until s.days + 15; hh <- 1 to 24) {
        val day = first.plusDays(d.toLong)
        val ymd = day.getYear * 10000 + day.getMonthValue * 100 + day.getDayOfMonth
        val k = d * 24 + hh
        val t = (40 + 60 * math.sin((hh - 9) * math.Pi / 12) +
          80 * (unit(seed, 11, st.stn, k) - 0.5) + 30 * math.sin(d / 9.0)).round
        val fh = 10 + (unit(seed, 12, st.stn, k) * 90).toInt
        val u = 60 + (unit(seed, 13, st.stn, k) * 40).toInt
        w.println(f"${st.stn}%5d,$ymd,$hh%5d,$t%5d,$fh%5d,$u%5d")
      }
    } finally w.close()
  }

  def writeStations(s: Shape, path: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try {
      w.println(s"${Model.ProjectId},Weerstation,Nummer")
      (1 to s.projects).foreach { p =>
        val st = stationOf(p)
        w.println(s"$p,${st.name.toLowerCase},${st.stn}")
      }
    } finally w.close()
  }
}

object Files {
  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Data files under a sink directory (hidden and `_` files excluded). */
  def dataFiles(f: File): Seq[File] =
    if (f.isFile) {
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil else Seq(f)
    } else Option(f.listFiles()).map(_.toSeq.flatMap(dataFiles)).getOrElse(Nil)
}
