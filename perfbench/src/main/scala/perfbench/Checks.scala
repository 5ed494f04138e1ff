package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etd.Model

/** Output checks. Every failed check is one failed operation. */
object Checks {

  /** Order-independent digest of a frame: row count plus the exact sum of
    * one 64-bit hash per row over every column (sorted by name; doubles
    * rounded to 6 decimals so a last-ulp summation-order change does not
    * read as a wrong output; integers widened, so a partition column read
    * back as int hashes like the long it was written as).
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case IntegerType | ShortType | ByteType => col(s"`${f.name}`").cast(LongType)
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  def rowsOf(d: String): Long = d.takeWhile(_ != ':').toLong

  val intervals: Seq[String] = Seq("5min", "15min", "60min", "6h", "24h")
  val bucketsPerDay: Map[String, Int] =
    Map("5min" -> 288, "15min" -> 96, "60min" -> 24, "6h" -> 4, "24h" -> 1)

  /** The 15 sinks of `Pipeline.writeStages`, in write order. */
  val sinks: Seq[String] = Seq("household_imputed", "impute_gap_stats",
    "impute_summary_household", "impute_summary_project",
    "household_calculated") ++
    intervals.flatMap(iv => Seq(s"household_$iv", s"project_$iv"))

  /** Rows each sink must hold, from the shape the generator knows. */
  def expectedRows(seed: Long, s: Gen.Shape): Map[String, Long] = {
    val houses = s.includedHouses
    val present = houses.map(h => Gen.presentRows(seed, s, h).toLong).sum
    val nCols = Model.cumulativeColumns.size.toLong
    val projects = s.includedProjects.size.toLong
    Map(
      "household_imputed" -> present,
      "household_calculated" -> present,
      "impute_gap_stats" -> houses.size * nCols,
      "impute_summary_household" -> houses.size * nCols,
      "impute_summary_project" -> projects * nCols) ++
      intervals.flatMap { iv =>
        val buckets = s.days.toLong * bucketsPerDay(iv)
        Seq(s"household_$iv" -> houses.size * buckets,
          s"project_$iv" -> projects * buckets)
      }
  }

  val imputeFlags: Seq[(String, Int)] = {
    import Model.ImputeType._
    Seq("NegativeGapJump" -> NegativeGapJump, "NearZeroGapJump" -> NearZeroGapJump,
      "LinearFill" -> LinearFill, "ScaledFill" -> ScaledFill,
      "ZeroEndValue" -> ZeroEndValue, "PositiveEndValue" -> PositiveEndValue,
      "NoEndValue" -> NoEndValue, "ThresholdAdjusted" -> ThresholdAdjusted)
  }

  /** ImputeType flags that appear in no column of `household_imputed`. */
  def missingFlags(imputed: DataFrame): Seq[String] = {
    val typeCols = Model.cumulativeColumns.map(c => col(Model.imputeTypeCol(c)))
    val union = typeCols.map(c => coalesce(bit_or(c), lit(0)))
      .reduce(_ bitwiseOR _)
    val seen = imputed.agg(union).head().getInt(0)
    imputeFlags.collect { case (n, f) if (seen & f) == 0 => n }
  }

  /** Run independent check jobs concurrently (they are small; one at a
    * time they would leave most cores idle).
    */
  def concurrently[T](jobs: Seq[() => T]): Seq[T] = {
    import scala.concurrent._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(jobs)(j => Future(j())), duration.Duration.Inf)
    finally pool.shutdown()
  }
}

/** Recorded digests: `expected/<workload>.tsv`, lines `seed<TAB>name<TAB>digest`. */
final class Expected(path: String) {
  private val table: Map[(Long, String), String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(seed, name, d) = l.split("\t")
        (seed.toLong, name) -> d
      }.toMap finally src.close()
    }
  }
  def get(seed: Long, name: String): Option[String] = table.get((seed, name))

  /** Rewrite the file with `seed`'s rows replaced by `digests`. */
  def record(seed: Long, digests: Map[String, String]): Unit = {
    val kept = table.filter(_._1._1 != seed)
    val all = kept ++ digests.map { case (n, d) => (seed, n) -> d }
    new java.io.File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("# seed\tname\tdigest (rows:sum of row hashes); written by --record")
      all.toSeq.sortBy { case ((s, n), _) => (s, n) }
        .foreach { case ((s, n), d) => w.println(s"$s\t$n\t$d") }
    } finally w.close()
  }
}
