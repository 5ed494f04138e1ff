package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] demonstrates one operator family from
  * SURVEY.md §2 over the driver-provided TPC-H-ish parquet tables; the
  * matching [[oracleSql]] entry is the ANSI SQL the driver runs in DuckDB
  * on the same tables. Column names are aliased identically on both sides
  * (the driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Read one of the driver-provided tables from a scale-factor dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // embeddings vintage shim (ADVICE r10): every consumer — codebook
    // collects, SemDeDup/ANN getSeq[Float] paths, float literals —
    // assumes array<float>. If a driver regeneration ships
    // array<double>, adapt HERE (one cast at the read seam, the
    // eventsWithMicros pattern) instead of ClassCastException-ing in
    // ~all embeddings queries. The canary still prints the drift (the
    // double->float narrowing is visible, not silent): oracle compares
    // round at 1e-6 and unit-scale float32 error is ~1e-7, but that
    // margin deserves a diagnosed line, not trust.
    if (name == "embeddings") {
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      df.schema.find(_.name == "embedding").map(_.dataType) match {
        case Some(ArrayType(DoubleType, _)) =>
          df.withColumn("embedding", col("embedding").cast("array<float>"))
        case _ => df
      }
    } else df
  }

  /** `events` with `t_us` = microseconds since epoch derived from `ts`,
    * robust to the driver testdata vintage:
    *   - int64 TIMESTAMP(NANOS), read as LongType when
    *     spark.sql.legacy.parquet.nanosAsLong is set -> `ts div 1000`;
    *   - timestamp[us] isAdjustedToUTC=true  -> TIMESTAMP     -> unix_micros;
    *   - timestamp[us] isAdjustedToUTC=false -> TIMESTAMP_NTZ ->
    *     timestampdiff from the NTZ epoch, which reads the wall time AS
    *     UTC without ever consulting spark.sql.session.timeZone. (A plain
    *     cast to TIMESTAMP, or to_utc_timestamp, goes through an implicit
    *     NTZ->LTZ conversion in the session zone and would shift t_us on
    *     any session not pinned to UTC.)
    * The DuckDB oracle side (`epoch_ns(ts)//1000`) accepts every vintage
    * unchanged, so only this Spark-side shim needs to adapt.
    */
  def eventsWithMicros(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val ev = table(spark, dir, "events")
    val tUs = ev.schema("ts").dataType match {
      case LongType      => expr("ts div 1000")
      case TimestampType => unix_micros(col("ts"))
      case TimestampNTZType =>
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected int64 nanos (LongType), " +
          "TIMESTAMP, or TIMESTAMP_NTZ - did the driver regenerate testdata with a new schema?")
    }
    ev.withColumn("t_us", tUs)
  }

  /** The smallest scale factor: [[entry]]'s input and Bench's warm-up. */
  val smokeDir = "/root/testdata/sf0.001"

  /** Flagship query on [[smokeDir]], smoke-checked for rows > 0.
    * The full imputation cascade (SURVEY §2.9 I3-I9) — the reference's
    * core IP — run end-to-end through graft.etd.Impute.
    */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.QueriesEtd.q_i7_impute_cascade(spark, smokeDir)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles
}
