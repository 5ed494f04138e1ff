package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every main and the test suite share, so a
  * timing, a plan dump and a spec all run under the same confs.
  *
  * - `local[SPARK_GRAFT_CPUS]`, default 32 (the bench protocol's
  *   local[32]); shuffle partitions = cpus.
  * - UI off, session zone UTC, AQE on, log level WARN.
  * - `parquet.nanosAsLong` covers the int64 TIMESTAMP(NANOS) testdata
  *   vintage; timestamp[us] vintages pass through as
  *   TIMESTAMP/TIMESTAMP_NTZ and `SparkEntry.eventsWithMicros` adapts
  *   per type.
  *
  * A main that needs more sets it with `spark.conf.set` right after
  * creation.
  */
object Harness {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** The scale-factor dir: the argument, else SPARK_GRAFT_SF_DIR, else sf0.1. */
  def sfDir(arg: Option[String]): String =
    arg.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse("/root/testdata/sf0.1")

  def session(cpus: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs an untimed step (a warm-up, a best-effort file write) whose
    * failure must not stop the run but must not pass silently either: a
    * warm-up that fails unseen brings back the cold-JIT readings it
    * exists to remove.
    */
  def untimed(label: String)(body: => Unit): Unit =
    try body
    catch { case e: Throwable =>
      System.err.println(s"[$label] failed: ${e.getClass.getName}: ${e.getMessage}")
    }
}
