package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** State-dir helpers of the streaming specs. */
object StateDirs {

  /** True iff `dir` exists and holds at least one visible entry
    * (hidden/meta names `_*` and `.*` — `_SUCCESS`, `.crc` — don't
    * count as data). Probed through the FileSystem of the path, like
    * every [[BatchState]] probe.
    */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = BatchState.fs(spark, dir)
    f.exists(p) && f.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !(n.startsWith("_") || n.startsWith("."))
    }
  }

  /** Leave the log `<dir>/<log>` as a fold that crashed in its swap's
    * one non-atomic window leaves it: the ledger names `ids`, the
    * candidate `<log>_compacting` holds `folded` as the complete
    * `batch_id = -1` generation, the live log is retired to
    * `<log>_old`, and the promote never ran.
    */
  def crashBetweenRetireAndPromote(spark: SparkSession, dir: String,
                                   log: String, folded: DataFrame,
                                   ids: Set[Long]): Unit = {
    val (f, live) = BatchState.fs(spark, s"$dir/$log")
    val tmp = new Path(s"$dir/${log}_compacting")
    BatchState.writeFolded(spark, dir, ids)
    folded.withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id").mode("overwrite").parquet(tmp.toString)
    assert(f.rename(live, new Path(s"$dir/${log}_old")))
    assert(!f.exists(live) && f.exists(tmp), "crash window established")
  }

  /** True iff the log at `logDir` is live again and neither the
    * candidate nor the retired generation is left beside it.
    */
  def promoted(spark: SparkSession, logDir: String): Boolean = {
    val (f, live) = BatchState.fs(spark, logDir)
    f.exists(live) && !f.exists(new Path(s"${logDir}_compacting")) &&
      !f.exists(new Path(s"${logDir}_old"))
  }

  /** The batch ids present in the log at `logDir`, `-1` included. */
  def logIds(spark: SparkSession, logDir: String): Set[Long] = {
    import spark.implicits._
    spark.read.parquet(logDir).select($"batch_id".cast("long")).distinct()
      .as[Long].collect().toSet
  }
}
