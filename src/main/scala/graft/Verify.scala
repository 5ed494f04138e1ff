package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the driver contract is local[32], Harness's default;
    // SPARK_GRAFT_CPUS exists for local iteration on smaller boxes
    val spark = Harness.session()
    SchemaCanary.warn(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // No coalesce(1): the driver's checker reads whole result directories,
    // and a single-task writer would bottleneck row-heavy queries (ADVICE r1).
    // Iteration aid (unset under the driver): SPARK_GRAFT_VERIFY_ONLY=q_a,q_b
    // dumps + registers oracles for just those queries.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selectedQueries =
      only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    selectedQueries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // the driver comparator sorts every output column in pandas —
        // array/map/struct columns crash it (r11: three entries lost
        // their rows this way); flatten (concat_ws / explode to
        // scalars) before registering
        df.schema.fields.foreach { f =>
          f.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.StructType =>
              System.err.println(s"[verify] WARN $name: column " +
                s"'${f.name}' is ${f.dataType.simpleString} — the " +
                "driver comparator cannot sort it; flatten the output")
            case _ => ()
          }
        }
        df.write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally Checkpoints.sweep(spark) // no cross-query leaked blocks
    }
    val oracles = only.fold(SparkEntry.oracleSql)(s =>
      SparkEntry.oracleSql.filter(kv => s(kv._1)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(oracles))
    spark.stop()
  }

  /** The oracle_sql.json body: one JSON object of query name → SQL. */
  private[graft] def oracleJson(oracles: Iterable[(String, String)]): String =
    oracles.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")

  /** JSON string literal: backslash, quote and ALL control chars (< 0x20)
    * escaped. A tab or CR in an oracle query would otherwise make the
    * checker's `json.load` fail and silently zero the correctness compare.
    */
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
}
