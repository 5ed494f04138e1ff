package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (Test / fork := true), built
  * with the mains' conf policy at a fixed 4 cores.
  */
object SharedSpark {
  lazy val spark: SparkSession = Harness.session(4)
}
