package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the schema-drift canary green on the current driver testdata and
  * proves SparkEntry.eventsWithMicros yields identical t_us across every
  * supported `ts` vintage and independent of the session timezone (the
  * TIMESTAMP_NTZ cast trap — VERDICT r9 / ADVICE r9).
  */
class SchemaCanarySpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("canary: current driver testdata vintage is fully supported") {
    val diags = SchemaCanary.diagnose(spark, sfDir)
    assert(diags.isEmpty, diags.mkString("\n"))
  }

  test("canary: a drifted column type yields a one-line diagnosis naming it") {
    val bad = Seq((1L, "2024-01-01", 7L, "click", 0.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val diags = SchemaCanary.diagnoseTable(bad, "events")
    assert(diags.size == 1)
    assert(diags.head.contains("events.ts is string"))
    // the drift line names the DuckDB-side spelling too, so the oracle
    // SQL fix is obvious from the same diagnostic (VERDICT r10 #7)
    assert(diags.head.contains("DuckDB sees: VARCHAR"))
    val missing = SchemaCanary.diagnoseTable(bad.drop("props"), "events")
    assert(missing.exists(_.contains("events.props is MISSING")))
  }

  test("canary: duckType maps the spark simpleStrings the testdata can ship") {
    assert(SchemaCanary.duckType("bigint") == "BIGINT")
    assert(SchemaCanary.duckType("timestamp_ntz") == "TIMESTAMP")
    assert(SchemaCanary.duckType("timestamp") == "TIMESTAMP WITH TIME ZONE")
    assert(SchemaCanary.duckType("array<float>") == "FLOAT[]")
    assert(SchemaCanary.duckType("array<double>") == "DOUBLE[]")
  }

  test("embeddings array<double> vintage: supported via float narrowing, and diagnosed") {
    val tmp = graft.TempDirs.dir("embdouble").toString
    SparkEntry.table(spark, sfDir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    // the read seam narrows back to float, so getSeq[Float] paths hold
    val shimmed = SparkEntry.table(spark, tmp, "embeddings")
    assert(shimmed.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))
    val first = shimmed.orderBy("vec_id").limit(1).collect()(0)
    assert(first.getSeq[Float](1).nonEmpty) // no ClassCastException
    // and round-trips the float values exactly (float->double->float is
    // lossless in that direction)
    val orig = SparkEntry.table(spark, sfDir, "embeddings")
      .orderBy("vec_id").limit(1).collect()(0).getSeq[Float](1)
    assert(first.getSeq[Float](1) == orig)

    // the vintage is NOT silent: diagnose names it as supported-but-narrowed
    val raw = spark.read.parquet(s"$tmp/embeddings.parquet")
    val diags = SchemaCanary.diagnoseTable(raw, "embeddings")
    assert(diags.size == 1 && diags.head.contains("array<double>")
      && diags.head.contains("supported"))
  }

  test("eventsWithMicros: identical t_us for NTZ, TIMESTAMP, and int64-nanos vintages") {
    val real = SparkEntry.eventsWithMicros(spark, sfDir)
      .select("event_id", "t_us").orderBy("event_id").limit(50).collect()
      .map(r => r.getLong(0) -> r.getLong(1))

    // rewrite the same events as the two other vintages and re-derive
    val tmp = graft.TempDirs.dir("vintage").toString
    val ev = spark.read.parquet(s"$sfDir/events.parquet")

    // TIMESTAMP (isAdjustedToUTC=true): NTZ wall time stamped as UTC instant
    ev.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$tmp/ltz/events.parquet")
    val ltz = SparkEntry.eventsWithMicros(spark, s"$tmp/ltz")
    assert(ltz.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val gotLtz = ltz.select("event_id", "t_us").orderBy("event_id").limit(50)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(gotLtz.toSeq == real.toSeq)

    // int64 nanos (the pre-r9 vintage, arriving as LongType via nanosAsLong)
    ev.withColumn("ts",
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)") * 1000L)
      .write.mode("overwrite").parquet(s"$tmp/ns/events.parquet")
    val ns = SparkEntry.eventsWithMicros(spark, s"$tmp/ns")
    assert(ns.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val gotNs = ns.select("event_id", "t_us").orderBy("event_id").limit(50)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(gotNs.toSeq == real.toSeq)
  }

  test("eventsWithMicros: NTZ t_us does not move with the session timezone") {
    val before = spark.conf.get("spark.sql.session.timeZone")
    val utc = SparkEntry.eventsWithMicros(spark, sfDir)
      .select("event_id", "t_us").orderBy("event_id").limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val ny = SparkEntry.eventsWithMicros(spark, sfDir)
        .select("event_id", "t_us").orderBy("event_id").limit(20).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(ny.toSeq == utc.toSeq)
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }
}
