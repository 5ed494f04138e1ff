package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-column data skipping.
  *
  * A sink sorted by ONE column gives parquet row groups tight min/max
  * on that column only — a filter on any other column reads
  * everything. Interleaving the bits of several normalized columns
  * into one z-value and range-partitioning + sorting by it makes rows
  * that are close in the z-value close in EVERY dimension, so row
  * groups carry tight ranges on ALL the clustered columns and
  * point/range filters on any of them skip (the lever behind
  * Delta/Iceberg OPTIMIZE ZORDER, built here from plain bitwise
  * Columns — everything stays inside whole-stage codegen).
  *
  * ZOrderSpec "z-locality" holds the bounded per-chunk ranges the claim
  * rests on; records read for a two-column box filter, natural vs
  * single-sort vs z-order layout, were measured in round 11 (PERFNOTES
  * "Z-order clustered sink — data skipping measured").
  */
object ZOrder {

  /** The interleaved z-value of pre-normalized long columns (each in
    * [0, 2^bits); values are clamped — a stray out-of-range row must
    * not fail a corpus-scale write). bits x cols must fit in 63 bits.
    */
  def zvalue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zorder: at least one column")
    require(bits * cols.size <= 63,
      s"zorder: $bits bits x ${cols.size} columns exceeds a long")
    val n = cols.size
    val max = (1L << bits) - 1L
    val clamped = cols.map(c =>
      least(greatest(c.cast("long"), lit(0L)), lit(max)))
    val terms = for {
      b <- 0 until bits
      (c, i) <- clamped.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** Min/max-normalize a column into the z-domain [0, 2^bits) given
    * its observed (lo, hi): rank-free linear scaling — adequate for
    * locality (skew moves boundaries, not correctness; a heavily
    * skewed column can pre-pass through `percent_rank` if needed).
    */
  def normalized(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
    val scale = ((1L << bits) - 1).toDouble / span
    floor((c.cast("double") - lit(lo)) * lit(scale)).cast("long")
  }

  /** Z-ordered parquet sink: one stats pass for per-column (min, max),
    * map-only z-value, ONE range exchange on it (the same shuffle a
    * plain sorted write pays), sortWithinPartitions, write. Returns
    * the (lo, hi) stats used, so readers who want to reconstruct the
    * curve can.
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    partitions: Int, bits: Int = 18): Map[String, (Double, Double)] = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double").as(s"__lo_$c"),
        max(col(c)).cast("double").as(s"__hi_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val stats = cols.zipWithIndex.map { case (c, i) =>
      c -> (row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }.toMap
    val z = zvalue(cols.map(c =>
      normalized(col(c), stats(c)._1, stats(c)._2, bits)), bits)
    df.withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    stats
  }
}
