package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Z-order curve construction and the clustered sink. */
class ZOrderSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def z(vals: Seq[Long], bits: Int): Long =
    Seq(Tuple1(1)).toDF("x")
      .select(ZOrder.zvalue(vals.map(lit(_).cast("long")), bits).as("z"))
      .collect().head.getLong(0)

  test("bit interleave: known values") {
    // x=0b11, y=0b01 at 2 bits: bit0=x0=1, bit1=y0=1, bit2=x1=1, bit3=y1=0
    assert(z(Seq(3L, 1L), bits = 2) == 7L)
    assert(z(Seq(0L, 0L), bits = 4) == 0L)
    // single column degenerates to identity
    assert(z(Seq(45L), bits = 6) == 45L)
    // interleave is symmetric in structure, not value
    assert(z(Seq(1L, 0L), bits = 1) == 1L)
    assert(z(Seq(0L, 1L), bits = 1) == 2L)
  }

  test("out-of-range values clamp instead of corrupting the curve") {
    assert(z(Seq(-5L, 0L), bits = 2) == z(Seq(0L, 0L), bits = 2))
    assert(z(Seq(999L, 0L), bits = 2) == z(Seq(3L, 0L), bits = 2))
  }

  test("z-locality: sorting by z gives both columns bounded ranges per chunk") {
    val rnd = new scala.util.Random(9)
    val rows = (1 to 4096).map(_ => (rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val zs = rows.map { case (x, y) => (x, y, interleaveRef(x, y, 8)) }.sortBy(_._3)
    // split the z-sorted order into 16 chunks; each chunk's x-range and
    // y-range must both be far below the full 256 span (a single-column
    // sort gives the NON-sorted column full-span chunks)
    // chunks that straddle a major quadrant boundary legitimately span
    // wide in one dim (the curve jumps quadrants); the LOCALITY claim is
    // about the typical chunk, so assert on the distribution: most
    // chunks are tight in BOTH dims, where a single-column sort makes
    // every chunk full-span (255) in the unsorted dim
    val chunks = zs.grouped(256).toSeq
    val spans = chunks.map { c =>
      val xs = c.map(_._1); val ys = c.map(_._2)
      math.max(xs.max - xs.min, ys.max - ys.min)
    }.sorted
    val median = spans(spans.length / 2)
    assert(median <= 128, s"median z-chunk span $median not localized")
    assert(spans.count(_ <= 160) >= spans.length * 3 / 4,
      s"too many wide z-chunks: ${spans.mkString(",")}")
  }

  private def interleaveRef(x: Long, y: Long, bits: Int): Long = {
    var zz = 0L
    for (b <- 0 until bits) {
      zz |= ((x >> b) & 1L) << (2 * b)
      zz |= ((y >> b) & 1L) << (2 * b + 1)
    }
    zz
  }

  test("zvalue column == reference interleave on random input") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(_ => (rnd.nextInt(1 << 10).toLong, rnd.nextInt(1 << 10).toLong))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrder.zvalue(Seq(col("x"), col("y")), bits = 10).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == interleaveRef(r.getLong(0), r.getLong(1), 10))
    }
  }

  test("writeZOrdered round-trips schema and rows; returns stats") {
    val dir = graft.TempDirs.dir("zorder").toString
    val df = (1 to 1000).map(i => (i.toLong, (i * 37 % 1000).toLong, s"p$i"))
      .toDF("a", "b", "payload")
    val stats = ZOrder.writeZOrdered(df, s"$dir/t", Seq("a", "b"),
      partitions = 4, bits = 10)
    assert(stats("a") == ((1.0, 1000.0)))
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 1000)
    assert(back.columns.toSet == Set("a", "b", "payload"))
    assert(back.agg(sum("a")).collect().head.getLong(0) == 500500L)
  }
}
