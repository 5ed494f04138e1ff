package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.etd.{Model, Sources}

/** The benchmark's own tests (`python3 perfbench/run.py --self-test`):
  * generator determinism, digest order-independence, self-time arithmetic,
  * and that a corrupted sink is counted as a failure. Exits non-zero when
  * any test fails.
  */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit = {
    try { body; println(s"ok   $name") }
    catch { case e: Throwable =>
      failed += 1
      println(s"FAIL $name: $e")
    }
  }
  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val work = new File(s".bench_work/selftest-${ProcessHandle.current().pid()}")
      .getAbsoluteFile
    val spark = Main.session(4, work)
    try run(spark, work)
    finally { spark.stop(); Files.deleteRecursively(work) }
    println(if (failed == 0) "all tests passed" else s"$failed test(s) failed")
    sys.exit(if (failed == 0) 0 else 1)
  }

  private def run(spark: org.apache.spark.sql.SparkSession, work: File): Unit = {
    // two projects of five houses: every project has houses to average over
    val shape = Gen.Shape(houses = 10, days = 1, projects = 2)
    val seed = 7L
    def dir(t: String) = new File(work, t).getPath

    test("span self time is its duration minus the union its children cover") {
      val p = Span(0, "p", -1, "r", 0, 100)
      def c(a: Long, b: Long) = Span(1, "c", 0, "r", a, b)
      check(Span.selfNs(p, Nil) == 100, "no children")
      // [10,30] and [20,50] overlap: covered 40; [90,120] clips to 10
      check(Span.selfNs(p, Seq(c(20, 50), c(10, 30), c(90, 120))) == 50,
        s"got ${Span.selfNs(p, Seq(c(20, 50), c(10, 30), c(90, 120)))}")
      check(Span.selfNs(p, Seq(c(0, 100), c(40, 60))) == 0, "fully covered")
    }

    test("digest ignores row order and partitioning, and sees one changed value") {
      val df = spark.range(0, 2000).select(col("id"),
        (col("id") * 0.1).as("x"), (col("id") % 7).cast("int").as("k"))
      val d = Checks.digest(df)
      check(Checks.digest(df.orderBy(rand(3)).repartition(5)) == d, "shuffled")
      check(Checks.rowsOf(d) == 2000, s"rows of $d")
      val changed = df.withColumn("x",
        when(col("id") === 1234, col("x") + 1e-3).otherwise(col("x")))
      check(Checks.digest(changed) != d, "a changed value must change the digest")
    }

    test("generator writes the same rows whatever the partition count") {
      Gen.write(spark, seed, shape, dir("gen1"), partitions = 1)
      Gen.write(spark, seed, shape, dir("gen3"), partitions = 3)
      def names(root: String) =
        new File(Gen.mappedDir(root)).list().toSeq.sorted
      check(names(dir("gen1")) == names(dir("gen3")), "file sets differ")
      check(names(dir("gen1")).count(_.startsWith("household_")) == shape.houses,
        s"houses: ${names(dir("gen1"))}")
      def all(root: String) = Sources.combineHouseholds(spark, Gen.mappedDir(root),
        Staged.index(spark, root))
      check(Checks.digest(all(dir("gen1"))) == Checks.digest(all(dir("gen3"))),
        "contents differ")
      // cumulative NA only inside a NA-diff run (the run's closing slot
      // carries the resumed reading)
      val cum = Model.cumulativeColumns.head
      val bad = all(dir("gen1")).filter(col(cum).isNull &&
        col(Model.diffCol(cum)).isNotNull).count()
      check(bad == 0, s"$bad rows with a NA meter but a Diff")
    }

    test("a clean pass passes every check; a corrupted sink fails its check") {
      val out = dir("pass")
      Staged.pass(spark, dir("gen1"), out)
      val (digests, clean) = Staged.check(spark, out, seed, shape, _ => None)
      check(clean.isEmpty, s"clean pass failed: $clean")
      // rewrite household_24h with one value changed
      val sink = s"$out/household_24h.parquet"
      val v = "ElektriciteitsgebruikTotaalNetto"
      val orig = spark.read.parquet(sink).localCheckpoint()
      val first = orig.select(col(Model.HouseId), col(Model.ReadingDate)).head()
      orig.withColumn(v, when(col(Model.HouseId) === first.getLong(0) &&
          col(Model.ReadingDate) === first.getTimestamp(1),
          coalesce(col(v), lit(0.0)) + 1).otherwise(col(v)))
        .write.mode("overwrite").parquet(sink + ".tmp")
      Files.deleteRecursively(new File(sink))
      new File(sink + ".tmp").renameTo(new File(sink))
      val (_, bad) = Staged.check(spark, out, seed, shape, digests.get)
      check(bad.size == 1 && bad.head.startsWith("household_24h: digest"),
        s"expected one household_24h digest failure, got $bad")
      // and a lost row fails the row count even without a reference
      spark.read.parquet(sink).limit(3).localCheckpoint()
        .write.mode("overwrite").parquet(sink + ".tmp")
      Files.deleteRecursively(new File(sink))
      new File(sink + ".tmp").renameTo(new File(sink))
      val (_, short) = Staged.check(spark, out, seed, shape, _ => None)
      check(short.exists(_.startsWith("household_24h: 3 rows")), s"got $short")
    }
  }
}
