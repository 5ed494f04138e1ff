package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`: each timed block's reading is complete when `timed`
  * returns (no sleep), covers only that block's tasks, and prints as
  * one JSON line.
  */
class ProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SharedSpark.spark

  // holds every task-end event on the shared listener queue for 20 ms
  // before the probe sees it: a reading taken without draining the bus
  // misses the block's last tasks
  private val slowListener = new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(20)
  }

  private lazy val probe = {
    spark.sparkContext.addSparkListener(slowListener)
    Probe(spark)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(probe)
    spark.sparkContext.removeSparkListener(slowListener)
  }

  private def quiet[A](body: => A): A =
    Console.withOut(new java.io.ByteArrayOutputStream())(body)

  /** A job of exactly `n` tasks and no shuffle. */
  private def tasks(n: Int): Long = spark.sparkContext.parallelize(1 to 100, n).count()

  test("a shuffling block reads complete as soon as timed returns") {
    quiet(probe.timed("case" -> "shuffle") {
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
    })
    assert(probe.last.tasks > 0)
    assert(probe.last.totShuffleWrite > 0)
    assert(probe.last.sec > 0)
  }

  test("a second block reports only its own tasks") {
    quiet(probe.timed("case" -> "first")(tasks(5)))
    assert(probe.last.tasks == 5)
    quiet(probe.timed("case" -> "second")(tasks(3)))
    assert(probe.last.tasks == 3)
    assert(probe.last.totShuffleWrite == 0)
  }

  test("a throwing body propagates and the next block starts from zero") {
    val e = intercept[IllegalStateException](quiet(probe.timed("case" -> "boom") {
      tasks(4)
      throw new IllegalStateException("boom")
    }))
    assert(e.getMessage == "boom")
    quiet(probe.timed("case" -> "after")(tasks(2)))
    assert(probe.last.tasks == 2)
  }

  test("the printed line is JSON: caller fields, derived fields, sec, probe fields") {
    import spark.implicits._
    val buf = new java.io.ByteArrayOutputStream()
    val n = Console.withOut(buf) {
      probe.timedWith("label" -> "q\"uote\\d\nline", "n" -> 3, "ratio" -> 0.5,
        "nan" -> Double.NaN)(tasks(2))(r => Seq("rows" -> r))
    }
    assert(n == 100)
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    assert(lines.size == 1)
    val keys = Seq("label", "n", "ratio", "nan", "rows", "sec", "max_task_ms",
      "max_task_shuffle_read", "max_task_shuffle_write", "max_task_peak_mem",
      "shuffle_write_bytes", "input_bytes", "rows_read", "tasks")
    assert(keys.forall(k => lines.head.contains("\"" + k + "\":")))
    assert(keys.map(k => lines.head.indexOf("\"" + k + "\":")) ==
      keys.map(k => lines.head.indexOf("\"" + k + "\":")).sorted)
    val df = spark.read.option("mode", "FAILFAST").json(lines.toDS())
    assert(!df.columns.contains("_corrupt_record"))
    assert(keys.toSet.subsetOf(df.columns.toSet))
    val row = df.head()
    assert(row.getAs[String]("label") == "q\"uote\\d\nline")
    assert(row.getAs[Long]("n") == 3L)
    assert(row.getAs[Double]("ratio") == 0.5)
    assert(row.isNullAt(row.fieldIndex("nan")))
    assert(row.getAs[Long]("rows") == 100L)
    assert(row.getAs[Long]("tasks") == 2L)
  }
}
