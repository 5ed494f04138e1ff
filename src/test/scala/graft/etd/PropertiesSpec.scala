package graft.etd

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.llm.Packing

/** Property-based invariants (SURVEY §5): min_count gate equivalence with
  * the pandas semantics, the methods->bitmask fold, and spine coverage.
  * Plain ScalaCheck (no scalatestplus bridge in the offline cache).
  */
class PropertiesSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def check(prop: Prop, n: Int = 10): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val valuesGen: Gen[List[Option[Double]]] =
    Gen.listOfN(12, Gen.option(Gen.choose(-100.0, 100.0)))

  test("property: sumMinCount matches pandas sum(min_count=k)") {
    check(Prop.forAll(valuesGen, Gen.choose(0, 12)) { (vs, k) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
      val got = df.agg(Aggregates.sumMinCount(col("v"), lit(k))).collect().head
      val present = vs.flatten
      if (present.size >= k && present.nonEmpty)
        math.abs(got.getDouble(0) - present.sum) < 1e-9
      else got.isNullAt(0)
    })
  }

  test("property: avgMinCount = gated sum/count") {
    check(Prop.forAll(valuesGen, Gen.choose(1, 12)) { (vs, k) =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
      val got = df.agg(Aggregates.avgMinCount(col("v"), lit(k))).collect().head
      val present = vs.flatten
      if (present.size < k) got.isNullAt(0)
      else math.abs(got.getDouble(0) - present.sum / present.size) < 1e-9
    })
  }

  test("property: methods->bitmask equals the reference's 1<<(m-1) fold") {
    // reference: vectorized_impute.py:44-53 — ImputeType values ARE the bit
    // flags, so bit_or over per-row values equals the fold over ordinals
    check(Prop.forAll(Gen.nonEmptyContainerOf[Set, Int](Gen.choose(1, 8))) { ms =>
      val flags = ms.toSeq.map(m => 1 << (m - 1))
      val expected = flags.foldLeft(0L)(_ | _)
      val df = flags.map(f => Tuple1(f)).toDF("f")
      val got = df.agg(coalesce(bit_or(col("f")), lit(0)).cast("long"))
        .collect().head.getLong(0)
      got == expected
    }, n = 8)
  }

  test("property: resample spine spans min..max bucket inclusive") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0L, 96L))) { steps =>
      val df = steps.distinct.map(s => (1L, 1L, s)).toDF(
        Model.ProjectId, Model.HouseId, "s")
        .withColumn(Model.ReadingDate, timestamp_seconds(col("s") * 900))
      val spine = ReferenceForms.bucketSpine(df,
        Seq(Model.ProjectId, Model.HouseId), "15min")
      spine.count() == steps.max - steps.min + 1
    }, n = 8)
  }

  test("property: sequence packing is an exact sharded prefix-sum") {
    check(Prop.forAll(
        Gen.nonEmptyListOf(Gen.choose(0L, 50L)), Gen.choose(8L, 64L)) { (toks, budget) =>
      val df = toks.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "n")
      val packed = Packing.packSequences(df, "id", "n", budget, shards = 2)
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("shard"),
          r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset")))
      // offsets always inside the budget; per shard, (seq_id, offset) is
      // the exact div/mod of the running token count in id order
      val byShard = packed.groupBy(_._2)
      packed.forall(_._4 < budget) && byShard.values.forall { rows =>
        var cum = 0L
        rows.sortBy(_._1).forall { case (id, _, seq, off) =>
          val ok = seq == cum / budget && off == cum % budget
          cum += toks(id.toInt)
          ok
        }
      }
    }, n = 8)
  }

  test("property: repetition ratios bounded, uniq <= total, exact-dup doc maximal") {
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd")
    val docGen = Gen.nonEmptyListOf(wordGen).map(_.mkString(" "))
    check(Prop.forAll(Gen.nonEmptyListOf(docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rows = graft.llm.TextFunctions
        .repetitionStats(df, "doc_id", "text", lineSep = " ").collect()
      rows.forall { r =>
        val (n, u) = (r.getLong(1), r.getLong(2))
        val ratios = Seq(r.getDouble(3), r.getDouble(4), r.getDouble(5))
        u >= 1 && u <= n && ratios.forall(x => x >= 0.0 && x <= 1.0)
      }
    }, n = 8)
  }

  test("property: salted aggregation equals plain groupBy") {
    check(Prop.forAll(
        Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(-50, 50)))) { rows =>
      val df = rows.map { case (k, v) => (k, v.toLong) }.toDF("k", "v")
      val plain = df.groupBy("k").agg(sum("v").as("v"), max("v").as("m"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val salted = graft.ops.Skew.saltedAggregate(
          df.withColumn("m", col("v")), Seq("k"),
          Seq("v" -> "sum", "m" -> "max"), salt = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      salted == plain
    }, n = 8)
  }
}
