package graft.llm

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Property-based invariants for the corpus-curation operators: paragraph
  * dedup conservation, span-detection well-formedness, and the ADC score
  * against a direct reimplementation.
  */
class LlmPropertiesSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def check(prop: Prop, n: Int = 10): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val wordGen: Gen[String] = Gen.oneOf(
    "aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
  private val paraGen: Gen[String] =
    Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, wordGen)).map(_.mkString(" "))
  private val docGen: Gen[String] =
    Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, paraGen)).map(_.mkString("\n\n"))

  test("property: paragraphDedup conserves distinct paragraphs exactly once") {
    check(Prop.forAll(Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, docGen))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val out = Dedup.paragraphDedup(docs, "id", "t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val inParas = texts.flatMap(_.split("\n\n")).toSet
      val outParas = out.values.flatMap(t =>
        if (t.isEmpty) Nil else t.split("\n\n").toSeq)
      // every distinct input paragraph survives EXACTLY once corpus-wide
      outParas.groupBy(identity).forall(_._2.size == 1) &&
        outParas.toSet == inParas &&
        out.size == texts.size
    })
  }

  test("property: duplicateSpans are disjoint, in order, within bounds") {
    val smallDoc: Gen[String] =
      Gen.choose(3, 12).flatMap(k => Gen.listOfN(k, wordGen)).map(_.mkString(" "))
    check(Prop.forAll(Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, smallDoc))) { texts =>
      val n = 3
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val spans = Dedup.duplicateSpans(docs, "id", "t", n = n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      spans.groupBy(_._1).forall { case (id, ss) =>
        val sorted = ss.sortBy(_._2)
        val nTok = texts(id.toInt).split(" ").count(_.nonEmpty)
        sorted.forall { case (_, s, e, g) =>
          s >= 0 && e < nTok && e - s + 1 >= n && g >= 1 } &&
          // spans never overlap and never abut (abutting would have merged)
          sorted.toSeq.sliding(2).forall {
            case Seq((_, _, e1, _), (_, s2, _, _)) => s2 > e1 + 1
            case _ => true
          }
      }
    })
  }

  test("property: native LongSetJaccard == composed intersect/union on sets") {
    val setGen = Gen.listOf(Gen.choose(0L, 30L)).map(_.distinct)
    check(Prop.forAll(setGen, setGen) { (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val Array(native, composed) = df.select(
          Dedup.jaccardBySets(col("a"), col("b")).as("n"),
          ComposedForms.jaccardBySets(col("a"), col("b")).as("c"))
        .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
      native == composed
    }, n = 30)
  }

  test("property: semDedupDistinct == semDedup on random twin-heavy corpora") {
    // vectors drawn from a SMALL pool so exact twins are common (the
    // case the collapse exists for), plus zero vectors; random threshold
    // and nprobe — the kept sets must agree exactly every time
    val poolGen: Gen[List[List[Float]]] = Gen.choose(2, 5).flatMap(p =>
      Gen.listOfN(p, Gen.listOfN(3, Gen.oneOf(0f, 1f, 2f, 5f))))
    check(Prop.forAll(poolGen, Gen.choose(4, 12), Gen.choose(0.3, 0.99),
      Gen.choose(1, 2)) { (pool, n, thr, nprobe) =>
      val picks = (0 until n).map(i => pool(i % pool.size))
      val df = picks.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }.toDF("vec_id", "embedding")
      val cents = array(
        array(lit(1f), lit(0f), lit(0f)),
        array(lit(0f), lit(1f), lit(0f)),
        array(lit(0f), lit(0f), lit(1f)))
      def keys(d: org.apache.spark.sql.DataFrame) =
        d.select("vec_id").collect().map(_.getLong(0)).toSet
      keys(Dedup.semDedupDistinct(df, "vec_id", "embedding", thr, cents, nprobe)) ==
        keys(Dedup.semDedup(df, "vec_id", "embedding", thr, cents, nprobe))
    }, n = 15)
  }

  test("property: sequenceManifest conserves tokens and never overfills " +
      "a sequence, for random sizes and budgets") {
    val docsGen = Gen.choose(3, 25).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 40L)))
    check(Prop.forAll(docsGen, Gen.choose(5L, 16L)) { (sizes, budget) =>
      val docs = sizes.zipWithIndex
        .map { case (n, i) => (i.toLong, n) }.toDF("id", "n")
      val rows = Packing.sequenceManifest(docs, "id", "n", budget, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val byDoc = rows.groupBy(_._1)
      val conserve = sizes.zipWithIndex.forall { case (n, i) =>
        byDoc.get(i.toLong).map(_.map(_._5).sum).getOrElse(0L) == n }
      val capacity = rows.groupBy(r => (r._2, r._3))
        .forall { case (_, rs) =>
          val tot = rs.map(_._5).sum
          tot <= budget &&
            // rows inside one sequence tile it without overlap
            rs.sortBy(_._4).foldLeft((true, 0L)) { case ((ok, pos), r) =>
              (ok && r._4 >= pos, r._4 + r._5) }._1
        }
      val positive = rows.forall(r => r._5 >= 1 && r._4 >= 0 && r._4 < budget)
      conserve && capacity && positive
    })
  }

  test("property: splitAssign is exhaustive and respects cumulative " +
      "boundaries for random fraction vectors") {
    // random 3-way micro-fraction split summing to exactly 1e6
    val fracGen = for {
      a <- Gen.choose(1L, 999998L)
      b <- Gen.choose(1L, 999999L - a)
    } yield Seq("s0" -> a / 1e6, "s1" -> b / 1e6,
      "s2" -> (1000000L - a - b) / 1e6)
    check(Prop.forAll(fracGen, Gen.choose(50, 300)) { (splits, nDocs) =>
      val ids = (1L to nDocs.toLong).toDF("id")
      val got = ids.select(col("id"),
          TextFunctions.splitAssign(col("id").cast("string"), splits).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1))
      // exhaustive (no nulls) and labels only from the declared splits
      got.forall(_._2 != null) &&
        got.map(_._2).toSet.subsetOf(splits.map(_._1).toSet) &&
        // replays the exact boundary arithmetic
        got.forall { case (id, s) =>
          val bucket = {
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest((id.toString + "split").getBytes("UTF-8"))
            val hex = md.take(8).map("%02x".format(_)).mkString.take(15)
            java.lang.Long.parseLong(hex, 16) % 1000000L
          }
          val micro = splits.map(p => math.round(p._2 * 1000000))
          val cum = micro.scanLeft(0L)(_ + _).tail
          val want = splits(cum.indexWhere(bucket < _))._1
          s == want
        }
    })
  }

  test("property: PqAdcScore equals the direct lookup sum") {
    val mGen = Gen.choose(1, 4)
    check(Prop.forAll(mGen, Gen.choose(2, 4)) { (m, k) =>
      val codesGen = Gen.listOfN(m, Gen.choose(0, k - 1))
      val lutGen = Gen.listOfN(m * k, Gen.choose(-10.0, 10.0))
      Prop.forAll(codesGen, lutGen) { (codes, lut) =>
        val got = spark.range(1)
          .select(org.apache.spark.sql.graft.VectorExpressions.pqAdcScore(
            array(codes.map(lit(_)): _*),
            array(lut.map(lit(_)): _*)).as("s"))
          .collect().head.getDouble(0)
        val want = codes.zipWithIndex.map { case (c, j) => lut(j * k + c) }.sum
        math.abs(got - want) < 1e-12
      }
    })
  }
}
