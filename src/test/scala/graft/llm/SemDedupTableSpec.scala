package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Table-mode IVF/SemDeDup (the past-the-literal-cap escape, VERDICT
  * r12–r15): the broadcast-joined centroid TABLE must reproduce the
  * literal codebook bit-for-bit — same cell per row (including the
  * first-max tie-break and the zero-norm degenerate), same near-dup
  * pairs (nprobe 1 and >1), same kept set — and [[Dedup.semDedupAuto]]
  * must route past `maxNlist` through the table path to the SAME
  * result the literal path gives at the same nlist.
  */
class SemDedupTableSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  // deterministic corpus: 4-dim vectors on a few rays (so cosine ties
  // and near-dups are engineered, not accidental), exact twins
  // (id, id+100), and a zero vector
  private def vec(i: Long): Array[Float] = {
    val m = (i % 6).toInt
    m match {
      case 0 => Array(1f, 0f, 0f, 0f)
      case 1 => Array(0f, 1f, 0f, 0f)
      case 2 => Array(1f, 1f, 0f, 0f)
      case 3 => Array(1f, 1f, 0.1f, 0f) // near ray 2: cos ≈ 0.995
      case 4 => Array(0f, 0f, 1f, 0f)
      case 5 => Array(2f, 0f, 0f, 0f)   // same RAY as 0 (cos = 1, distinct vec)
    }
  }

  private val corpus = {
    val base = (1L to 36L).map(i => (i, vec(i)))
    val twins = Seq(2L, 9L, 14L).map(i => (i + 100L, vec(i)))
    (base ++ twins :+ (999L, Array(0f, 0f, 0f, 0f)))
      .toDF("id", "v")
  }

  // first 6 vectors by id as the codebook; cells 5 = (2,0,0,0) and
  // 6 = (1,0,0,0) are on the SAME ray — cosine-identical to any ray-0
  // vector, so the first-max tie-break (cell 5) is load-bearing
  private val k = 6
  private def centArrays: Array[Array[Float]] =
    (1L to k.toLong).map(vec).toArray
  private def centLit = array(centArrays.map(a =>
    array(a.toIndexedSeq.map(lit(_)): _*)).toIndexedSeq: _*)
  private def centTable = centArrays.zipWithIndex
    .map { case (a, i) => (i + 1, a) }.toSeq.toDF("cell", "cvec")

  test("ivfAssignTable == literal ivfAssign per row (ties to the first " +
      "max; zero-norm rows absent where the literal assigns null)") {
    val literal = corpus
      .select(col("id"), Similarity.ivfAssign(col("v"), centLit).as("cell"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val table = Similarity.ivfAssignTable(corpus, "id", "v", centTable)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    corpus.select("id").as[Long].collect().foreach { id =>
      literal(id) match {
        case Some(c) => assert(table.get(id).contains(c),
          s"id $id: literal cell $c, table ${table.get(id)}")
        case None => assert(!table.contains(id),
          s"id $id: zero-norm must be absent in table mode")
      }
    }
    // the engineered tie actually fired: ray-0 rows see cos=1 at cells
    // 5 AND 6 and must take cell 5
    assert(table(6L) == 5)
  }

  test("ivfProbeCellsTable == literal ivfProbeCells (order-insensitive " +
      "set per row, nprobe = 3)") {
    val nprobe = 3
    val literal = corpus
      .select(col("id"),
        Similarity.ivfProbeCells(col("v"), centLit, nprobe).as("cells"))
      .collect()
      .map(r => r.getLong(0) ->
        Option(r.get(1)).map(_ => r.getSeq[Int](1).toSet).getOrElse(Set.empty[Int]))
      .toMap
    val table = Similarity
      .ivfProbeCellsTable(corpus, "id", "v", centTable, nprobe)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getInt(1)).toSet }
    corpus.select("id").as[Long].collect().foreach { id =>
      assert(table.getOrElse(id, Set.empty[Int]) == literal(id),
        s"id $id probe sets differ")
    }
  }

  test("table-mode near-dup pairs == literal pairs, exact doubles, " +
      "nprobe 1 and 3") {
    for (nprobe <- Seq(1, 3)) {
      val literal = Dedup
        .embeddingNearDupsBucketed(corpus, "id", "v", 0.99, centLit, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val table = Dedup
        .embeddingNearDupsBucketedTable(corpus, "id", "v", 0.99, centTable,
          nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(table == literal, s"nprobe=$nprobe pair sets differ")
      assert(literal.nonEmpty, "fixture must generate near-dup pairs")
    }
  }

  test("semDedupDistinctTable kept set == semDedupDistinct's") {
    val literal = Dedup
      .semDedupDistinct(corpus, "id", "v", 0.99, centLit)
      .select("id").as[Long].collect().toSet
    val table = Dedup
      .semDedupDistinctTable(corpus, "id", "v", 0.99, centTable)
      .select("id").as[Long].collect().toSet
    assert(table == literal)
    assert(literal.contains(999L), "zero vector always survives")
    assert(Seq(102L, 109L, 114L).forall(!literal.contains(_)),
      "exact twins collapse")
  }

  test("semDedupAuto routes past maxNlist through the table path to the " +
      "same kept set the literal path gives at the same nlist") {
    // 40 rows → nlist = ceil(sqrt(40)) = 7 either way; maxNlist = 4
    // forces the TABLE path, maxNlist = 4096 keeps the literal path
    val viaTable = Dedup
      .semDedupAuto(corpus, "id", "v", 0.99, maxNlist = 4)
      .select("id").as[Long].collect().toSet
    val viaLiteral = Dedup
      .semDedupAuto(corpus, "id", "v", 0.99, maxNlist = 4096)
      .select("id").as[Long].collect().toSet
    assert(viaTable == viaLiteral)
  }

  test("two-level with m = 1 degenerates to exactly the flat table mode " +
      "(assignment, pairs, kept set)") {
    // one coarse group owning ALL fine cells: the refine argmax sees the
    // whole codebook, so cell choice must be bit-identical to the flat
    // forms (first-max tie-break included)
    val coarse1 = array(array(centArrays.head.toIndexedSeq.map(lit(_)): _*))
    val fine1 = centTable.withColumn("coarse", lit(1))
    val twoLevel = Similarity
      .ivfAssignTwoLevel(corpus, "id", "v", coarse1, fine1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = Similarity.ivfAssignTable(corpus, "id", "v", centTable)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(twoLevel == flat)
    val pairs2 = Dedup
      .embeddingNearDupsBucketedTwoLevel(corpus, "id", "v", 0.99, coarse1, fine1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pairsFlat = Dedup
      .embeddingNearDupsBucketedTable(corpus, "id", "v", 0.99, centTable)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs2 == pairsFlat && pairs2.nonEmpty)
    val kept2 = Dedup.semDedupTwoLevel(corpus, "id", "v", 0.99, coarse1, fine1)
      .select("id").as[Long].collect().toSet
    val keptFlat = Dedup.semDedupTable(corpus, "id", "v", 0.99, centTable)
      .select("id").as[Long].collect().toSet
    assert(kept2 == keptFlat)
  }

  test("twoLevelCodebook + two-level assignment: self-consistent, " +
      "deterministic, refine confined to the owning coarse group") {
    val (coarseLit, fine) =
      Similarity.twoLevelCodebook(corpus, "id", "v", m = 2, nlist = 6)
    val fineRows = fine.collect()
      .map(r => (r.getAs[Int]("cell"),
        r.getAs[Number]("coarse").intValue())).toMap
    assert(fineRows.keySet == (1 to 6).toSet)
    assert(fineRows.values.toSet.subsetOf(Set(1, 2)))
    // each fine CENTROID's own vector must assign to its owning group's
    // cells — and to itself when it is its own nearest (self-consistency)
    val cents = fine.select(col("cell").cast("long").as("id"),
      col("cvec").as("v"))
    val centAssign = Similarity
      .ivfAssignTwoLevel(cents, "id", "v", coarseLit, fine)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // a centroid always scores cos = 1 against itself, so its assigned
    // cell must also score cos = 1 (first-max may pick an EARLIER
    // same-ray cell — cells 5/6 of the fixture engineer exactly that)
    val vecByCell = fine.collect()
      .map(r => r.getAs[Int]("cell") ->
        r.getSeq[Float](r.fieldIndex("cvec")).toArray).toMap
    def cos1(u: Array[Float], v: Array[Float]): Boolean = {
      val dot = u.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val nu = math.sqrt(u.map(x => x.toDouble * x.toDouble).sum)
      val nv = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      dot / (nu * nv) >= 1.0 - 1e-12
    }
    centAssign.foreach { case (id, cell) =>
      assert(cos1(vecByCell(cell.toInt), vecByCell(id.toInt)),
        s"centroid $id refined to cell $cell that is not cosine-1 to it")
      assert(cell <= id,
        s"first-max must keep the earliest best cell: $id -> $cell")
    }
    // deterministic: a repartitioned corpus assigns identically
    val a1 = Similarity.ivfAssignTwoLevel(corpus, "id", "v", coarseLit, fine)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = Similarity
      .ivfAssignTwoLevel(corpus.repartition(7), "id", "v", coarseLit, fine)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a2)
    // zero-norm rows are absent; the zero vector survives the dedup
    assert(!a1.contains(999L))
    val kept = Dedup.semDedupTwoLevel(corpus, "id", "v", 0.99, coarseLit, fine)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(999L))
    assert(Seq(102L, 109L, 114L).forall(!kept.contains(_)),
      "exact twins share a cell (same vector → same coarse, same refine) " +
        "and must collapse")
  }
}
