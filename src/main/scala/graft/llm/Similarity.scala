package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Dedup.cosine

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *   - [[bruteForceTopK]]: exact cosine top-k via a broadcast join of the
  *     (small) query set against the corpus — the correctness baseline.
  *     Scales linearly in corpus size with full parallelism; the per-query
  *     top-k is a window over cosine with rank, so only k rows per query
  *     survive the final shuffle.
  *   - IVF (inverted-file) partitioning: assign every vector to its
  *     nearest centroid (broadcast centroid table, map-only), then search
  *     only within the probe cells. At 100 TB this is the difference
  *     between scanning the corpus per query and scanning ~1/nlist of it;
  *     cells are hash-partitioned so each executor handles its own cells.
  */
object Similarity {

  /** Exact cosine top-k: for each query row, the k nearest corpus rows.
    * Queries are broadcast (the query set is small by construction);
    * ties break deterministically on corpus id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", Dedup.l2norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", Dedup.l2norm(col("cv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        when(col("qn") > 0 && col("cn") > 0,
          Dedup.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** IVF cell assignment: index (1-based) of the nearest centroid by
    * cosine. `centroids` is an array-of-vectors literal column (the
    * trained codebook, broadcast as a literal into codegen). Backed by
    * the native [[org.apache.spark.sql.graft.CosineArgmax]] — one fused
    * loop instead of an interpreted per-centroid lambda; bit-identical to
    * `array_position(transform(cents, c -> cosine(vec, c)), array_max(..))`
    * including first-max tie-break and null on zero norms (equivalence
    * pinned in LlmSpec).
    */
  def ivfAssign(vec: Column, centroids: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.cosineArgmax(vec, centroids)

  /** The `nprobe` nearest cells as ONE native loop — elementwise
    * `slice(ivfRanking(vec, centroids), 1, nprobe)` (equivalence
    * property-tested), without the interpreted per-row score-and-sort
    * over the whole codebook that made multi-probe assignment cost grow
    * with nlist.
    */
  def ivfProbeCells(vec: Column, centroids: Column, nprobe: Int): Column =
    org.apache.spark.sql.graft.VectorExpressions.cosineTopCells(
      vec, centroids, nprobe)

  /** [[ivfAssign]] with the codebook as a broadcast-joined TABLE of
    * (`cell`: 1-based int, `cvec`: float vector) rows instead of a plan
    * literal — the past-a-few-thousand-cells mode: a literal codebook
    * rides the plan as nlist×dim `lit` nodes, which bloats analysis
    * and codegen (the reason [[graft.llm.Dedup.semDedupAuto]] caps the
    * literal at 4096 cells); a table stays O(1) plan size at any
    * nlist. Returns one (idCol, `__cell`) row per input row — absent
    * for zero-norm vectors, exactly where the literal path assigns
    * null. Cell choice is bit-identical (SemDedupTableSpec pins it):
    * the per-cell cosine is the SAME native double arithmetic, and
    * `max_by` over (cos, −cell) reproduces the first-max tie-break.
    *
    * Cost shape vs the literal path: the broadcast fan-out scores
    * row×nlist pairs either way; here the argmax reduces through a
    * map-side-combining hash agg keyed by id (one shuffle of bare
    * (id, cell) rows) instead of fusing into the row — the price of
    * escaping the literal, paid only above the cap.
    */
  def ivfAssignTable(df: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame): DataFrame =
    scoreCells(df, idCol, vecCol, centroids)
      .groupBy(col(idCol))
      .agg(max_by(col("__c"),
        struct(col("__cos"), (-col("__c")).as("__nc"))).as("__cell"))

  /** [[ivfProbeCells]]'s table form: the `nprobe` nearest cells as
    * (idCol, `__cell`) rows — (cos desc, cell asc) ranked per row, the
    * same order [[ivfProbeCells]] returns; a zero-norm vector probes no
    * cells. The rank runs as a window over the bare (id, cell, cos)
    * projection, never the payload.
    */
  def ivfProbeCellsTable(df: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__cos").desc, col("__c"))
    scoreCells(df, idCol, vecCol, centroids)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nprobe)
      .select(col(idCol), col("__c").as("__cell"))
  }

  /** (id, cell, cosine) for every (row, centroid) pair with a defined
    * cosine — the shared broadcast fan-out behind the table-mode
    * assignment/probe. Only (id, vec) enter the fan-out.
    */
  private def scoreCells(df: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame): DataFrame =
    df.select(col(idCol), col(vecCol).as("__v"))
      .crossJoin(broadcast(centroids.select(
        col("cell").cast("int").as("__c"), col("cvec").as("__cv"))))
      .select(col(idCol), col("__c"),
        cosine(col("__v"), col("__cv")).as("__cos"))
      .filter(col("__cos").isNotNull)

  /** TWO-LEVEL (coarse → refine) cell assignment — the escape from the
    * flat row×nlist argmax fan-out that [[ivfAssignTable]] still pays
    * (measured: 100k rows × 16k cells = 1.6 B cosines = 37 s, PERFNOTES
    * "Round 15 — SemDeDup past the literal codebook cap"). Each row
    * first takes its nearest
    * COARSE centroid through the fused literal expression
    * ([[ivfAssign]], m cells), then argmaxes only over the fine cells
    * OWNED by that coarse group — cost m + nlist/m per row ≈ 2·√nlist
    * at m = √nlist, the standard inverted-multi-index shape (Babenko &
    * Lempitsky 2012). This is a DIFFERENT (still deterministic,
    * SQL-replayable) bucketing from the flat argmax — fine for
    * SemDeDup-style cell-local work, where cells are a partitioning
    * heuristic; it is NOT a drop-in for a flat index's cell ids. With
    * m = 1 it degenerates to exactly [[ivfAssignTable]]
    * (SemDedupTableSpec pins it).
    *
    * `fine` is (`coarse`: 1-based int — the owning coarse group,
    * `cell`: 1-based int — the GLOBAL cell id, `cvec`) —
    * [[twoLevelCodebook]] builds the pair from a corpus by the
    * registry's first-k convention. Zero-norm rows get no cell (as
    * everywhere); rows whose coarse group owns no fine cells also get
    * none (they fall out of cell-local work — the conservative
    * direction for dedup: an unassigned row is never dropped).
    */
  def ivfAssignTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                        coarse: Column, fine: DataFrame): DataFrame =
    df.select(col(idCol), col(vecCol).as("__v"),
        ivfAssign(col(vecCol), coarse).as("__coarse"))
      .filter(col("__coarse").isNotNull)
      .join(broadcast(fine.select(col("coarse").cast("int").as("__coarse"),
        col("cell").cast("int").as("__c"), col("cvec").as("__cv"))),
        Seq("__coarse"))
      .select(col(idCol), col("__c"),
        cosine(col("__v"), col("__cv")).as("__cos"))
      .filter(col("__cos").isNotNull)
      .groupBy(col(idCol))
      .agg(max_by(col("__c"),
        struct(col("__cos"), (-col("__c")).as("__nc"))).as("__cell"))

  /** The registry-convention two-level codebook from a corpus: coarse =
    * the first `m` nonzero vectors by id (as the literal the fused
    * coarse assignment needs), fine = the first `nlist` nonzero vectors
    * by id as a (coarse, cell, cvec) table, each fine centroid owned by
    * ITS nearest coarse centroid (first-max tie-break — the same rule
    * rows use, so the structure is self-consistent and the DuckDB
    * oracle replays it with two nested argmaxes). Both collects are
    * trained-codebook-sized, never corpus-sized; the nlist-row
    * single-partition window numbers cells 1..nlist in id order.
    */
  def twoLevelCodebook(df: DataFrame, idCol: String, vecCol: String,
                       m: Int, nlist: Int): (Column, DataFrame) = {
    val nonzero = df.filter(Dedup.l2norm(col(vecCol)) > 0)
    val coarseArrs = nonzero.orderBy(col(idCol)).limit(m)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    val coarseLit = array(coarseArrs.toIndexedSeq.map(v =>
      array(v.toIndexedSeq.map(lit(_)): _*)): _*)
    val fine = nonzero.orderBy(col(idCol)).limit(nlist)
      .select(row_number().over(Window.orderBy(col(idCol)))
          .cast("int").as("cell"),
        col(vecCol).as("cvec"))
      .withColumn("coarse", ivfAssign(col("cvec"), coarseLit))
    (coarseLit, fine)
  }

  /** IVF top-k: corpus and queries are assigned to cells; each query
    * searches only its own cell (nprobe=1 — the scale path trades recall
    * for a 1/nlist scan). Returns (query_id, neighbor_id, rank, cos).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, centroids: Column, k: Int): DataFrame =
    ivfTopKProbed(queries, corpus, idCol, vecCol, centroids, k, nprobe = 1)

  /** Multi-probe IVF top-k: each query searches its `nprobe` nearest
    * cells — the standard recall lever (misses happen when a neighbor
    * sits just across a cell boundary; probing the runner-up cells
    * recovers it at nprobe/nlist of the scan). nprobe = nlist degenerates
    * to exact brute force (property-tested). Queries with their probe
    * lists stay broadcast; the corpus side still partitions by its single
    * home cell.
    */
  def ivfTopKProbed(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, centroids: Column, k: Int,
                    nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qcell",
        explode(ivfProbeCells(col("qv"), centroids, nprobe)))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("ccell", ivfAssign(col("cv"), centroids))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q),
        col("qcell") === col("ccell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Int8 scalar quantization of the embedding column (native
    * [[org.apache.spark.sql.graft.Quantize8]]):
    * struct<scale:float, codes:array<tinyint>> — 4x less memory/IO than
    * float32, the storage lever for corpus-scale similarity search.
    */
  def quantize8(vec: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.quantize8(vec)

  // ------------------------------------------------------------------
  // Product quantization (IVF-PQ storage + scoring tier)
  // ------------------------------------------------------------------

  /** Encode a vector as m per-subspace nearest-centroid codes (0-based
    * `array<int>`): subspace j is components [j*sub, (j+1)*sub) and its
    * code is the [[org.apache.spark.sql.graft.L2Argmin]] assignment
    * against codebook j. With m=8 subspaces and k<=256 centroids a 64-dim
    * float vector (256 bytes) compresses to 8 bytes — the storage lever
    * that lets a corpus-scale index live in memory. Encoding is map-only:
    * codebooks are literals folded into codegen.
    */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Float]]]): Column = {
    val sub = codebooks(0)(0).length
    array(codebooks.indices.map { j =>
      val cents = array(codebooks(j).map(c =>
        array(c.toIndexedSeq.map(lit(_)): _*)).toIndexedSeq: _*)
      (org.apache.spark.sql.graft.VectorExpressions.l2Argmin(
        slice(vec, j * sub + 1, sub), cents) - 1).cast("int")
    }: _*)
  }

  /** Per-query ADC lookup table: lut[j*k + i] = <query_j, codebook_j[i]>
    * (double, left-to-right accumulation — the same arithmetic the
    * scoring oracle uses). k*m doubles per query, computed driver-side.
    */
  def pqLut(query: Array[Float],
            codebooks: Array[Array[Array[Float]]]): Array[Double] = {
    val sub = codebooks(0)(0).length
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { cent =>
        var acc = 0.0
        var x = 0
        val n = math.min(sub, math.max(0, query.length - j * sub))
        while (x < n) {
          acc += query(j * sub + x).toDouble * cent(x).toDouble
          x += 1
        }
        acc
      }
    }
  }

  /** PQ top-k by asymmetric distance: every corpus row is scored against
    * each query's LUT with [[org.apache.spark.sql.graft.PqAdcScore]] —
    * m array reads + m adds per candidate, touching only the code
    * column, never the vectors. ONE corpus scan serves all queries (the
    * query LUTs ride along as an exploded literal; only the m-int code
    * array duplicates per query, not payloads). Approximates
    * inner-product order; recall is governed by m/k.
    */
  def pqTopK(corpus: DataFrame, idCol: String, codesCol: String,
             queries: Seq[(Long, Array[Float])],
             codebooks: Array[Array[Array[Float]]], k: Int): DataFrame = {
    if (queries.isEmpty)
      return corpus.select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
        lit(0.0).as("score"), lit(0).as("rank")).limit(0)
    val qarr = array(queries.map { case (qid, qv) =>
      struct(lit(qid).as("query_id"),
        array(pqLut(qv, codebooks).map(lit(_)): _*).as("lut"))
    }: _*)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    corpus.select(col(idCol).as("neighbor_id"), col(codesCol).as("__codes"),
        explode(qarr).as("__q"))
      .select(col("__q.query_id").as("query_id"), col("neighbor_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .pqAdcScore(col("__codes"), col("__q.lut")).as("score"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF + PQ composed — the standard billion-scale ANN index shape:
    * vectors are bucketed into IVF cells (coarse quantizer) and scored
    * inside probed cells by PQ asymmetric distance (fine quantizer).
    * Each query touches ~nprobe/nlist of the corpus AND reads only the
    * m-int code column while doing it — the two scan-cost levers
    * multiply. Query cell assignment and LUTs are computed driver-side
    * (queries are few); the corpus pass is cell-assign (map-only,
    * codegen'd argmax) -> cell-filtered explode of the query LUT
    * literals -> ADC window. With nprobe = nlist this degenerates to
    * [[pqTopK]] over every corpus row with a cell assignment
    * (property-tested); zero-norm corpus vectors have no cell (ivfAssign
    * returns null, matching [[ivfTopK]]) and zero-norm queries probe
    * nothing (matching [[ivfProbeCells]]'s null contract).
    */
  /** Query-side coarse probe: every cell id (1-based, matching
    * [[ivfAssign]]) ranked by centroid cosine against the query vector.
    * Driver-side arithmetic over the k x dim centroid array only — the
    * probe list for a query batch never touches the cluster. Zero-norm
    * queries (and zero-norm centroids) probe nothing, matching
    * ivfRanking's null contract. Shared by [[ivfPqTopK]] and any caller
    * searching a persisted coded index via [[ivfPqTopKCoded]].
    */
  def probeRanking(coarse: Array[Array[Float]]): Array[Float] => Seq[Long] = {
    val centNorms = coarse.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    q => {
      val nq = math.sqrt(q.map(x => x.toDouble * x).sum)
      if (!(nq > 0)) Seq.empty // ivfRanking's zero-norm contract
      else coarse.indices
        .filter(c => centNorms(c) > 0)
        .sortBy { c =>
          val cent = coarse(c)
          val dot = q.indices.take(cent.length)
            .map(i => q(i).toDouble * cent(i)).sum
          -dot / (nq * centNorms(c))
        }
        .map(_ + 1L)
    }
  }

  /** Map-only corpus encode into the persisted IVF-PQ index shape
    * (id, codes, cell) — the ~10-byte/row table [[ivfPqTopKCoded]]
    * searches. Built ONCE per corpus vintage (typically written with
    * `Sources.writeBucketed(_, _, _, n, Seq("cell"), Seq("cell"))` so a
    * probe's cell filter prunes whole buckets); every query batch after
    * that reads only this index, never a vector.
    */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      coarse: Array[Array[Float]],
                      codebooks: Array[Array[Array[Float]]]): DataFrame = {
    val cents = array(coarse.map(c =>
      array(c.toIndexedSeq.map(lit(_)): _*)).toIndexedSeq: _*)
    corpus.select(col(idCol).as("id"),
      pqEncode(col(vecCol), codebooks).as("codes"),
      ivfAssign(col(vecCol), cents).as("cell"))
  }

  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                coarse: Array[Array[Float]],
                codebooks: Array[Array[Array[Float]]],
                queries: Seq[(Long, Array[Float])], k: Int,
                nprobe: Int = 1): DataFrame = {
    val ranking = probeRanking(coarse)
    val indexed = buildIvfPqIndex(corpus, idCol, vecCol, coarse, codebooks)
      .withColumnRenamed("id", idCol)
    ivfPqTopKCoded(indexed, idCol, "codes", "cell",
      q => ranking(q).take(nprobe), codebooks, queries, k)
  }

  /** Stored-index IVF-PQ search — the call shape a 100 TB deployment
    * uses: the corpus was encoded ONCE ([[pqEncode]] + [[ivfAssign]],
    * both map-only) and persisted as (id, codes, cell) — ~10 bytes/row —
    * typically bucketed by cell so a probe reads only its buckets. Each
    * query batch then runs against the tiny index table without touching
    * a single vector. `probeCells` maps a query vector to its probed
    * cell ids (1-based, matching ivfAssign).
    */
  def ivfPqTopKCoded(index: DataFrame, idCol: String, codesCol: String,
                     cellCol: String, probeCells: Array[Float] => Seq[Long],
                     codebooks: Array[Array[Array[Float]]],
                     queries: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    if (queries.isEmpty)
      return index.select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
        lit(0.0).as("score"), lit(0).as("rank")).limit(0)
    val qarr = array(queries.map { case (qid, qv) =>
      // a query probing nothing (zero norm) gets the sentinel cell -1,
      // which no 1-based assignment matches — an empty literal array
      // would type as array<null> and break the struct union
      val cells = probeCells(qv) match {
        case Seq() => Seq(-1L)
        case cs => cs
      }
      struct(lit(qid).as("query_id"),
        array(cells.map(lit(_)): _*).as("cells"),
        array(pqLut(qv, codebooks).map(lit(_)): _*).as("lut"))
    }: _*)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    // SCAN-level prune (r19, found by the dedupscale10 soak): the
    // per-row explode×array_contains below applies each query's exact
    // probe set but cannot reach the parquet reader — without this
    // coarse In-filter on the UNION of probed cells, every search read
    // the whole index regardless of probes (measured: input_bytes
    // tracked the corpus, not the cells). On the cell-sorted bucketed
    // index the In pushes down to row-group stats, so a narrow batch
    // reads only its cells' row groups — the ~10 B/row promise made
    // real at the I/O layer. Results are unchanged: the union filter
    // is strictly weaker than the per-query one that follows.
    val allCells = queries.iterator
      .flatMap(q => probeCells(q._2)).toSeq.distinct
    val pruned0 =
      if (allCells.isEmpty) index
      else index.filter(col(cellCol).isin(allCells: _*))
    // concentration guard (r19, same soak): on a cell-bucketed index a
    // NARROW batch's pruned scan lands on a handful of buckets, and the
    // expensive part — the explode×LUT scoring — then runs on those few
    // tasks (measured: 3-4× the wide batch's wall on 1/4 of the reads).
    // When the probed cells cover less than half the scan's partitions,
    // respread before scoring: the exchange moves only pruned ~10 B/row
    // code rows, so it costs ~nothing next to the CPU it re-parallelizes;
    // a wide batch (cells ≈ partitions) skips it and pays no exchange.
    val scanParts = math.max(1, pruned0.rdd.getNumPartitions)
    val pruned =
      if (allCells.nonEmpty && allCells.size < scanParts / 2)
        pruned0.repartition(scanParts)
      else pruned0
    pruned.select(col(idCol).as("neighbor_id"), col(codesCol).as("__codes"),
        col(cellCol).as("__cell"), explode(qarr).as("__q"))
      .filter(array_contains(col("__q.cells"), col("__cell")))
      .select(col("__q.query_id").as("query_id"), col("neighbor_id"),
        org.apache.spark.sql.graft.VectorExpressions
          .pqAdcScore(col("__codes"), col("__q.lut")).as("score"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Random-hyperplane LSH bucket for a vector: bit b = sign of the dot
    * product with pseudo-hyperplane b, where hyperplane component j of
    * plane p is +-1 from the parity of hash64("p_j") — deterministic and
    * engine-portable like the MinHash seeds. Near vectors share buckets
    * with high probability.
    *
    * The signs depend only on (plane, index), so they are precomputed
    * driver-side with the SAME md5 formula and dotted via the native
    * codegen'd [[Dedup.dot]] — the per-row work is `planes` primitive
    * float loops instead of an interpreted aggregate/zip_with lambda that
    * re-hashed every (plane, component) per row (lambda bodies get no
    * common-subexpression elimination; measured 16-64x on the MinHash
    * path). Left-to-right double accumulation is unchanged, so buckets
    * are bit-identical to the lambda formulation and to the SQL oracle.
    *
    * Each plane has 64 signs, the corpus embedding width: a vector may
    * have at most 64 components (extra signs are ignored — the dot
    * loops min(len)). The bound is ENFORCED: a longer vector would
    * silently bucket on its first 64 components only, so it raises
    * instead. A NULL
    * vector buckets to NULL (excluded from any grouping) rather than
    * tripping the guard — not-yet-embedded rows must not kill the job.
    */
  def hyperplaneBucket(vec: Column, planes: Int = 8): Column = {
    val dim = 64
    val bucket = (0 until planes).map { p =>
      val signs = array((0 until dim).map { j =>
        val h = org.apache.spark.sql.graft.Md5Util.prefix64(
          s"${p}_$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        lit(if (h % 2 == 1) 1.0f else -1.0f)
      }: _*)
      when(Dedup.dot(vec, signs) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    when(vec.isNull, lit(null).cast("long"))
      .when(size(vec) <= dim, bucket)
      .otherwise(raise_error(concat(
        lit("hyperplaneBucket: vector length "), size(vec).cast("string"),
        lit(s" exceeds the $dim signs per plane"))))
  }
}
