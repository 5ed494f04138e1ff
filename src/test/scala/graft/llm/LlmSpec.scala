package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class LlmSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).collect().head.get(0)

  test("hash64 is the engine-portable md5 prefix (pinned cross-engine value)") {
    // ('0x' || substr(md5('hello'),1,15))::BIGINT in any SQL engine
    assert(one(TextFunctions.hash64(lit("hello"))) == 419982666956583591L)
  }

  test("tokens / shingles / counts") {
    assert(one(size(TextFunctions.tokens(lit("a  b c")))) == 3)
    assert(one(size(TextFunctions.wordShingles(lit("a b c d"), 3))) == 2)
    assert(one(size(TextFunctions.wordShingles(lit("a b"), 3))) == 0)
    assert(one(TextFunctions.regexTokenCount(lit("ab c1,d"))) == 4)
  }

  test("language id: stopword families separate en and nl") {
    assert(one(TextFunctions.langId(
      lit("the cat and the dog is on a mat"))) == "en")
    assert(one(TextFunctions.langId(
      lit("de kat en de hond is op een mat"))) == "nl")
    assert(one(TextFunctions.langId(lit("zzz qqq"))) == "und")
  }

  test("fingerprint: deterministic, order-sensitive, in range") {
    val a = one(TextFunctions.fingerprint(lit("alpha beta gamma"))).asInstanceOf[Long]
    val b = one(TextFunctions.fingerprint(lit("gamma beta alpha"))).asInstanceOf[Long]
    assert(a != b && a >= 0 && a < 1000000007L)
    assert(one(TextFunctions.fingerprint(lit("alpha beta gamma"))) == a)
  }

  test("exact dedup keeps one canonical row per distinct text") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("id", "text")
    val groups = Dedup.exactGroups(df, "id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(groups == Set((1L, 2L), (3L, 1L)))
    assert(Dedup.exactDedup(df, "id", "text").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L))
  }

  test("minhash: identical texts share signatures; LSH pairs them") {
    val text = "w1 w2 w3 w4 w5 w6 w7 w8"
    val df = Seq((1L, text), (2L, text), (3L, "x1 x2 x3 x4 x5 x6 x7 x8"))
      .toDF("id", "text")
    val sigs = Dedup.minhashSignatures(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L) && sigs(1L) != sigs(3L))
    assert(sigs(1L).length == 16)
    val pairs = Dedup.lshCandidatePairs(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))

    // banding that does not tile the signature must FAIL LOUDLY: a
    // past-the-end slice would md5 an empty band — one key shared by
    // every doc (all-pairs or a silently dropped capped bucket)
    val sigDf = Dedup.minhashSignatures(df, "id", "text", 16, 3)
    val ex = intercept[Exception] {
      Dedup.lshCandidatePairsFromSigs(sigDf, "id", bands = 8).collect()
    }
    assert(ex.getMessage.contains("bands*rowsPerBand") ||
      Option(ex.getCause).exists(_.getMessage.contains("bands*rowsPerBand")))
    // a tiling that matches still works through the same guard
    assert(Dedup.lshCandidatePairsFromSigs(sigDf, "id",
      bands = 8, rowsPerBand = 2).collect().nonEmpty)
  }

  test("jaccard and simhash behave on identical/disjoint docs") {
    assert(one(Dedup.jaccard(lit("a b c d e"), lit("a b c d e"))) == 1.0)
    assert(one(Dedup.jaccard(lit("a b c d e"), lit("v w x y z"))) == 0.0)
    val s1 = one(Dedup.simhash(lit("a b c d e"))).asInstanceOf[Long]
    val s2 = one(Dedup.simhash(lit("a b c d e"))).asInstanceOf[Long]
    assert(s1 == s2)
    assert(java.lang.Long.bitCount(s1 ^ s2) == 0) // Hamming distance
  }

  test("cosine: orthogonal -> 0, parallel -> 1, zero-norm -> null") {
    def arr(xs: Double*) = array(xs.map(lit(_)): _*)
    assert(one(Dedup.cosine(arr(1, 0), arr(0, 1))) == 0.0)
    assert(math.abs(one(Dedup.cosine(arr(1, 2), arr(2, 4))).asInstanceOf[Double] - 1.0) < 1e-12)
    assert(one(Dedup.cosine(arr(0, 0), arr(1, 1))) == null)
  }

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.05f)))
      .toDF("id", "v")
    val top = Similarity.bruteForceTopK(
        vecs.filter(col("id") === 1), vecs, "id", "v", 2)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(4L, 2L))
  }

  test("multi-probe IVF: nprobe = nlist equals brute force; nprobe lifts recall") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.7f, 0.71f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.9f, 0.44f)),
      (5L, Array(0.1f, 0.95f)))
      .toDF("id", "v")
    val cents = array(
      array(lit(1.0f), lit(0.0f)), array(lit(0.0f), lit(1.0f)))
    val queries = vecs.filter(col("id") === 2) // near the cell boundary
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    val brute = ids(Similarity.bruteForceTopK(queries, vecs, "id", "v", 3))
    val full = ids(Similarity.ivfTopKProbed(queries, vecs, "id", "v", cents,
      k = 3, nprobe = 2))
    assert(full == brute, "probing every cell must equal brute force")
    val single = ids(Similarity.ivfTopK(queries, vecs, "id", "v", cents, k = 3))
    // nprobe=1 sees only the home cell's members — a subset of brute's top
    assert(single.toSet.subsetOf(brute.toSet) && single.size < brute.size)
  }

  test("paragraphDedup: first occurrence survives, order kept, empty docs remain") {
    val docs = Seq(
      (1L, "boiler\n\nalpha\n\nbeta"),
      (2L, "boiler\n\ngamma"),   // loses the shared boilerplate
      (3L, "boiler"),            // loses everything
      (4L, "alpha\n\ndelta"))    // alpha first appeared in doc 1
      .toDF("id", "t")
    val out = Dedup.paragraphDedup(docs, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "boiler\n\nalpha\n\nbeta")
    assert(out(2L) == "gamma")
    assert(out(3L) == "")
    assert(out(4L) == "delta")
    assert(out.size == 4, "every input document must come back")
  }

  test("duplicateSpans: cross-doc spans merge; within-doc repetition is not flagged") {
    val docs = Seq(
      // docs 1 and 2 share tokens 2..6 ("one two three four five"):
      // 3-grams at positions 2,3,4 in doc 1 / 0,1,2 in doc 2
      (1L, "aa bb one two three four five cc dd"),
      (2L, "one two three four five zz yy xx ww"),
      // doc 3 repeats ITS OWN trigram twice but shares nothing
      (3L, "p q r p q r p q r")).toDF("id", "t")
    val spans = Dedup.duplicateSpans(docs, "id", "t", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(spans(1L) == ((2L, 6L, 3L)), s"doc 1 span wrong: ${spans.get(1L)}")
    assert(spans(2L) == ((0L, 4L, 3L)), s"doc 2 span wrong: ${spans.get(2L)}")
    assert(!spans.contains(3L),
      "within-document repetition must not count as cross-document duplication")
  }

  test("chunkTokenWindows: overlap, short tail, sub-size and empty docs") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6"), // 7 tokens, size 4 stride 3
      (2L, "a b"),                  // shorter than one window
      (3L, "")).toDF("id", "t")     // no tokens -> no chunks
    val out = Packing.chunkTokenWindows(docs, "id", "t", size = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    assert(out((1L, 0)) == (("t0 t1 t2 t3", 4L)))
    assert(out((1L, 1)) == (("t3 t4 t5 t6", 4L)), "windows overlap by size-stride")
    assert(!out.contains((1L, 2)), "no window past the last stride start")
    assert(out((2L, 0)) == (("a b", 2L)), "sub-size doc yields one short chunk")
    assert(!out.exists(_._1._1 == 3L), "empty doc yields no chunks")
  }

  test("bigramNoveltyStats: broadcast-join scale path == count-window path") {
    val docs = Seq((1L, "the cat sat"), (2L, "the dog ran"),
      (3L, "zq"), (4L, "the cat sat")).toDF("id", "t")
    def rows(broadcastDf: Boolean) =
      TextFunctions.bigramNoveltyStats(docs, "id", "t", broadcastDf)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toSet
    assert(rows(broadcastDf = true) == rows(broadcastDf = false),
      "the two document-frequency formulations must agree exactly")
    assert(rows(broadcastDf = false).nonEmpty)
  }

  test("languageRebalance: smallest language keeps all; alpha=1 keeps everything") {
    val docs = (1 to 80).map(i => (i.toLong, s"doc number $i body", "en")) ++
      (81 to 100).map(i => (i.toLong, s"doc number $i body", "nl")) ++
      (101 to 105).map(i => (i.toLong, s"doc number $i body", "fy"))
    val df = docs.toDF("id", "text", "lang")
    val out = TextFunctions.languageRebalance(df, "text", "lang", alpha = 0.5)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Double]("keep_prob"),
        r.getAs[Boolean]("keep")))
    val byLang = out.groupBy(_._1)
    assert(byLang("fy").forall(r => r._2 == 1.0 && r._3),
      "the smallest language must keep everything")
    assert(math.abs(byLang("en").head._2 - math.sqrt(5.0 / 80)) < 1e-12)
    assert(math.abs(byLang("nl").head._2 - math.sqrt(5.0 / 20)) < 1e-12)
    // deterministic: same content -> same decision on a rerun
    val again = TextFunctions.languageRebalance(df, "text", "lang", alpha = 0.5)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Double]("keep_prob"),
        r.getAs[Boolean]("keep")))
    assert(out.sortBy(_.toString).toSeq == again.sortBy(_.toString).toSeq)
    val all = TextFunctions.languageRebalance(df, "text", "lang", alpha = 1.0)
      .collect()
    assert(all.forall(r => r.getAs[Double]("keep_prob") == 1.0 &&
      r.getAs[Boolean]("keep")), "alpha=1 must keep everything")
    // NULL language: row survives with keep=false and does NOT poison n_min
    val withNull = (docs :+ ((106L, "mystery text", null: String)))
      .toDF("id", "text", "lang")
    val nOut = TextFunctions.languageRebalance(withNull, "text", "lang", 0.5)
      .collect()
    assert(nOut.length == 106, "null-lang rows must stay in the output")
    val nullRow = nOut.find(_.getAs[Long]("id") == 106L).get
    assert(nullRow.isNullAt(nullRow.fieldIndex("keep_prob")) &&
      !nullRow.getAs[Boolean]("keep"))
    assert(nOut.filter(_.getAs[String]("lang") == "fy")
      .forall(_.getAs[Double]("keep_prob") == 1.0),
      "n_min must come from the smallest REAL language, not the null group")
  }

  test("paragraphDedup preserves non-text columns") {
    val docs = Seq((1L, "boiler\n\nalpha", "web", 9),
      (2L, "boiler", "books", 7)).toDF("id", "t", "source", "extra")
    val out = Dedup.paragraphDedup(docs, "id", "t")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("t"), r.getAs[String]("source"), r.getAs[Int]("extra"))))
      .toMap
    assert(out(1L) == (("boiler\n\nalpha", "web", 9)))
    assert(out(2L) == (("", "books", 7)), "metadata must survive full dedup")
  }

  test("PQ edge cases: empty query set; null set scores 0.0") {
    val df = Seq((1L, Array(1.0f, 0.0f))).toDF("id", "v")
    val cb = Array(Array(Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
    val coded = df.select(col("id"), Similarity.pqEncode(col("v"), cb).as("c"))
    assert(Similarity.pqTopK(coded, "id", "c", Seq.empty, cb, 3).count() == 0)
    assert(Similarity.ivfPqTopK(df, "id", "v", Array(Array(1.0f, 0.0f)), cb,
      Seq.empty, 3).count() == 0)
    // zero-norm query probes nothing -> no rows for it
    assert(Similarity.ivfPqTopK(df, "id", "v", Array(Array(1.0f, 0.0f)), cb,
      Seq(7L -> Array(0.0f, 0.0f)), 3).count() == 0)
    val nullSet = Seq((Some(Seq(1L, 2L)), Option.empty[Seq[Long]]))
      .toDF("a", "b")
    val j = nullSet.select(Dedup.jaccardBySets(col("a"), col("b")).as("j"))
      .collect().head
    assert(!j.isNullAt(0) && j.getDouble(0) == 0.0,
      "null set must score 0.0 like the composed form")
  }

  test("redactPii / piiCounts: ordered typed replacements") {
    val df = Seq((1L,
      "mail a.b+c@test.org or 10.0.0.7, call 555-123-4567; no pii here: 1.2"))
      .toDF("id", "t")
    val r = df.select(
        TextFunctions.redactPii(col("t")).as("red"),
        TextFunctions.piiCounts(col("t")).as("c"))
      .collect().head
    assert(r.getString(0) ==
      "mail <EMAIL> or <IP>, call <PHONE>; no pii here: 1.2")
    val c = r.getStruct(1)
    assert((c.getInt(0), c.getInt(1), c.getInt(2)) == ((1, 1, 1)))
  }

  test("PQ: encode/ADC round-trip, rerank recovers brute force, training separates") {
    // 4-dim vectors, m=2 subspaces of 2; clusters on orthogonal half-axes
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.3f, 0.0f)), (2L, Array(0.8f, 0.2f, 0.25f, 0.1f)),
      (3L, Array(0.1f, 0.9f, 0.2f, 0.8f)), (4L, Array(0.9f, 0.15f, 0.28f, 0.05f)),
      (5L, Array(0.2f, 0.85f, 0.1f, 0.9f)), (6L, Array(0.95f, 0.12f, 0.31f, 0.02f)))
      .toDF("id", "v")
    // k-means per subspace: init from the first k vectors by id, assign
    // with pqEncode, move each centroid to the mean of its members
    val rows = vecs.orderBy("id").collect().map(_.getSeq[Float](1).toArray)
    var cb = Array.tabulate(2, 2)((j, i) => rows(i).slice(j * 2, j * 2 + 2))
    (1 to 3).foreach { _ =>
      val assigned = vecs.orderBy("id")
        .select(Similarity.pqEncode(col("v"), cb)).collect().map(_.getSeq[Int](0))
      cb = Array.tabulate(2, 2) { (j, c) =>
        val members = rows.indices.filter(assigned(_)(j) == c)
          .map(r => rows(r).slice(j * 2, j * 2 + 2))
        if (members.isEmpty) cb(j)(c)
        else Array.tabulate(2)(d => members.map(_(d)).sum / members.size)
      }
    }
    assert(cb.length == 2 && cb(0).length == 2 && cb(0)(0).length == 2)
    // codes are 0-based and within range; x-cluster and y-cluster get
    // different codes in subspace 0
    val codes = vecs.select(col("id"),
        Similarity.pqEncode(col("v"), cb).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(_.forall(c => c >= 0 && c < 2)))
    assert(codes(1L)(0) != codes(3L)(0),
      "separated clusters must encode to different subspace-0 codes")
    // ADC score == sum of per-subspace centroid inner products
    val lut = Similarity.pqLut(Array(1.0f, 0.1f, 0.3f, 0.0f), cb)
    assert(lut.length == 4)
    // full-overfetch rerank: the ADC top-(k * 2) pool re-ranked by exact
    // cosine equals brute force
    val queries = vecs.filter(col("id") === 1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    val brute = ids(Similarity.bruteForceTopK(queries, vecs, "id", "v", 3))
    val coded = vecs.select(col("id"), Similarity.pqEncode(col("v"), cb).as("codes"))
    val pool = Similarity.pqTopK(coded, "id", "codes",
        Seq(1L -> Array(1.0f, 0.1f, 0.3f, 0.0f)), cb, k = 3 * 2)
      .select(col("neighbor_id").as("id"))
    val reranked = ids(Similarity.bruteForceTopK(queries, vecs.join(pool, "id"),
      "id", "v", 3))
    assert(reranked == brute,
      "exact re-rank over a wide-enough ADC pool must equal brute force")
  }

  test("IVF-PQ: nprobe = nlist equals plain PQ; nprobe=1 returns a subset") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.3f, 0.0f)), (2L, Array(0.8f, 0.2f, 0.25f, 0.1f)),
      (3L, Array(0.1f, 0.9f, 0.2f, 0.8f)), (4L, Array(0.9f, 0.15f, 0.28f, 0.05f)),
      (5L, Array(0.2f, 0.85f, 0.1f, 0.9f)), (6L, Array(0.95f, 0.12f, 0.31f, 0.02f)))
      .toDF("id", "v")
    val cb = Array(
      Array(Array(0.9125f, 0.1425f), Array(0.15f, 0.875f)),
      Array(Array(0.285f, 0.0425f), Array(0.15f, 0.85f)))
    val coarse = Array(Array(1.0f, 0.0f, 0.3f, 0.0f), Array(0.0f, 1.0f, 0.1f, 0.9f))
    val queries = Seq(1L -> Array(1.0f, 0.1f, 0.3f, 0.0f))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect()
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSeq
    val coded = vecs.select(col("id"),
      Similarity.pqEncode(col("v"), cb).as("codes"))
    val plain = pairs(Similarity.pqTopK(coded, "id", "codes", queries, cb, k = 4))
    val everyCell = pairs(Similarity.ivfPqTopK(vecs, "id", "v", coarse, cb,
      queries, k = 4, nprobe = 2))
    assert(everyCell == plain, "probing every cell must equal plain PQ ADC")
    val home = pairs(Similarity.ivfPqTopK(vecs, "id", "v", coarse, cb,
      queries, k = 4, nprobe = 1))
    assert(home.map(_._1).toSet.subsetOf(plain.map(_._1).toSet))
    assert(home.size < everyCell.size, "home cell excludes the far cluster")
  }

  test("native l2_argmin / pq_adc_score register in SQL and match composed forms") {
    import org.apache.spark.sql.graft.{L2Argmin, PqAdcScore}
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "l2_argmin", exprs => L2Argmin(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_adc_score", exprs => PqAdcScore(exprs.head, exprs(1)), "built-in")
    val df = Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.1f, 0.8f))).toDF("id", "v")
    df.createOrReplaceTempView("pq_vecs")
    val sql = spark.sql(
      """SELECT id, l2_argmin(v, array(array(1.0f, 0.0f), array(0.0f, 1.0f))) AS cell,
        |  pq_adc_score(array(0, 1), array(10.0d, 20.0d, 30.0d, 40.0d)) AS s
        |FROM pq_vecs""".stripMargin)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(sql(1L)._1 == 1L && sql(2L)._1 == 2L)
    // codes (0,1) over k=2 per subspace: lut[0*2+0] + lut[1*2+1] = 10 + 40
    assert(sql(1L)._2 == 50.0)
    // empty codebook -> null
    assert(spark.sql("SELECT l2_argmin(array(1.0f), array())").collect()
      .head.isNullAt(0))
    // SQL long_set_jaccard sanitizes arbitrary input (the registration
    // wraps array_compact + array_distinct): duplicates dedupe and null
    // elements drop instead of reading as fake zeros
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "long_set_jaccard", exprs => {
        import org.apache.spark.sql.catalyst.expressions.{ArrayCompact, ArrayDistinct}
        org.apache.spark.sql.graft.LongSetJaccard(
          ArrayDistinct(ArrayCompact(exprs.head)),
          ArrayDistinct(ArrayCompact(exprs(1))))
      }, "built-in")
    val jac = spark.sql(
      "SELECT long_set_jaccard(array(1L, 1L, 2L), array(2L, 3L))")
      .collect().head.getDouble(0)
    assert(math.abs(jac - 1.0 / 3.0) < 1e-15, s"got $jac")
    // a null element must not intersect a genuine 0
    val jn = spark.sql(
      "SELECT long_set_jaccard(array(1L, CAST(NULL AS LONG)), array(0L, 2L))")
      .collect().head.getDouble(0)
    assert(jn == 0.0, s"null element faked an intersection: $jn")
    // cosine_top_cells takes its nprobe as a SQL literal
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_top_cells", exprs =>
        org.apache.spark.sql.graft.CosineTopCells(exprs.head, exprs(1),
          exprs(2).eval().asInstanceOf[Number].intValue()), "built-in")
    val tc = spark.sql(
      """SELECT cosine_top_cells(array(0.9f, 0.1f),
        |  array(array(1.0f, 0.0f), array(0.0f, 1.0f)), 2)""".stripMargin)
      .collect().head.getSeq[Long](0)
    assert(tc == Seq(1L, 2L), s"got $tc")
  }

  test("contaminationScores: benchmark-gram coverage; maxDf drops stop-phrases") {
    val boiler = "terms and conditions apply here" // in every corpus doc
    val corpus = Seq(
      (10L, s"alpha beta gamma delta epsilon $boiler"),
      (11L, s"one two three four five six $boiler"),
      (12L, s"unrelated words entirely different content $boiler"))
      .toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val full = Dedup.contaminationScores(corpus, "doc_id", "text",
        bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // bench has 2 distinct 3-grams; doc 10 contains both
    assert(full == Map(10L -> 1.0))
    // capping df at 2 keeps doc-specific grams (df 1) and would drop any
    // gram in all 3 docs; the boilerplate 3-grams never hit because the
    // bench doc doesn't contain them — add a contaminated bench doc:
    val bench2 = Seq((2L, boiler)).toDF("doc_id", "text")
    val uncapped = Dedup.contaminationScores(corpus, "doc_id", "text",
      bench2, "doc_id", "text").count()
    val capped = Dedup.contaminationScores(corpus, "doc_id", "text",
      bench2, "doc_id", "text", maxDf = Some(2L)).count()
    assert(uncapped == 3, "boilerplate bench doc matches every corpus doc")
    assert(capped == 0, "df cap removes corpus-wide stop-phrases")
  }

  test("repetitionStats: duplicate-line and top-gram ratios on multi-line docs") {
    val docs = Seq(
      // 4 lines, "spam spam" repeated 3x: dup_line_ratio = (4-2)/4 = 0.5;
      // dup chars = 3 * 9 = 27 of 27 + 11 = 38; top 2-gram "spam spam"
      // appears 3x of 5 word-2-grams (the 2 bridging grams differ)
      (1L, "spam spam\nspam spam\nspam spam\nunique line"),
      (2L, "all lines differ\nhere entirely\nno repeats"))
      .toDF("doc_id", "text")
    val got = TextFunctions.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val r6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    assert(got(1L) == ((4L, 2L, 0.5, r6(27.0 / 38))))
    assert(got(2L) == ((3L, 3L, 0.0, 0.0)))
    val topGram = TextFunctions.repetitionStats(docs, "doc_id", "text")
      .filter(col("doc_id") === 1).collect()(0).getDouble(5)
    // grams: (spam spam)x3 + (spam unique) ... across newlines tokens
    // flow together: 7 2-grams total, "spam spam" 3x -> but the bridging
    // "spam spam" across lines 1-2 and 2-3 also hash equal -> 5/7
    assert(math.abs(topGram - 5.0 / 7) < 1e-6, s"got $topGram")
  }

  test("bucketed near-dup: nprobe=nlist == brute force; nprobe=1 is a same-cell subset") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.95f, 0.3f)),
      (3L, Array(0.7f, 0.71f)), (4L, Array(0.0f, 1.0f)),
      (5L, Array(0.3f, 0.95f)))
      .toDF("id", "v")
    val cents = array(
      array(lit(1.0f), lit(0.0f)), array(lit(0.0f), lit(1.0f)))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(Dedup.embeddingNearDups(vecs, "id", "v", 0.8))
    val full = pairSet(
      Dedup.embeddingNearDupsBucketed(vecs, "id", "v", 0.8, cents, nprobe = 2))
    assert(full == brute, "probing every cell recovers all brute-force pairs")
    val single = pairSet(
      Dedup.embeddingNearDupsBucketed(vecs, "id", "v", 0.8, cents))
    assert(single.subsetOf(brute))
    assert(single.contains((1L, 2L)) && single.contains((4L, 5L)),
      "within-cell near-dups survive single-probe bucketing")
  }

  test("zero-norm vectors: ivfRanking is null like ivfAssign; probed search emits no rows") {
    val cents = array(
      array(lit(1.0f), lit(0.0f)), array(lit(0.0f), lit(1.0f)))
    val zero = Seq((9L, Array(0.0f, 0.0f))).toDF("id", "v")
    val r = zero.select(
      Similarity.ivfAssign(col("v"), cents).as("cell"),
      ComposedForms.ivfRanking(col("v"), cents).as("ranking")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1),
      "assignment and ranking must agree (both null) on degenerate input")
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "v")
    val got = Similarity.ivfTopKProbed(zero, corpus, "id", "v", cents,
      k = 2, nprobe = 2)
    assert(got.count() == 0, "a zero-norm query probes no cells")
  }

  test("native cosine-argmax == lambda formulation (ties, zero norms)") {
    val cents = array(
      array(lit(1.0f), lit(0.0f)), array(lit(0.8f), lit(0.6f)),
      array(lit(1.0f), lit(0.0f)), // duplicate of cell 1: tie -> first max
      array(lit(0.0f), lit(0.0f))) // zero-norm centroid: never assigned
    val vecs = Seq(
      (1L, Array(0.9f, 0.1f)), (2L, Array(0.5f, 0.5f)),
      (3L, Array(1.0f, 0.0f)), // exact tie between cells 1 and 3
      (4L, Array(0.0f, 0.0f)), // zero-norm query -> null
      (5L, Array(-1.0f, -0.5f)))
      .toDF("id", "v")
    def lambdaAssign(vec: org.apache.spark.sql.Column) = {
      val scored = transform(cents, c => Dedup.cosine(vec, c))
      array_position(scored, array_max(scored))
    }
    val rows = vecs.select(
      Similarity.ivfAssign(col("v"), cents).as("native"),
      lambdaAssign(col("v")).as("lambda")).collect()
    rows.foreach { r =>
      val n = if (r.isNullAt(0)) null else r.getLong(0)
      val l = if (r.isNullAt(1)) null else r.getLong(1)
      assert(n == l, s"native=$n lambda=$l")
    }
  }

  test("native top-cells == slice(ivfRanking) (ties, zero norms, n > k)") {
    val cents = array(
      array(lit(1.0f), lit(0.0f)), array(lit(0.8f), lit(0.6f)),
      array(lit(1.0f), lit(0.0f)), // duplicate of cell 1: tie -> lower idx
      array(lit(0.0f), lit(0.0f))) // zero-norm centroid: ranks last
    val vecs = Seq(
      (1L, Array(0.9f, 0.1f)), (2L, Array(0.5f, 0.5f)),
      (3L, Array(1.0f, 0.0f)), // exact tie between cells 1 and 3
      (4L, Array(0.0f, 0.0f)), // zero-norm query -> null
      (5L, Array(-1.0f, -0.5f)))
      .toDF("id", "v")
    for (n <- Seq(1, 2, 3, 4, 9)) { // 9 > nlist: full ranking
      val rows = vecs.select(
        Similarity.ivfProbeCells(col("v"), cents, n).as("native"),
        slice(ComposedForms.ivfRanking(col("v"), cents), 1, n).as("ranked"))
        .collect()
      rows.foreach { r =>
        val nv = if (r.isNullAt(0)) null else r.getSeq[Long](0)
        val rv = if (r.isNullAt(1)) null else r.getSeq[Long](1)
        assert(nv == rv, s"n=$n native=$nv ranked=$rv")
      }
    }
  }

  test("IVF assignment picks the nearest centroid cell") {
    val centroids = array(
      array(lit(1.0f), lit(0.0f)), array(lit(0.0f), lit(1.0f)))
    val df = Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.2f, 0.8f)))
      .toDF("id", "v")
      .withColumn("cell", Similarity.ivfAssign(col("v"), centroids))
    val cells = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cells == Map(1L -> 1L, 2L -> 2L))
  }

  test("int8 quantization: codes bounded, approx cosine tracks exact") {
    val vecs = Seq(
      (1L, Array(0.9f, 0.1f, -0.4f, 0.25f)),
      (2L, Array(0.85f, 0.15f, -0.35f, 0.3f)),
      (3L, Array(-0.2f, 0.95f, 0.1f, -0.6f)))
      .toDF("id", "v")
      .withColumn("q", Similarity.quantize8(col("v")))
    val codes = vecs.select(col("q.codes")).collect()
      .flatMap(_.getSeq[Byte](0))
    assert(codes.forall(c => c >= -127 && c <= 127))
    val pairs = vecs.as("a").join(vecs.as("b"),
        col("a.id") < col("b.id"))
      .select(
        Dedup.cosine(col("a.v"), col("b.v")).as("exact"),
        col("a.q.codes"), col("b.q.codes"))
      .collect()
    pairs.foreach { r =>
      // approximate cosine over the int8 codes alone
      val (a, b) = (r.getSeq[Byte](1).map(_.toDouble), r.getSeq[Byte](2).map(_.toDouble))
      val approx = a.zip(b).map { case (x, y) => x * y }.sum /
        math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
      assert(math.abs(r.getDouble(0) - approx) < 0.02,
        s"approx $approx vs exact ${r.getDouble(0)}")
    }
  }

  test("packing: prefix-sum assignment, offsets within budget") {
    val docs = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 7L))
      .toDF("id", "n")
    val packed = Packing.packSequences(docs, "id", "n", budget = 8L, shards = 1)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("seq_id"), r.getAs[Long]("seq_offset"))).toMap
    // cumulative-before: 0, 4, 9, 12 -> seq floor(/8): 0,0,1,1; offset mod 8
    assert(packed == Map(1L -> (0L, 0L), 2L -> (0L, 4L),
      3L -> (1L, 1L), 4L -> (1L, 4L)))
    assert(packed.values.forall(_._2 < 8))
  }

  test("multimodal: expression-only metadata and partition-batched decode") {
    val df = Seq((1L, "payload"), (2L, ""), (3L, "more bytes"))
      .toDF("id", "text")
      .withColumn("bin", col("text").cast("binary"))
    val meta = df.select(col("id"),
        Multimodal.mediaMeta(col("bin"), lit("image/png")).as("m"))
      .select("id", "m.byte_length", "m.width", "m.height", "m.decode_error")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getLong(1) == 7L)
    assert(meta(2L).getString(4) == "empty payload")
    // no fabrication: dimensions are null until a real decode runs
    assert(meta(1L).isNullAt(2) && meta(1L).isNullAt(3))
    assert(meta(1L).getString(4) == "not decoded: use decodePartitions")
    val decoded = Multimodal.decodePartitions(df, "id", "bin", batchSize = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // text payloads are not images: ok=false, error channel explains why
    assert(!decoded(1L).getAs[Boolean]("ok"))
    assert(decoded(1L).getAs[String]("decode_error") == "unrecognized format")
    assert(decoded(2L).getAs[String]("decode_error") == "empty payload")
    assert(decoded(3L).getAs[Long]("byte_length") == 10L)
  }

  test("multimodal: MP3 frame-header/Xing and MP4 mvhd duration probes") {
    def be32(x: Long): Array[Byte] =
      Array(((x >> 24) & 0xff).toByte, ((x >> 16) & 0xff).toByte,
        ((x >> 8) & 0xff).toByte, (x & 0xff).toByte)
    def be64(x: Long): Array[Byte] = be32(x >>> 32) ++ be32(x & 0xffffffffL)

    // CBR: MPEG1 Layer III, 128 kbps (index 9), 44100 Hz (index 0), mono.
    // duration = bytes*8/kbps ms
    val cbrHdr = Array(0xff.toByte, 0xfb.toByte, (9 << 4).toByte, 0xc0.toByte)
    val cbr = cbrHdr ++ new Array[Byte](1596) // 1600 bytes total
    assert(ImageHeaders.mp3DurationMs(cbr).contains(1600L * 8 / 128))

    // VBR: ID3v2 (13-byte body) + header + 17 side-info zeros + Xing
    // with 2000 frames at 44100 Hz -> 2000*1152*1000/44100 ms
    val id3 = "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 0, 13) ++ new Array[Byte](13)
    val xing = new Array[Byte](17) ++ "Xing".getBytes ++ be32(1) ++ be32(2000)
    assert(ImageHeaders.mp3DurationMs(id3 ++ cbrHdr ++ xing)
      .contains(2000L * 1152 * 1000 / 44100))

    // CRC-protected VBR (protection bit 0 in 0xFA): a 2-byte CRC-16
    // precedes the side info, shifting the Xing block — without the
    // offset fix this silently fell back to the CBR byte-length estimate
    val crcHdr = Array(0xff.toByte, 0xfa.toByte, (9 << 4).toByte, 0xc0.toByte)
    val xingCrc = new Array[Byte](2 + 17) ++ "Xing".getBytes ++ be32(1) ++ be32(3000)
    assert(ImageHeaders.mp3DurationMs(crcHdr ++ xingCrc)
      .contains(3000L * 1152 * 1000 / 44100))

    // MPEG2 Layer III 22050 Hz: samples/frame halves to 576; bitrate
    // index 9 in the V2 L2/L3 table is 80 kbps. 0xF3 = sync|V2|LIII.
    val v2 = Array(0xff.toByte, 0xf3.toByte, (9 << 4).toByte, 0xc0.toByte) ++
      new Array[Byte](796)
    assert(ImageHeaders.mp3DurationMs(v2).contains(800L * 8 / 80))

    // not MP3: no frame sync
    assert(ImageHeaders.mp3DurationMs("random text".getBytes).isEmpty)
    // truncated ID3 promising more bytes than present
    assert(ImageHeaders.mp3DurationMs(
      "ID3".getBytes ++ Array[Byte](3, 0, 0, 0, 0, 0, 100)).isEmpty)

    // MP4 v0 mvhd: timescale 600, duration 3000 units -> 5000 ms
    val mvhd0 = be32(28) ++ "mvhd".getBytes ++ Array[Byte](0, 0, 0, 0) ++
      be32(0) ++ be32(0) ++ be32(600) ++ be32(3000)
    val ftyp = be32(16) ++ "ftypisom".getBytes ++ be32(0)
    val mp4v0 = ftyp ++ be32(36) ++ "moov".getBytes ++ mvhd0
    assert(ImageHeaders.mp4DurationMs(mp4v0).contains(5000L))

    // MP4 v1 mvhd (64-bit duration): timescale 1000, duration 42000
    val mvhd1 = be32(40) ++ "mvhd".getBytes ++ Array[Byte](1, 0, 0, 0) ++
      be64(0) ++ be64(0) ++ be32(1000) ++ be64(42000L)
    val mp4v1 = ftyp ++ be32(48) ++ "moov".getBytes ++ mvhd1
    assert(ImageHeaders.mp4DurationMs(mp4v1).contains(42000L))

    // moov after an mdat the walk must skip over
    val mdat = be32(24) ++ "mdat".getBytes ++ new Array[Byte](16)
    assert(ImageHeaders.mp4DurationMs(ftyp ++ mdat ++ be32(36) ++
      "moov".getBytes ++ mvhd0).contains(5000L))

    // not MP4: first box type implausible
    assert(ImageHeaders.mp4DurationMs("AAAAAAAAAAAAAAAAAAAA".getBytes).isEmpty)
    // zero timescale must not divide
    val badMvhd = be32(28) ++ "mvhd".getBytes ++ Array[Byte](0, 0, 0, 0) ++
      be32(0) ++ be32(0) ++ be32(0) ++ be32(3000)
    assert(ImageHeaders.mp4DurationMs(ftyp ++ be32(36) ++ "moov".getBytes ++
      badMvhd).isEmpty)

    // the combined probe dispatches: WAV stays WAV, MP3/MP4 route through
    assert(ImageHeaders.durationMs(cbr).contains(100L))
    assert(ImageHeaders.durationMs(mp4v0).contains(5000L))
  }

  test("multimodal: real PNG/JPEG/GIF header decode from actual image bytes") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def bytesOf(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    assert(ImageHeaders.dimensions(bytesOf("png", 123, 45)).contains((123, 45)))
    assert(ImageHeaders.dimensions(bytesOf("jpg", 64, 128)).contains((64, 128)))
    assert(ImageHeaders.dimensions(bytesOf("gif", 17, 9)).contains((17, 9)))
    assert(ImageHeaders.dimensions("not an image".getBytes).isEmpty)
    assert(ImageHeaders.dimensions(Array.emptyByteArray).isEmpty)
    val df = Seq((1L, bytesOf("png", 123, 45)), (2L, bytesOf("jpg", 64, 128)))
      .toDF("id", "bin")
    val out = Multimodal.decodePartitions(df, "id", "bin")
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3)))).toMap
    assert(out == Map(1L -> ((123, 45)), 2L -> ((64, 128))))
  }

  test("multimodal: full-pixel decode, exact luma, bilinear resize features") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def encode(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // solid gray 200: mean_luma is EXACTLY the gray level
    val solid = new BufferedImage(6, 4, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 6; y <- 0 until 4)
      solid.setRGB(x, y, (200 << 16) | (200 << 8) | 200)
    // left half black, right half white: resized features must keep
    // the spatial gradient (left columns dark, right columns bright)
    val split = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 16; y <- 0 until 16)
      split.setRGB(x, y, if (x < 8) 0x000000 else 0xffffff)
    val df = Seq(
      (1L, encode(solid, "png")),
      (2L, encode(split, "png")),
      (3L, "definitely not an image".getBytes("US-ASCII")),
      (4L, encode(solid, "jpg"))).toDF("id", "bin")
    val out = Multimodal.imageFeaturesPartitions(df, "id", "bin", side = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    val s = out(1L)
    assert((s.getInt(1), s.getInt(2)) == ((6, 4)) && s.getBoolean(5))
    assert(s.getDouble(3) == 200.0) // integer-milli luma: exact
    val feats = out(2L).getSeq[Float](4)
    assert(feats.length == 16)
    // row-major 4x4: columns 0-1 from the black half, 2-3 from white
    for (row <- 0 until 4) {
      assert(feats(row * 4) < 64f && feats(row * 4 + 3) > 191f)
      assert(feats(row * 4) < feats(row * 4 + 3))
    }
    assert(!out(3L).getBoolean(5) && out(3L).getString(6) != null)
    // JPEG is lossy: dims exact, luma within compression tolerance
    val j = out(4L)
    assert((j.getInt(1), j.getInt(2)) == ((6, 4)))
    assert(math.abs(j.getDouble(3) - 200.0) < 3.0)
  }

  test("image near-dup flagship: exact features, cells, and kept set") {
    // the oracle's load-bearing claims, pinned at spec scale on the real
    // composed query over sf0.001: (1) the 4x4 fixture decodes to EXACT
    // {0,255} quadrant features (identity-scale resample, endpoint-exact
    // gray conversion); (2) the kept set is min-id per image class plus
    // every all-dark (zero-norm, null-cell) image
    val dir = "/root/testdata/sf0.001"
    val ids = graft.SparkEntry.table(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    val kept = graft.queries.QueriesLLM.q_image_neardup(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val expected = ids.filter(id => (id & 15L) == 0L).toSet ++
      ids.filter(id => (id & 15L) != 0L).groupBy(_ & 15L).values.map(_.min)
    assert(kept == expected,
      s"kept diverges: extra=${(kept -- expected).take(5)} missing=${(expected -- kept).take(5)}")
  }

  test("multimodal: image features feed the embedding near-dup path") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 16; y <- 0 until 16) {
        val c = f(x, y) & 0xff
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
      }
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val gradient = png((x, _) => x * 16)                     // left-dark ramp
    val nearDup = png((x, y) => x * 16 + (if (y == 0) 4 else 0)) // + noise
    val inverted = png((x, _) => 255 - x * 16)               // reversed ramp
    val df = Seq((1L, gradient), (2L, nearDup), (3L, inverted)).toDF("id", "bin")
    val feats = Multimodal.imageFeaturesPartitions(df, "id", "bin", side = 4)
      .select(col("id"), col("features"))
    val pairs = Dedup.embeddingNearDups(feats, "id", "features", 0.995)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L))) // the perturbed twin, not the inverse
  }

  test("multimodal: real WAV duration decode from actual audio bytes") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    // 1.5 s of silence at 8 kHz mono 16-bit -> 24000 data bytes
    def wavOf(sampleRate: Float, seconds: Double): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
      val n = (sampleRate * seconds).toLong
      val pcm = new java.io.ByteArrayInputStream(new Array[Byte]((n * 2).toInt))
      val ais = new AudioInputStream(pcm, fmt, n)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    assert(ImageHeaders.wavDurationMs(wavOf(8000f, 1.5)).contains(1500L))
    assert(ImageHeaders.wavDurationMs(wavOf(44100f, 0.25)).contains(250L))
    assert(ImageHeaders.wavDurationMs("RIFFnope".getBytes).isEmpty)
    // chunk walk: LIST chunk (odd size, word-padded) before fmt/data
    val meta = "INFO123".getBytes("US-ASCII")
    def le32b(v: Long): Array[Byte] =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val real = wavOf(8000f, 1.0)
    val withList = real.slice(0, 12) ++
      "LIST".getBytes("US-ASCII") ++ le32b(meta.length) ++ meta ++ Array[Byte](0) ++
      real.drop(12)
    assert(ImageHeaders.wavDurationMs(withList).contains(1000L))
    // corrupt chunk size near 2^31 must return None, not crash on a
    // wrapped negative index
    val corrupt = real.slice(0, 12) ++
      "JUNK".getBytes("US-ASCII") ++ le32b(0x7ffffffdL) ++ real.drop(20)
    assert(ImageHeaders.wavDurationMs(corrupt).isEmpty)
    val df = Seq((1L, wavOf(16000f, 2.0))).toDF("id", "bin")
    val out = Multimodal.decodePartitions(df, "id", "bin").collect().head
    assert(out.getAs[Long]("duration_ms") == 2000L)
    assert(out.getAs[Boolean]("ok") && out.getAs[String]("decode_error") == null)
  }
}
