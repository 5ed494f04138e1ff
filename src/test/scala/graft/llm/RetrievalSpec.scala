package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** BM25 retrieval, SemDeDup, and DSIR importance weights on
  * hand-computable fixtures.
  */
class RetrievalSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("bm25: tf saturation and length normalization rank as expected") {
    val corpus = Seq(
      (1L, "apple banana"),
      (2L, "apple apple cherry"),
      (3L, "banana banana banana")).toDF("doc_id", "text")
    val queries = Seq((10L, "apple")).toDF("qid", "qtext")
    val hits = Retrieval.bm25TopK(corpus, "doc_id", "text",
        queries, "qid", "qtext", k = 5)
      .orderBy("rank").collect()
    // only the two apple-bearing docs match; tf=2 beats tf=1
    assert(hits.map(_.getLong(1)).toSeq == Seq(2L, 1L))
    assert(hits.map(_.getLong(2)).toSeq == Seq(1L, 2L))
    assert(hits.forall(_.getDouble(3) > 0))
    // idf of a term in 2 of 3 docs: ln((3-2+0.5)/(2+0.5)+1) = ln(1.6);
    // doc2 contrib = idf*(2*2.2)/(2+1.2*(0.25+0.75*3/(8.0/3)))
    val idf = math.floor(math.log(1.6) * 1e9 + 0.5) / 1e9
    val expected2 = math.floor(
      idf * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / (8.0 / 3))) * 1e6 + 0.5) / 1e6
    assert(hits.head.getDouble(3) == expected2)
  }

  test("bm25: repeated query terms score once (bag-of-words dedup)") {
    val corpus = Seq((1L, "apple pie"), (2L, "cherry pie")).toDF("doc_id", "text")
    val once = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq((1L, "apple")).toDF("q", "t"), "q", "t", 5).collect()
    val twice = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq((1L, "apple apple")).toDF("q", "t"), "q", "t", 5).collect()
    assert(once.map(r => (r.getLong(1), r.getDouble(3))).toSet ==
      twice.map(r => (r.getLong(1), r.getDouble(3))).toSet)
  }

  test("bm25: search over a persisted term-bucketed index == one-call scores") {
    val corpus = Seq(
      (1L, "apple banana cherry apple"),
      (2L, "apple apple cherry"),
      (3L, "banana banana banana date"),
      (4L, "cherry date elderberry"),
      (5L, "fig")).toDF("doc_id", "text")
    val queries = Seq((10L, "apple cherry"), (11L, "banana date"),
      (12L, "fig missingterm")).toDF("qid", "qtext")
    val oneCall = Retrieval.bm25TopK(corpus, "doc_id", "text",
      queries, "qid", "qtext", k = 3).collect().toSet

    // build once, persist the postings bucketed by term (the join key a
    // search uses) and the one-row stats next to them, then search the
    // read-back tables — the production call shape
    val (post, stats) = Retrieval.buildPostings(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    graft.etd.Sources.writeBucketed(post, "bm25_postings_spec",
      s"$dir/postings", buckets = 4, bucketCols = Seq("term"),
      sortCols = Seq("term"))
    stats.write.mode("overwrite").parquet(s"$dir/stats")
    val persisted = Retrieval.searchPostings(
      spark.table("bm25_postings_spec"), spark.read.parquet(s"$dir/stats"),
      queries, "qid", "qtext", k = 3).collect().toSet

    assert(persisted == oneCall)
    assert(oneCall.nonEmpty)

    // the serving form: the query batch's terms pushed into the index
    // scan — identical results (the join already restricts to query
    // terms), and the literal list reaches the parquet scan as a
    // pushed filter (the part a join cannot do), so row groups outside
    // the query terms are skipped instead of read
    val pruned = Retrieval.searchPostingsPruned(
      spark.table("bm25_postings_spec"), spark.read.parquet(s"$dir/stats"),
      queries, "qid", "qtext", k = 3)
    assert(pruned.collect().toSet == oneCall)
    // executedPlan is an AdaptiveSparkPlanExec whose stages collect()
    // can't descend into; its treeString prints them, scan metadata
    // (PushedFilters) included
    val tree = pruned.queryExecution.executedPlan.treeString
    assert(tree.contains("In(term"),
      s"query terms must reach the scan as a pushed In filter:\n$tree")

    // a query batch with no tokens at all still answers (empty)
    val noTok = Seq((20L, "  ")).toDF("qid", "qtext")
    assert(Retrieval.searchPostingsPruned(
      spark.table("bm25_postings_spec"), spark.read.parquet(s"$dir/stats"),
      noTok, "qid", "qtext", k = 3).count() == 0)
  }

  test("rrf: a document present in both runs outranks single-run ones") {
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), k = 3).orderBy("rank").collect()
    assert(out.head.getLong(1) == 11L)
    assert(out.map(_.getLong(1)).toSet == Set(10L, 11L, 12L))
    val r9 = (x: Double) => math.floor(x * 1e9 + 0.5) / 1e9
    assert(math.abs(out.head.getDouble(3) - (r9(1.0 / 62) + r9(1.0 / 61))) < 1e-12)
  }

  test("semDedup: keeps the lowest id of each cell-local near-dup set") {
    val df = Seq(
      (1L, Array(1f, 0f)),
      (2L, Array(1f, 0f)),       // exact dup of 1 -> dropped
      (3L, Array(0f, 1f)),       // orthogonal -> kept
      (4L, Array(0.999f, 0.01f)) // near-dup of 1 -> dropped
    ).toDF("vec_id", "embedding")
    val cents = array(array(lit(1f), lit(0f)), array(lit(0f), lit(1f)))
    val kept = Dedup.semDedup(df, "vec_id", "embedding", 0.9, cents)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    // a lower threshold in the same geometry merges nothing across cells:
    // 3 lives in its own cell and always survives
    val kept2 = Dedup.semDedup(df, "vec_id", "embedding", 0.5, cents)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept2.contains(3L) && kept2.contains(1L))
  }

  test("semDedupDistinct == semDedup on twin-heavy and zero-norm input") {
    // exact twins (1,2,5), a near-dup (4), an orthogonal loner (3), and
    // zero vectors (6,7) — the collapse must not change ANY outcome:
    // twins drop, the near-dup drops, zero vectors all survive
    val df = Seq(
      (5L, Array(1f, 0f)),
      (1L, Array(1f, 0f)),
      (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f)),
      (4L, Array(0.999f, 0.01f)),
      (6L, Array(0f, 0f)),
      (7L, Array(0f, 0f))).toDF("vec_id", "embedding")
    val cents = array(array(lit(1f), lit(0f)), array(lit(0f), lit(1f)))
    def keys(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id").collect().map(_.getLong(0)).toSet
    val plain = keys(Dedup.semDedup(df, "vec_id", "embedding", 0.9, cents))
    val dist = keys(Dedup.semDedupDistinct(df, "vec_id", "embedding", 0.9, cents))
    assert(dist == plain)
    assert(plain == Set(1L, 3L, 6L, 7L))
    // multi-probe path too
    val plain2 = keys(Dedup.semDedup(df, "vec_id", "embedding", 0.9, cents, nprobe = 2))
    val dist2 = keys(Dedup.semDedupDistinct(df, "vec_id", "embedding", 0.9, cents, nprobe = 2))
    assert(dist2 == plain2)
  }

  test("semDedupAuto: sqrt(N) nlist, first-nonzero-k centroids, == explicit call") {
    // 16 rows -> nlist = clamp(ceil(sqrt(16)), 8, 4096) = 8; the first 8
    // NONZERO vectors by id are the centroids (id 0's zero vector is
    // skipped, so centroids = vectors of ids 1..8)
    val vecs = (0L to 15L).map { i =>
      if (i == 0L) (i, Array(0f, 0f, 0f))
      else (i, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat,
        (i % 3).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cents = array((1L to 8L).map(i =>
      array(vecs(i.toInt)._2.toIndexedSeq.map(lit(_)): _*)): _*)
    def keys(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id").collect().map(_.getLong(0)).toSet
    val auto = keys(Dedup.semDedupAuto(df, "vec_id", "embedding", 0.95))
    val explicit = keys(Dedup.semDedupDistinct(df, "vec_id", "embedding", 0.95, cents))
    assert(auto == explicit)
    assert(auto.contains(0L), "zero-norm row always survives")
  }

  test("curation chain: gate, redact-before-dedup, exact + near dedup") {
    val base = "the cat and the dog is on a mat in the house with a hat"
    val docs = Seq(
      (1L, base + " contact a@b.com"),
      (2L, base + " contact c@d.com"), // same doc, different email
      (3L, "zzz"),                     // fails the quality gate
      (4L, base + " extra")) // near-dup of 1 (bands collide at this edit)
      .toDF("doc_id", "text")
    val kept = Curation.curate(docs, "doc_id", "text",
      minQuality = 0.2, jaccardThreshold = 0.2).collect()
    assert(kept.map(_.getLong(0)).toSet == Set(1L))
    val r = kept.head
    assert(r.getString(1).contains("<EMAIL>") && !r.getString(1).contains("a@b.com"))
    assert(r.getDouble(2) > 0.2)

    // the drop ledger is the audit TWIN: one row per input doc, stage
    // named per elimination, 'kept' rows exactly curate's output ids
    val audit = Curation.curateAudit(docs, "doc_id", "text",
        minQuality = 0.2, jaccardThreshold = 0.2)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(audit == Map(1L -> "kept", 2L -> "exact_dup",
      3L -> "gate", 4L -> "near_dup"))
  }

  test("curateAuditKeyed: stages bit-identical to curateAudit; kept rows " +
      "carry the CANDIDATE-cluster split key (r17)") {
    val base = "the cat and the dog is on a mat in the house with a hat"
    val docs = Seq(
      (1L, base + " contact a@b.com"),
      (2L, base + " contact c@d.com"), // exact twin post-redaction
      (3L, "zzz"),                     // fails the quality gate
      (4L, base + " extra"),           // near-dup of 1 (dropped)
      (7L, "completely unrelated prose about weather and ships at sea"))
      .toDF("doc_id", "text")
    val keyed = Curation.curateAuditKeyed(docs, "doc_id", "text",
        minQuality = 0.2, jaccardThreshold = 0.2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
    // stage semantics identical to curateAudit
    assert(keyed.view.mapValues(_._1).toMap == Map(1L -> "kept",
      2L -> "exact_dup", 3L -> "gate", 4L -> "near_dup", 7L -> "kept"))
    // split keys only on kept rows; doc 1 keys on its CANDIDATE cluster
    // label (min id of {1, 4} = 1 here), the loner keys on itself
    assert(keyed(1L)._2 == Some(1L))
    assert(keyed(7L)._2 == Some(7L))
    assert(keyed(2L)._2.isEmpty && keyed(3L)._2.isEmpty && keyed(4L)._2.isEmpty)

    // the leakage-safety property the key exists FOR: had the cluster
    // min been a DROPPED doc, the kept doc still keys on it — force it
    // with ids swapped (4 keeps, 11 drops as the near-dup... min id 4
    // keeps; pair partner 11 drops; both key on 4)
    val docs2 = Seq(
      (4L, base + " extra"),
      (11L, base + " contact a@b.com"))
      .toDF("doc_id", "text")
    val keyed2 = Curation.curateAuditKeyed(docs2, "doc_id", "text",
        minQuality = 0.2, jaccardThreshold = 0.2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
    assert(keyed2(4L)._1 == "kept" && keyed2(4L)._2 == Some(4L))
    assert(keyed2(11L)._1 == "near_dup" && keyed2(11L)._2.isEmpty)
  }

  test("nearDedupKeepBy keeps the highest-priority cluster member") {
    import org.apache.spark.sql.functions.length
    val docs = Seq(
      (1L, "short"), (2L, "a much longer duplicate text"), (3L, "mid text"),
      (9L, "untouched loner")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // one cluster {1,2,3}
    val kept = Dedup.nearDedupKeepBy(docs, "doc_id", pairs, length(col("text")))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L)) // longest member wins; loner survives
  }

  test("keep-best plumbing: nearDedup(priority) and curate(keepBestQuality)") {
    // identical texts guarantee an LSH pair; priority = doc_id pins the
    // fold branches (swapped branches would keep the lowest id here)
    val dup = Seq((1L, "same text in both documents of this pair"),
                  (2L, "same text in both documents of this pair"),
                  (9L, "an entirely different untouched loner document"))
      .toDF("doc_id", "text")
    val defKept = Dedup.nearDedup(dup, "doc_id", "text", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(defKept == Set(1L, 9L)) // default: lowest id
    val priKept = Dedup.nearDedup(dup, "doc_id", "text", 0.5,
        priority = Some(col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    assert(priKept == Set(2L, 9L)) // highest priority wins

    // curate: the near-dup cluster's higher-quality member is NOT the
    // lowest id — keepBestQuality flips which one survives
    val base = "the cat and the dog is on a mat in the house with a hat"
    val docs = Seq((1L, base), (4L, base + " extra")).toDF("doc_id", "text")
    val lowId = Curation.curate(docs, "doc_id", "text",
      minQuality = 0.2, jaccardThreshold = 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(lowId == Set(1L))
    val best = Curation.curate(docs, "doc_id", "text",
      minQuality = 0.2, jaccardThreshold = 0.2, keepBestQuality = true)
      .select("doc_id", "quality").collect()
    assert(best.map(_.getLong(0)).toSet == Set(4L)) // longer -> higher quality
    assert(best.head.getDouble(1) > 0.6)
  }

  test("dsir: grams frequent in the target slice score above absent ones") {
    val docs = Seq(
      (0L, "aaaa"),  // target
      (1L, "aaaa"),  // raw doc made of target-frequent grams
      (2L, "zzzz"),  // raw doc with grams the target never saw
      (3L, "x")      // too short for a bigram
    ).toDF("doc_id", "text")
    val w = TextFunctions.dsirLogWeights(docs, "doc_id", "text",
        col("doc_id") === 0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(w(1L)._1 == 3 && w(2L)._1 == 3)
    assert(w(1L)._2.get > w(2L)._2.get)
    assert(w(3L) == ((0L, None)))
    // broadcast-counts path is value-identical to the window path
    val wb = TextFunctions.dsirLogWeights(docs, "doc_id", "text",
        col("doc_id") === 0, broadcastCounts = true)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(wb == w)
  }

  test("row-local postings == composed explode/agg/window form (incl. whitespace runs)") {
    val rnd = new scala.util.Random(3)
    val words = Vector("apple", "banana", "cherry", "", " ", "fig\tgrape", "x")
    def doc() = (0 until 1 + rnd.nextInt(15))
      .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val corpus = ((0L until 40L).map(i => (i, doc())) :+ (98L, "") :+ (99L, " \t\n "))
      .toDF("doc_id", "text")
    val rowLocal = Retrieval.postings(corpus, "doc_id", "text").collect().toSet
    val composed = ComposedForms.postings(corpus, "doc_id", "text").collect().toSet
    assert(rowLocal == composed)
    // the row-local build plans NO exchange for the postings table
    val plan = Retrieval.postings(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"postings must be map-only:\n$plan")
  }

  test("pruned search == unpruned == one-call on random corpora (property)") {
    val rnd = new scala.util.Random(29)
    val words = Vector("ant", "bee", "cat", "dog", "eel", "fox", "gnu",
      "hen", "ibis", "jay")
    def doc(len: Int) = (0 until len)
      .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    for (trial <- 1 to 3) {
      val corpus = (0L until 50L).map(i => (i, doc(2 + rnd.nextInt(10))))
        .toDF("doc_id", "text")
      val queries = (100L to 103L).map(i => (i, doc(3))).toDF("qid", "qtext")
      val (post, stats) = Retrieval.buildPostings(corpus, "doc_id", "text")
      val plain = Retrieval.searchPostings(post, stats,
        queries, "qid", "qtext", k = 5).collect().toSet
      val prunedR = Retrieval.searchPostingsPruned(post, stats,
        queries, "qid", "qtext", k = 5).collect().toSet
      val oneCall = Retrieval.bm25TopK(corpus, "doc_id", "text",
        queries, "qid", "qtext", k = 5).collect().toSet
      assert(prunedR == plain && plain == oneCall, s"trial $trial diverged")
      assert(oneCall.nonEmpty)
    }
  }

  test("normalized index: build+search == one-call; update == build-on-union") {
    val rnd = new scala.util.Random(11)
    val words = Vector("apple", "banana", "cherry", "date", "fig", "grape", "kiwi")
    def doc(len: Int) = (0 until len).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val all = (0L until 60L).map(i => (i, doc(3 + rnd.nextInt(12)))).toDF("doc_id", "text")
    val queries = (100L to 102L).map(i => (i, doc(4))).toDF("qid", "qtext")

    val expected = Retrieval.bm25TopK(all, "doc_id", "text",
      queries, "qid", "qtext", k = 7).orderBy("query_id", "rank").collect().toSeq

    val (p, t, s) = Retrieval.buildPostingsNorm(all, "doc_id", "text")
    val normAll = Retrieval.searchPostingsNorm(p, t, s,
      queries, "qid", "qtext", k = 7).orderBy("query_id", "rank").collect().toSeq
    assert(normAll == expected)

    val (p0, t0, s0) = Retrieval.buildPostingsNorm(
      all.filter(col("doc_id") < 30), "doc_id", "text")
    val (p1, t1, s1) = Retrieval.updatePostingsNorm(p0, t0, s0,
      all.filter(col("doc_id") >= 30), "doc_id", "text")
    val updated = Retrieval.searchPostingsNorm(p1, t1, s1,
      queries, "qid", "qtext", k = 7).orderBy("query_id", "rank").collect().toSeq
    assert(updated == expected)

    // the update's postings side is append-only: the archive postings
    // survive row-identical inside the merged index
    val archiveRows = p0.collect().toSet
    val mergedRows = p1.collect().toSet
    assert(archiveRows.subsetOf(mergedRows))
  }
}
