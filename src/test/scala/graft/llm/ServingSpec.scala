package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Positional-index serving (phrase, proximity) and vector-space
  * scoring: each operator must equal a brute-force definition computed
  * directly on the token lists / term vectors.
  */
class ServingSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def toks(s: String): Vector[String] =
    s.split("\\s+").filter(_.nonEmpty).toVector

  private def post(docs: Seq[(Long, String)]) =
    Retrieval.positionalPostings(docs.toDF("doc_id", "text"),
      "doc_id", "text")

  private def brutePhrase(docs: Seq[(Long, String)],
                          phrase: Seq[String]): Set[(Long, Long)] =
    (for {
      (id, s) <- docs
      w = toks(s)
      i <- 0 to w.length - phrase.length
      if w.slice(i, i + phrase.length) == phrase
    } yield (id, i.toLong)).toSet

  test("phraseMatches == brute sliding window, incl. overlapping and repeated-term phrases") {
    val docs = Seq(
      (1L, "a b c a b c a"),
      (2L, "a b a b a"),
      (3L, "c c c"),
      (4L, "a b"),
      (5L, "x y z a b c"))
    for (phrase <- Seq(Seq("a", "b", "c"), Seq("b", "c", "a"),
        Seq("a", "b", "a"), Seq("c", "c"), Seq("a"), Seq("q"))) {
      val got = Retrieval.phraseMatches(post(docs), phrase)
        .as[(Long, Long)].collect().toSet
      assert(got == brutePhrase(docs, phrase), s"phrase=$phrase")
    }
  }

  test("phraseMatches == brute on seeded random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("t0", "t1", "t2", "t3")
    for (seed <- 1 to 3) {
      val docs = (0L until 30L).map(i =>
        (i, Vector.fill(3 + rnd.nextInt(20))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val phrase = Seq.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.size)))
      val got = Retrieval.phraseMatches(post(docs), phrase)
        .as[(Long, Long)].collect().toSet
      assert(got == brutePhrase(docs, phrase), s"seed=$seed phrase=$phrase")
    }
  }

  test("proximityPairs == brute position pairs within the window") {
    val docs = Seq(
      (1L, "a x x b a b"),
      (2L, "a x x x x b"),
      (3L, "b a"),
      (4L, "a a a"))
    val got = Retrieval.proximityPairs(post(docs), "a", "b", window = 3)
      .select("doc_id", "pos_a", "pos_b")
      .as[(Long, Long, Long)].collect().toSet
    val expect = (for {
      (id, s) <- docs
      w = toks(s)
      (ta, pa) <- w.zipWithIndex if ta == "a"
      (tb, pb) <- w.zipWithIndex if tb == "b"
      if math.abs(pa - pb) <= 3
    } yield (id, pa.toLong, pb.toLong)).toSet
    assert(got == expect)
  }

  test("tfidfCosineTopK: self-query ranks itself first at cos 1.0; order == brute cosine") {
    val docs = Seq(
      (0L, "alpha beta gamma alpha"),
      (1L, "alpha beta delta"),
      (2L, "gamma gamma epsilon"),
      (3L, "zeta eta theta"),
      (4L, "alpha beta gamma alpha zeta"))
    val df = docs.toDF("doc_id", "text")
    val got = Retrieval.tfidfCosineTopK(df, "doc_id", "text",
        df.filter(col("doc_id") === 0L), "doc_id", "text", k = 5)
      .orderBy("rank")
      .as[(Long, Long, Long, Double)].collect()
    assert(got.head._2 == 0L && got.head._4 == 1.0)
    // brute cosine over tf·ln(N/df) vectors (N = 5 docs)
    val n = docs.size.toDouble
    val tf = docs.map { case (id, s) =>
      id -> toks(s).groupBy(identity).view.mapValues(_.size.toDouble).toMap
    }.toMap
    val dfreq = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size.toDouble).toMap
    def vec(id: Long): Map[String, Double] =
      tf(id).map { case (t, f) => t -> f * math.log(n / dfreq(t)) }
    def cos(a: Map[String, Double], b: Map[String, Double]): Double = {
      val dot = a.keySet.intersect(b.keySet).toSeq
        .map(t => a(t) * b(t)).sum
      dot / (math.sqrt(a.values.map(x => x * x).sum) *
        math.sqrt(b.values.map(x => x * x).sum))
    }
    val expectOrder = docs.map(_._1)
      .filter(id => vec(0L).keySet.intersect(vec(id).keySet).nonEmpty)
      .sortBy(id => (-cos(vec(0L), vec(id)), id))
    assert(got.map(_._2).toSeq == expectOrder)
  }

  test("tfidfCosineTopK: OOV query terms carry zero weight, not an error") {
    val q = Seq((99L, "alpha never_seen_term")).toDF("doc_id", "text")
    val df2 = Seq((0L, "alpha beta"), (1L, "gamma delta")).toDF("doc_id", "text")
    val got2 = Retrieval.tfidfCosineTopK(df2, "doc_id", "text",
        q, "doc_id", "text", k = 5)
      .as[(Long, Long, Long, Double)].collect()
    assert(got2.map(_._2).toSet == Set(0L))
    assert(got2.head._4 > 0.0)
  }

  test("tfidf build/search split: pruned == unpruned == one-call; " +
      "the In-filter reaches a persisted weights scan") {
    val docs = Seq(
      (0L, "alpha beta gamma alpha"),
      (1L, "alpha beta delta"),
      (2L, "gamma gamma epsilon"),
      (3L, "zeta eta theta"),
      (4L, "alpha beta gamma alpha zeta")).toDF("doc_id", "text")
    val q = docs.filter(col("doc_id") === 0L)
    val oneCall = Retrieval.tfidfCosineTopK(docs, "doc_id", "text",
      q, "doc_id", "text", k = 5).collect().toSeq
    val (w, nrm, termDf, stats) = Retrieval.buildTfidf(docs, "doc_id", "text")
    assert(Retrieval.searchTfidf(w, nrm, termDf, stats,
      q, "doc_id", "text", k = 5).collect().toSeq.sortBy(_.getLong(2)) ==
      oneCall.sortBy(_.getLong(2)))
    assert(Retrieval.searchTfidfPruned(w, nrm, termDf, stats,
      q, "doc_id", "text", k = 5).collect().toSeq.sortBy(_.getLong(2)) ==
      oneCall.sortBy(_.getLong(2)))
    // persisted index: the term In-filter must reach the parquet scan
    val dir = graft.TempDirs.dir("tfidfw").toString
    w.write.mode("overwrite").parquet(dir)
    val wDisk = SharedSpark.spark.read.parquet(dir)
    val plan = Retrieval.searchTfidfPruned(wDisk, nrm, termDf, stats,
        q, "doc_id", "text", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term pruning must push into the weights scan:\n$plan")
  }

  test("trapReport: each fixture arm fires exactly its rule") {
    import graft.llm.{UrlFunctions => U}
    val urls = Seq(
      (1L, "http://site.example/a/b/page1"),                    // benign
      (2L, "http://cal.example/2026/01/05/2026/01/05/item"),    // seg repeats
      (3L, "http://s.example/p?phpsessid=tok3&x=1"),            // session
      (4L, "http://f.example/q?a0=1&a1=1&a2=1&a3=1&a4=1&a5=1&a6=1&a7=1&a8=1&a9=1"), // params
      (5L, "http://d.example/p/p/q/r/s/t/u/v/w/x/y/leaf"),      // depth 12
      (6L, "http://ok.example/one/two?a=1&b=2")                 // benign with params
    ).toDF("doc_id", "url")
    val got = U.trapReport(urls, "url")
      .select("doc_id", "depth", "seg_repeats", "n_params", "has_session",
        "is_trap")
      .as[(Long, Long, Long, Long, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == (1L, 3L, 0L, 0L, false, false))
    assert(got(2L)._3 >= 3L && got(2L)._6)
    assert(got(3L)._5 && got(3L)._6)
    assert(got(4L)._4 == 10L && got(4L)._6)
    assert(got(5L)._2 == 12L && got(5L)._6)
    assert(got(6L) == (6L, 2L, 0L, 2L, false, false))
  }
}
