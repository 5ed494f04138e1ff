package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.table
import graft.llm.{BpeTrain, Curation, Dedup, Mixing, Multimodal, NgramLm, Packing, QualityClassifier, Retrieval, Robots, Similarity, TextFunctions, UnigramLm, UrlFunctions, Warc, WordPiece}

/** LLM-training-data pipeline coverage queries over the driver's
  * `documents` and `embeddings` tables, with DuckDB oracles.
  *
  * Everything hash-based goes through [[TextFunctions.hash64]]
  * (md5-hex -> long), which both engines compute identically — the
  * property that makes MinHash signatures, LSH bands, SimHash bits, and
  * fingerprints oracle-checkable under fixed seeds (the VERDICT r1 ask).
  */
object QueriesLLM {

  /** The documents corpus with deterministic injected duplicates: every
    * doc_id < 50 appears again at doc_id + 10000 (exact-dup ground truth
    * for the dedup operators — the raw table has no duplicate texts).
    */
  def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  /** First-8-vectors codebook — collected to the driver like a trained
    * codebook would be; shared by every IVF/PQ query so the `vec_id < 8`
    * convention lives in ONE place (matching the oracles' `cents` CTEs).
    */
  def firstKCodebook(emb: DataFrame): Array[Array[Float]] =
    emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)

  /** [[firstKCodebook]] as an array-of-arrays literal. */
  def firstKCodebookLit(emb: DataFrame): Column =
    array(firstKCodebook(emb).map(v =>
      array(v.toIndexedSeq.map(lit(_)): _*)).toIndexedSeq: _*)

  private val dupCorpusSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50
      |)""".stripMargin

  /** The rank-eval metric chain over a scorer's `ranked` CTE
    * (query_id, doc_id, rank) against the shared graded-qrels fixture
    * — written ONCE and composed after any scorer's chain
    * (`q_rank_eval` = BM25, `q_rank_eval_tfidf` = vector-space), so a
    * metric tweak can never diverge the scorers' eval contracts.
    */
  private def rankEvalMetricSql(k: Int): String =
    s""", topk AS (
       |  SELECT query_id, doc_id, rank FROM ranked WHERE rank <= $k
       |), qr AS (
       |  SELECT d.doc_id, qq.query_id,
       |    CASE WHEN (d.doc_id + qq.query_id * 7) % 5 = 0
       |      THEN (d.doc_id % 3 + 1)::DOUBLE ELSE 0.0 END AS rel
       |  FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
       |  CROSS JOIN (SELECT unnest([0, 1, 2])::BIGINT AS query_id) qq
       |), rscored AS (
       |  SELECT t.query_id, t.doc_id, t.rank, coalesce(qr.rel, 0.0) AS rel
       |  FROM topk t LEFT JOIN qr
       |    ON t.query_id = qr.query_id AND t.doc_id = qr.doc_id
       |), runagg AS (
       |  SELECT query_id,
       |    sum((floor(rel / (floor(ln(rank + 1.0) * 1000000000 + 0.5) / 1000000000)
       |      * 1000000000 + 0.5) / 1000000000)::DECIMAL(38,18))::DOUBLE AS dcg,
       |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
       |    min(CASE WHEN rel > 0 THEN rank END) AS frank
       |  FROM rscored GROUP BY 1
       |), ideal AS (
       |  SELECT query_id, rel, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, doc_id) AS ir
       |  FROM qr WHERE rel > 0
       |), idealagg AS (
       |  SELECT query_id,
       |    sum((CASE WHEN ir <= $k
       |      THEN floor(rel / (floor(ln(ir + 1.0) * 1000000000 + 0.5) / 1000000000)
       |        * 1000000000 + 0.5) / 1000000000
       |      ELSE 0.0 END)::DECIMAL(38,18))::DOUBLE AS idcg,
       |    count(*) AS nrel
       |  FROM ideal GROUP BY 1
       |)
       |SELECT r.query_id,
       |  round(CASE WHEN i.idcg > 0 THEN r.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg,
       |  round(CASE WHEN i.nrel > 0 THEN r.hits::DOUBLE / i.nrel::DOUBLE
       |    ELSE 0.0 END, 6) AS recall,
       |  round(coalesce(floor(1.0 / frank::DOUBLE * 1000000000 + 0.5) / 1000000000,
       |    0.0), 6) AS mrr
       |FROM runagg r LEFT JOIN idealagg i USING (query_id)""".stripMargin

  /** The coded IVF-PQ replay up to a `ranked0` CTE (query_id,
    * neighbor_id, score, rank) for queries `[qLo, qHi)` — written once
    * (the bm25ChainSql pattern), shared by `q_ann_ivfpq` and
    * `q_rank_eval_dense`'s metric chain so the eval can never drift
    * from the search it claims to score.
    */
  private def ivfPqRankedSql(qLo: Int, qHi: Int,
                             idxBound: Long = Long.MaxValue): String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
       |), idx AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < $idxBound
       |), subs AS (SELECT unnest(range(4)) AS j),
       |assigned AS (
       |  SELECT e.vec_id, c.cid,
       |    list_sum(list_transform(list_zip(e.embedding, c.cv),
       |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
       |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
       |       * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE)))) AS ccos
       |  FROM idx e CROSS JOIN cents c
       |), cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cid) AS r
       |    FROM assigned) WHERE r = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cid) AS r
       |    FROM assigned WHERE vec_id >= $qLo AND vec_id < $qHi) WHERE r <= 2
       |), dists AS (
       |  SELECT e.vec_id, s.j, c.cid,
       |    list_sum(list_transform(
       |      list_zip(e.embedding[s.j*16+1 : s.j*16+16], c.cv[s.j*16+1 : s.j*16+16]),
       |      p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))) AS d2
       |  FROM idx e CROSS JOIN subs s CROSS JOIN cents c
       |), codes AS (
       |  SELECT vec_id, j, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY d2 ASC, cid) AS r FROM dists) WHERE r = 1
       |), lut AS (
       |  SELECT q.vec_id AS query_id, s.j, c.cid,
       |    list_sum(list_transform(
       |      list_zip(q.embedding[s.j*16+1 : s.j*16+16], c.cv[s.j*16+1 : s.j*16+16]),
       |      p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS ip
       |  FROM embeddings q CROSS JOIN subs s CROSS JOIN cents c
       |  WHERE q.vec_id >= $qLo AND q.vec_id < $qHi
       |), scored AS (
       |  SELECT l.query_id, n.vec_id AS neighbor_id,
       |    max(CASE WHEN l.j = 0 THEN ip END) + max(CASE WHEN l.j = 1 THEN ip END)
       |      + max(CASE WHEN l.j = 2 THEN ip END) + max(CASE WHEN l.j = 3 THEN ip END) AS score
       |  FROM codes n JOIN lut l ON n.j = l.j AND n.code = l.cid
       |  JOIN cells cl ON cl.vec_id = n.vec_id
       |  JOIN probes p ON p.query_id = l.query_id AND p.cell = cl.cell
       |  WHERE n.vec_id <> l.query_id
       |  GROUP BY 1, 2
       |), ranked0 AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored
       |)""".stripMargin

  /** BM25 replay up to the `ranked` CTE — shared by `q_bm25_topk`
    * (and its indexed/pruned/incremental aliases) and `q_rank_eval`'s
    * metric chain (written once).
    */
  private val bm25ChainSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1
      |), stats AS (
      |  SELECT count(*)::DOUBLE AS n_docs, sum(dl) / count(*)::DOUBLE AS avgdl FROM dl
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |), q AS (
      |  SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3
      |), contrib AS (
      |  SELECT q.query_id, tf.doc_id,
      |    floor((floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * 1000000000 + 0.5) / 1000000000)
      |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
      |      * 1000000 + 0.5) / 1000000 AS c
      |  FROM q JOIN tf USING (term) JOIN dfreq d USING (term)
      |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
      |), scored AS (
      |  SELECT query_id, doc_id, sum(c::DECIMAL(28,12))::DOUBLE AS score
      |  FROM contrib GROUP BY 1, 2
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS rank
      |  FROM scored
      |)""".stripMargin

  /** tf-idf cosine replay — shared by `q_tfidf_cosine` (one-call) and
    * `q_tfidf_indexed` (build/search split + term-pruned scan): both
    * paths compute the same trees by construction. Split as chain +
    * final select so `q_rank_eval_tfidf` can pipe the `ranked` CTE
    * into the metric chain (the bm25ChainSql pattern).
    */
  private val tfidfChainSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
      |), stats AS (
      |  SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM tf
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |), w AS (
      |  SELECT doc_id, term,
      |    tf::DOUBLE * (floor(ln(s.n_docs / df::DOUBLE) * 1000000000 + 0.5) / 1000000000) AS w
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
      |), nrm AS (
      |  SELECT doc_id, sqrt(sum((w * w)::DECIMAL(38,18))::DOUBLE) AS nrm
      |  FROM w GROUP BY 1
      |), q AS (
      |  SELECT doc_id AS query_id, term, w AS qw FROM w WHERE doc_id < 3
      |), qn AS (
      |  SELECT doc_id AS query_id, nrm AS qnrm FROM nrm WHERE doc_id < 3
      |), dots AS (
      |  SELECT q.query_id, w.doc_id, sum((q.qw * w.w)::DECIMAL(38,18))::DOUBLE AS dot
      |  FROM q JOIN w USING (term) GROUP BY 1, 2
      |), scored AS (
      |  SELECT query_id, doc_id, round(dot / (qnrm * nrm), 6) AS cos
      |  FROM dots JOIN nrm USING (doc_id) JOIN qn USING (query_id)
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, doc_id) AS rank
      |  FROM scored
      |)""".stripMargin

  private val tfidfOracleSql = tfidfChainSql +
    "\nSELECT query_id, doc_id, rank::BIGINT AS rank, cos" +
    "\nFROM ranked WHERE rank <= 5"

  /** The documents corpus with deterministic injected TRUNCATIONS:
    * every doc_id < 50 reappears at doc_id + 20000 cut to its first 15
    * tokens — the stub's shingles are ~all contained in its source
    * (containment ≈ 1) while its Jaccard against the source is only
    * ~13/|full| ≈ 0.2 (far below any dedup threshold). The asymmetric
    * ground truth [[q_containment_join]] must recover and a symmetric
    * Jaccard join structurally cannot.
    */
  def contCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat_ws(" ",
            slice(TextFunctions.tokens(col("text")), 1, 15)).as("text")))
  }

  private val contCorpusSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 20000 AS doc_id,
      |    array_to_string(list_filter(string_split(text, ' '),
      |      t -> length(t) > 0)[1:15], ' ') AS text
      |  FROM documents WHERE doc_id < 50
      |)""".stripMargin

  /** Banded candidate pairs + connected-components closure over `bands`
    * — the candidate graph both clustering oracles (`q_dedup_cluster`,
    * `q_dedup_keep_best`) must model IDENTICALLY; one definition so a
    * future change cannot diverge them. Ends with
    * `clusters(id, cluster_id)`.
    */
  private val ccClustersSql =
    """, pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      |), edges AS (
      |  SELECT id_a, id_b FROM pairs
      |  UNION
      |  SELECT id_b AS id_a, id_a AS id_b FROM pairs
      |), reach AS (
      |  SELECT id_a AS id, id_a AS label FROM edges
      |  UNION
      |  SELECT e.id_a AS id, r.label FROM edges e JOIN reach r ON e.id_b = r.id
      |), clusters AS (
      |  SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
      |)""".stripMargin

  /** Shared shingle/minhash/band CTEs over `corpus` (mirrors
    * Dedup.minhashSignatures/lshBandKeys semantics exactly: word 3-gram
    * shingles, 16 universal hashes h_i(x) = (a_i x + b_i) mod p over the
    * md5-derived 60-bit shingle hash, 4 bands of 4 rows keyed by md5).
    */
  private val minhashSql =
    """, toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w FROM corpus
      |), sh AS (
      |  SELECT doc_id, CASE WHEN len(w) >= 3
      |    THEN list_transform(generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2])
      |    ELSE [] END AS shingles
      |  FROM toks
      |), hashes AS (
      |  SELECT doc_id, list_transform(shingles, s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS hs FROM sh
      |), sig AS (
      |  SELECT doc_id, seed,
      |    coalesce(list_min(list_transform(hs,
      |      h -> (((2*seed+131)*(h % 2147483647) + (7*seed+87)) % 2147483647))), 2147483647) AS mh
      |  FROM hashes, unnest(generate_series(0,15)) t(seed)
      |), bands0 AS (
      |  SELECT doc_id, seed//4 AS band, md5(string_agg(mh::VARCHAR, '_' ORDER BY seed)) AS bk
      |  FROM sig GROUP BY doc_id, seed//4
      |), bands AS (
      |  -- mirror Dedup.lshCandidatePairs' maxBucket=1000 cap: an
      |  -- oversized bucket emits NO pairs on the Spark side
      |  SELECT doc_id, band, bk FROM (
      |    SELECT *, count(*) OVER (PARTITION BY band, bk) AS bsz FROM bands0)
      |  WHERE bsz <= 1000
      |)""".stripMargin

  // ------------------------------------------------------------------
  // Dedup
  // ------------------------------------------------------------------

  /** Exact dedup groups: digest -> canonical id + dup count. */
  def q_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(dupCorpus(spark, dir), "doc_id", "text")

  /** Exact dedup keep-set via left_semi (payload never shuffles). */
  def q_dedup_exact_keep(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(dupCorpus(spark, dir), "doc_id", "text")
      .select("doc_id")

  /** MinHash signatures under fixed seeds, one row per (doc, seed). */
  def q_minhash_sig(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(dupCorpus(spark, dir), "doc_id", "text")
      .select(col("doc_id"),
        posexplode_outer(col("sig")).as(Seq("seed", "minhash")))
      .withColumn("seed", col("seed").cast("long"))

  /** LSH banding candidate pairs (bucketed — never all-pairs). */
  def q_lsh_pairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidatePairs(dupCorpus(spark, dir), "doc_id", "text")

  /** FAST-mode MinHash (XXH64 instead of md5) — the pure-Spark throughput
    * path — oracled on its hash-identity-INDEPENDENT structure: xxhash64
    * has no DuckDB twin, so raw signature values stay spec-pinned
    * elementwise by NativeTextHashSpec, while this query emits what any
    * correct MinHash family must agree on and DuckDB recomputes from the
    * portable md5 family: the signature length, the exact-text twin
    * partition, signature equality within each twin class (exact
    * duplicates MUST collide under any family), and LSH recall on exact
    * duplicates — every doc's count of candidate partners with IDENTICAL
    * text must equal its twin-class size minus one, because equal
    * signatures share every band key. (Unrestricted partner counts are
    * deliberately NOT emitted: band collisions between near-identical
    * texts are probabilistic per family, so the md5 and xx graphs differ
    * on borderline pairs.)
    */
  def q_minhash_fast(spark: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(spark, dir)
    // one signature DEFINITION feeds both the per-doc sig columns and
    // the LSH banding (the subtree still evaluates once per consumer —
    // a lazy checkpoint was measured a wash at sf0.1, the write cost
    // offsetting the saved pass; at larger corpora persist `sigs`)
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", fast = true)
    // twin windows key on md5(text), not raw text: the shuffle key and
    // sort comparator become fixed 32-char digests instead of
    // arbitrary-length documents (same trick as Dedup.paragraphDedup);
    // md5 equality == text equality for grouping purposes, so the
    // window output — and the oracle hash — is unchanged (VERDICT r8 #7)
    val wText = Window.partitionBy(col("__th"))
    val wHead = wText.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pairs = Dedup.lshCandidatePairsFromSigs(sigs, "doc_id")
    val exactPartners = pairs
      .join(corpus.select(col("doc_id").as("id_a"), md5(col("text")).as("ha")), "id_a")
      .join(corpus.select(col("doc_id").as("id_b"), md5(col("text")).as("hb")), "id_b")
      .filter(col("ha") === col("hb"))
    val partners = exactPartners
      .select(col("id_a").as("doc_id"), col("id_b").as("p"))
      .unionByName(exactPartners.select(col("id_b").as("doc_id"), col("id_a").as("p")))
      .groupBy("doc_id").agg(countDistinct(col("p")).as("np"))
    corpus.join(sigs, "doc_id")
      .withColumn("__th", md5(col("text")))
      .select(col("doc_id"),
        size(col("sig")).cast("long").as("sig_len"),
        min(col("doc_id")).over(wText).as("twin_id"),
        count(lit(1)).over(wText).as("twin_n"),
        (col("sig") <=> first(col("sig")).over(wHead)).as("sig_matches_twin"))
      .join(partners, Seq("doc_id"), "left")
      .withColumn("n_exact_partners", coalesce(col("np"), lit(0L)))
      .select("doc_id", "sig_len", "twin_id", "twin_n", "sig_matches_twin",
        "n_exact_partners")
  }

  /** Keep-best near-dedup: same LSH candidate graph as q_dedup_cluster,
    * but each cluster keeps its highest-PRIORITY member (priority =
    * doc_id % 97, an arbitrary deterministic stand-in for a quality
    * score) instead of its lowest id — the production keep rule.
    */
  def q_dedup_keep_best(spark: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(spark, dir)
    val pairs = Dedup.lshCandidatePairs(corpus, "doc_id", "text")
    Dedup.nearDedupKeepBy(corpus, "doc_id", pairs,
        pmod(col("doc_id"), lit(97L)))
      .select(col("doc_id"))
  }

  /** Near-dup verification: exact shingle-set Jaccard on the LSH
    * candidates, thresholded. Each document's distinct shingle-hash set is
    * computed ONCE ([[Dedup.shingleSet]]) and joined to the pairs — the
    * per-pair work is two long-array set ops, not a re-shingling of both
    * texts. Hash collisions are deterministic in both engines, so the
    * hash-set Jaccard is exactly oracle-comparable.
    */
  def q_near_dup_jaccard(spark: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(spark, dir)
    val pairs = Dedup.lshCandidatePairs(corpus, "doc_id", "text")
    val sets = corpus.select(col("doc_id"), Dedup.shingleSet(col("text")).as("ds"))
    pairs
      .join(sets.select(col("doc_id").as("id_a"), col("ds").as("da")), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("ds").as("db")), Seq("id_b"))
      .withColumn("jac", round(Dedup.jaccardBySets(col("da"), col("db")), 6))
      .filter(col("jac") >= 0.2)
      .select("id_a", "id_b", "jac")
  }

  /** EXACT threshold Jaccard join over the duplicated corpus
    * ([[graft.llm.Dedup.jaccardJoin]] — prefix filtering, SSJoin
    * family): ALL pairs with shingle-set Jaccard >= 0.5, no banding
    * miss-rate. The oracle computes the ground truth by brute
    * inverted-index + exact Jaccard, so the hash compare proves the
    * prefix-pruned candidate generation lost nothing — the operator's
    * entire claim.
    */
  def q_jaccard_join(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardJoin(dupCorpus(spark, dir), "doc_id", "text",
      threshold = 0.5)

  /** EXACT threshold CONTAINMENT join over the truncation corpus
    * ([[graft.llm.Dedup.containmentJoin]]): ALL ordered pairs with
    * |A∩B|/|A| >= 0.8 — the quote/truncation/partial-mirror duplicates
    * symmetric Jaccard structurally misses (the injected 15-token
    * stubs score containment ≈ 1 in their sources at Jaccard ≈ 0.2).
    * The oracle computes ground truth by brute inverted index + exact
    * containment, so the hash compare proves the asymmetric prefix
    * pruning (contained-side pigeonhole prefix vs full container
    * index) lost nothing.
    */
  def q_containment_join(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentJoin(contCorpus(spark, dir), "doc_id", "text",
      threshold = 0.8)

  /** CONTAINMENT dedup over the truncation corpus
    * ([[graft.llm.Dedup.containmentDedup]]): documents contained
    * (≥ 0.8) in a strictly larger document drop — the injected
    * 15-token stubs collapse into their sources; the sources survive.
    * Oracle replays the pair generation brute-force plus the
    * larger-wins/smaller-id keep rule and anti-joins the corpus.
    */
  def q_dedup_containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentDedup(contCorpus(spark, dir), "doc_id", "text",
      threshold = 0.8)
      .select("doc_id")

  /** CORPUS VERSION DIFF ([[graft.llm.Snapshots.corpusDiff]]): old =
    * the documents table; new = a deterministic re-crawl stand-in
    * (ids < 25 removed, 25..49 re-extracted to their first 15 tokens =
    * changed, ids + 30000 added for ids < 20, everything else
    * unchanged) — every status arm populated. The diff is digest-grain
    * (16 B/doc md5 at the scan; payloads never join), full-outer on
    * id; the oracle replays digests and the status CASE.
    */
  def q_corpus_diff(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    val oldC = d.select(col("doc_id"), col("text"))
    val newC = d.filter(col("doc_id") >= 25)
      .select(col("doc_id"),
        // null guard (review finding r17): concat_ws over a null-text
        // tokenization yields '' in Spark but NULL in the oracle's
        // array_to_string — only re-extract rows that HAVE text, so a
        // hypothetical null-text fixture row stays 'unchanged' in both
        when(col("doc_id") < 50 && col("text").isNotNull,
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 15)))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") < 20)
        .select((col("doc_id") + 30000).as("doc_id"), col("text")))
    graft.llm.Snapshots.corpusDiff(oldC, newC, "doc_id", "text")
  }

  /** The shared graded-qrels fixture both eval queries score against
    * (written once — the rankEvalMetricSql twin).
    */
  private def evalQrels(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"))
      .crossJoin(spark.range(3).select(col("id").as("query_id")))
      .withColumn("rel",
        when((col("doc_id") + col("query_id") * 7) % 5 === 0,
          (col("doc_id") % 3 + 1).cast("double")).otherwise(lit(0.0)))

  /** Retrieval RANK EVALUATION ([[Retrieval.rankEval]]): NDCG@5,
    * recall@5, MRR@5 of the BM25 run (`q_bm25_topk`'s exact trees)
    * against a deterministic graded qrels fixture — the eval harness
    * that closes the retrieval loop, hash-exact end to end (round9
    * ln-form DCG gains, decimal sums, 1e-6 ratios).
    */
  def q_rank_eval(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val run = Retrieval.bm25TopK(docs, "doc_id", "text",
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
    Retrieval.rankEval(run, evalQrels(spark, dir), k = 5)
  }

  /** [[q_rank_eval]]'s metric chain over the VECTOR-SPACE scorer —
    * same qrels, same trees: the two eval rows together say which
    * scorer fits this corpus, which is the whole point of carrying an
    * eval harness.
    */
  def q_rank_eval_tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val run = Retrieval.tfidfCosineTopK(docs, "doc_id", "text",
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
    Retrieval.rankEval(run, evalQrels(spark, dir), k = 5)
  }

  /** The THIRD corner of the serving-eval triangle (VERDICT r17 #7):
    * [[Retrieval.rankEval]]'s metric chain over the DENSE scorer — the
    * persisted coded-index ANN search
    * ([[Similarity.buildIvfPqIndex]] → [[Similarity.ivfPqTopKCoded]],
    * the ~10 B/row call shape a 100 TB deployment runs) — against the
    * SAME graded qrels that score BM25 and tf-idf, with the same query
    * ids (0-2). Three eval rows per query id across the three oracles
    * say which scorer family fits this corpus — the whole point of
    * carrying an eval harness.
    */
  def q_rank_eval_dense(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val base = firstKCodebook(emb)
    val m = 4
    val sub = 16
    val cb = Array.tabulate(m, base.length)((j, i) =>
      base(i).slice(j * sub, (j + 1) * sub))
    val queries = emb.filter(col("vec_id") < 3)
      .orderBy("vec_id").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    // judged-only evaluation (the TREC pool convention): the index is
    // the qrels universe (vec_id < 300), so the metrics grade ranking
    // quality within the judged pool instead of scoring unjudged
    // neighbors as misses
    val index = Similarity.buildIvfPqIndex(
      emb.filter(col("vec_id") < 300), "vec_id", "embedding", base, cb)
    val ranking = Similarity.probeRanking(base)
    val run = Similarity.ivfPqTopKCoded(index, "id", "codes", "cell",
        q => ranking(q).take(2), cb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rankEval(run, evalQrels(spark, dir), k = 5)
  }

  /** DATASET CARD: the one-row release summary a corpus ships with —
    * document/source/language counts, token mass and per-doc
    * statistics, the exact distinct-text rate (1 − this = the exact-dup
    * rate), and the language mix headline — ONE aggregation pass over
    * the corpus (count-distincts ride the same Expand, the Expectations
    * one-scan discipline). At 100 TB this is the cheapest honest
    * answer to "what is in this dataset".
    */
  def q_dataset_card(spark: SparkSession, dir: String): DataFrame = {
    val toks = size(TextFunctions.tokens(col("text"))).cast("long")
    table(spark, dir, "documents").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(toks).as("total_tokens"),
      round(avg(toks), 6).as("avg_doc_tokens"),
      max(toks).as("max_doc_tokens"),
      round(countDistinct(md5(col("text"))).cast("double") /
        count(lit(1)), 6).as("distinct_text_rate"),
      round(avg(when(col("lang") === "en", 1.0).otherwise(0.0)), 6)
        .as("frac_en"))
  }

  /** One-pass ingest expectations over the documents table
    * ([[graft.ops.Expectations]] — the Deequ idea, VLDB'18): five
    * declarative rules (null checks, format regex, cross-column
    * consistency) compiled into ONE aggregation pass; the oracle
    * replays every predicate and the 1e-6-rounded violation rates.
    */
  def q_expectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations.{Rule, report}
    report(table(spark, dir, "documents"), Seq(
      Rule("doc_id_nonnull", col("doc_id").isNotNull),
      Rule("text_nonempty", length(col("text")) > 0),
      Rule("lang_nonnull", col("lang").isNotNull),
      Rule("source_format", col("source").rlike("^src[0-9]+$")),
      Rule("n_chars_consistent", col("n_chars") === length(col("text")))))
  }

  /** Aggregate-level metric expectations over documents
    * ([[graft.ops.Expectations.metricReport]]): profile metrics (mean
    * length, source cardinality, max id, an ASCII fraction) each
    * bounds-checked, all in one aggregation pass; values 1e-6-rounded
    * so DuckDB replays them bit-for-bit.
    */
  def q_expectations_metrics(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations.{MetricCheck, metricReport}
    metricReport(table(spark, dir, "documents"), Seq(
      MetricCheck("mean_n_chars", avg(col("n_chars")), 1.0, 100000.0),
      MetricCheck("n_sources", countDistinct(col("source")).cast("double"),
        1.0, 1000.0),
      MetricCheck("max_doc_id", max(col("doc_id")).cast("double"),
        0.0, 1e12),
      MetricCheck("frac_with_digits",
        avg(when(col("text").rlike("[0-9]"), 1.0).otherwise(0.0)),
        0.0, 1.0)))
  }

  /** Guaranteed-complete near-dedup over the duplicated corpus
    * ([[graft.llm.Dedup.nearDedupComplete]]): exact Jaccard pairs at
    * >= 0.5 -> connected components -> keep each cluster's minimum id.
    * The oracle replays brute-force pairs + a recursive-CTE closure,
    * so the hash compare pins the WHOLE chain — complete pair
    * generation, clustering, and the keep rule.
    */
  def q_dedup_complete(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDedupComplete(dupCorpus(spark, dir), "doc_id", "text",
        threshold = 0.5)
      .select("doc_id")

  /** Incremental EXACT near-dup screen
    * ([[graft.llm.Dedup.jaccardDedupAgainst]]): even doc_ids form the
    * archive (indexed via [[graft.llm.Dedup.jaccardIndex]] — the
    * completeness-guaranteed analogue of the band index), odd doc_ids
    * plus 30 verbatim archive copies form the snapshot; survivors are
    * snapshot docs with NO archive partner at Jaccard >= 0.5. The
    * oracle computes brute-force ground truth, so the hash compare
    * proves the fixed-order prefix screen lost nothing cross-corpus.
    */
  def q_jaccard_incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val archive = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    val snapshot = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      .unionByName(archive.filter(col("doc_id") < 60)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val idx = Dedup.jaccardIndex(archive, "doc_id", "text", threshold = 0.5)
    Dedup.jaccardDedupAgainst(snapshot, "doc_id", "text",
        idx, archive, "doc_id", "text", threshold = 0.5)
      .select("doc_id")
  }

  /** Incremental CONTAINMENT screen
    * ([[graft.llm.Dedup.containmentDedupAgainst]], VERDICT r18 #3):
    * even doc_ids form the archive (FULL-list index via
    * [[graft.llm.Dedup.containmentIndex]]), odd doc_ids plus 30
    * TRUNCATIONS of archive docs (their first 12 tokens — the re-crawl
    * stub shape: containment ≈ 1 while Jaccard collapses toward
    * |stub|/|source|) form the snapshot; survivors are snapshot docs
    * contained (≥ 0.8) in NO archived doc. The oracle computes
    * brute-force cross-corpus ground truth, so the hash compare proves
    * the asymmetric prefix-vs-full-index screen lost nothing.
    */
  def q_containment_incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    val archive = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    val stub = concat_ws(" ",
      slice(filter(split(col("text"), " "), t => length(t) > 0), 1, 12))
    val snapshot = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      .unionByName(archive.filter(col("doc_id") < 60)
        .select((col("doc_id") + 100000L).as("doc_id"), stub.as("text")))
    val idx = Dedup.containmentIndex(archive, "doc_id", "text")
    Dedup.containmentDedupAgainst(snapshot, "doc_id", "text",
        idx, archive, "doc_id", "text", threshold = 0.8)
      .select("doc_id")
  }

  /** Near-dup clustering endgame: connected components over the LSH
    * candidate graph (iterative min-label propagation). Oracle-checked via
    * DuckDB's recursive CTE transitive closure — component minima are
    * pure integer facts, so the iterative DataFrame loop must agree
    * exactly.
    */
  def q_dedup_cluster(spark: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(spark, dir)
    val pairs = Dedup.lshCandidatePairs(corpus, "doc_id", "text")
    Dedup.clusterPairs(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** SimHash (32-bit, engine-portable) per document — relational shape
    * (explode token hashes -> 32 sign-sum aggregates -> one projection).
    */
  def q_simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashSignatures(table(spark, dir, "documents"), "doc_id", "text")

  /** Embedding-cosine near-duplicate pairs above 0.35. */
  def q_embed_cosine_dup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(table(spark, dir, "embeddings"), "vec_id",
        "embedding", 0.35)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))

  /** IVF-bucketed near-dup (the scale path): same threshold, pairs
    * generated within nearest-centroid cells only (codebook = first 8
    * vectors, as q_ann_ivf). The oracle replicates cell assignment and
    * the within-cell pair join exactly.
    */
  def q_embed_dup_ivf(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    Dedup.embeddingNearDupsBucketed(emb, "vec_id", "embedding", 0.35,
      firstKCodebookLit(emb))
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  // ------------------------------------------------------------------
  // Similarity search
  // ------------------------------------------------------------------

  /** Brute-force exact cosine top-5 for the first 10 vectors. */
  def q_ann_topk(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos"))
  }

  /** IVF-bucketed ANN through the LIBRARY path ([[Similarity.ivfTopK]]):
    * codebook = the first 8 vectors (collected to the driver like a
    * trained codebook would be), every vector assigned to its nearest
    * cell, each query searching only its own cell, top-3. ivfAssign's
    * first-max tie-break equals the oracle's (ccos desc, cent_id)
    * row_number because centroid array order follows vec_id.
    */
  def q_ann_ivf(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val cents = firstKCodebookLit(emb)
    Similarity.ivfTopK(
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 20), emb,
        "vec_id", "embedding", cents, k = 3)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Random-hyperplane LSH buckets (8 planes) over the embedding corpus —
    * the sign-bit bucketing that gates candidate generation at scale.
    * Deterministic: hyperplane components are md5-derived +-1 and the dot
    * product is a left-to-right fold, so both engines compute identical
    * doubles and identical sign bits.
    */
  def q_ann_hyperplane(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("vec_id"),
        Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))

  // ------------------------------------------------------------------
  // Text analysis
  // ------------------------------------------------------------------

  /** Heuristic language-ID by stopword coverage. */
  def q_text_lang(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        round(TextFunctions.enStopwordRatio(col("text")), 6).as("en_ratio"),
        round(TextFunctions.nlStopwordRatio(col("text")), 6).as("nl_ratio"),
        TextFunctions.langId(col("text")).as("lang_id"))

  /** Quality signals + composite score. */
  def q_text_quality(spark: SparkSession, dir: String): DataFrame = {
    val signals = TextFunctions.qualitySignals(col("text"))
    val base = table(spark, dir, "documents")
    signals.foldLeft(base.select(col("doc_id"), col("text"))) {
        case (df, (name, c)) => df.withColumn(name, c)
      }
      .withColumn("n_chars", col("n_chars").cast("long"))
      .withColumn("n_words", col("n_words").cast("long"))
      .withColumn("mean_word_len", round(col("mean_word_len"), 6))
      .withColumn("punct_ratio", round(col("punct_ratio"), 6))
      .withColumn("stopword_ratio", round(col("stopword_ratio"), 6))
      .withColumn("score", TextFunctions.qualityScore(col("text")))
      .drop("text")
  }

  /** Token counting: whitespace + BPE-ish regex. */
  def q_text_tokens(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.wordCount(col("text")).cast("long").as("n_ws"),
        TextFunctions.regexTokenCount(col("text")).cast("long").as("n_re"))

  /** Rolling polynomial document fingerprint. */
  def q_text_fingerprint(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))

  /** Character-bigram LM novelty scoring against corpus doc frequencies. */
  def q_text_bigram_lm(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.bigramNoveltyStats(table(spark, dir, "documents"),
      "doc_id", "text")

  /** Interpolated Kneser-Ney trigram model trained on the even-doc_id
    * slice: the full ARPA-style trigram table (u, v, w, count,
    * interpolated probability). All counts integer-exact; p is one
    * fixed double expression tree over them (cross-engine identical).
    */
  def q_kn_model(spark: SparkSession, dir: String): DataFrame =
    NgramLm.modelTable(NgramLm.trainFromCounts(knCounts(spark, dir)))

  /** The persisted-counts seam both KN queries share: without the cut,
    * each of the five model tables re-runs the corpus-scale trigram
    * aggregation (the bench harness sweeps the blocks afterwards).
    */
  private def knCounts(spark: SparkSession, dir: String): DataFrame =
    NgramLm.trigramCounts(
      table(spark, dir, "documents").filter(col("doc_id") % 2 === 0),
      "doc_id", "text").localCheckpoint(false)

  /** CCNet-style perplexity filtering signal: every document scored by
    * negative mean trigram log-probability under the even-slice KN
    * model ([[q_kn_model]]). Odd documents are held out, so the full
    * backoff cascade (trigram hit → context backoff → bigram →
    * unigram → OOV) is exercised on real misses, not just self-scores.
    */
  def q_kn_score(spark: SparkSession, dir: String): DataFrame =
    NgramLm.score(table(spark, dir, "documents"), "doc_id", "text",
      NgramLm.trainFromCounts(knCounts(spark, dir)))

  /** The CCNet head/middle/tail split (Wenzek arXiv:1911.00359 §4.3):
    * bucket the corpus by held-out-LM perplexity tertiles (exact
    * interpolated percentiles — the A3 machinery — over [[q_kn_score]]'s
    * nll), report per-bucket size and nll stats. THE curation decision
    * CCNet ships: keep head+middle, drop or re-sample tail.
    */
  def q_ppl_split(spark: SparkSession, dir: String): DataFrame = {
    val scored = NgramLm.score(table(spark, dir, "documents"),
      "doc_id", "text", NgramLm.trainFromCounts(knCounts(spark, dir)))
    val ts = scored.agg(
      percentile(col("nll"), lit(1.0 / 3)).as("t1"),
      percentile(col("nll"), lit(2.0 / 3)).as("t2"))
    scored.crossJoin(broadcast(ts))
      .withColumn("bucket",
        when(col("nll").isNull, "oov")
          .when(col("nll") <= col("t1"), "head")
          .when(col("nll") <= col("t2"), "middle")
          .otherwise("tail"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("nll").as("min_nll"), max("nll").as("max_nll"),
        (floor((sum(col("nll").cast("decimal(28,12)")).cast("double") /
          count(col("nll"))) * 1e6 + 0.5) / 1e6).as("mean_nll"))
  }

  /** Benchmark decontamination: every corpus doc scored against a
    * held-out "benchmark" slice (doc_id < 20 stands in), score = share
    * of the benchmark doc's distinct 3-grams present in the corpus doc.
    * Self-pairs excluded; reported at >= 0.1.
    */
  def q_contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    Dedup.contaminationScores(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 20), "doc_id", "text", threshold = 0.1)
      .filter(col("corpus_id") =!= col("bench_id"))
      .withColumnRenamed("overlap", "n_shared")
  }

  /** [[q_contamination]] through the Bloom-prescreen form
    * ([[Dedup.contaminationScoresBloom]]): the benchmark's gram hashes
    * build one broadcast Bloom filter that kills non-colliding corpus
    * grams map-side before any exchange. Same oracle as
    * `q_contamination` — the screen is exact-by-construction (no false
    * negatives; false positives die in the hash join).
    */
  def q_contamination_bloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    Dedup.contaminationScoresBloom(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 20), "doc_id", "text", threshold = 0.1)
      .filter(col("corpus_id") =!= col("bench_id"))
      .withColumnRenamed("overlap", "n_shared")
  }

  /** Repetition / diversity stats (Gopher-family curation signals). The
    * corpus is single-line, so segments split at spaces — the ratios
    * become token-repetition measures (1 - type/token ratio, repeated-
    * token char mass, top word-2-gram concentration), the same
    * arithmetic the newline-segmented default runs on multi-line docs.
    */
  def q_text_repetition(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.repetitionStats(table(spark, dir, "documents"),
      "doc_id", "text", lineSep = " ")

  /** Deterministic 10% hash sample of the corpus — reproducible across
    * engines/runs/partitionings (content-hash predicate, not RNG).
    */
  def q_sample_hash(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(TextFunctions.hashSamplePredicate(col("text"), 0.1))
      .select("doc_id")

  /** Token-budget sequence packing: shard by id hash, pack each shard's
    * documents (id order) into 2048-token training sequences. Pure
    * integer prefix-sum arithmetic — exact in any engine.
    */
  def q_pack_sequences(spark: SparkSession, dir: String): DataFrame =
    Packing.packSequences(
        table(spark, dir, "documents")
          .select(col("doc_id"),
            TextFunctions.regexTokenCount(col("text")).cast("long").as("n_tok")),
        "doc_id", "n_tok", budget = 2048L, shards = 4)
      .select("doc_id", "shard", "seq_id", "seq_offset")

  /** Per-(document × sequence) occupancy manifest over the packed
    * layout ([[Packing.sequenceManifest]]): the loss-mask / attention-
    * reset view a trainer consumes — straddling documents emit one row
    * per sequence they occupy with the in-sequence start and token
    * count. Same corpus and parameters as [[q_pack_sequences]]; the
    * oracle extends that query's running-sum CTE with the straddle
    * expansion.
    */
  def q_pack_manifest(spark: SparkSession, dir: String): DataFrame =
    Packing.sequenceManifest(
      table(spark, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.regexTokenCount(col("text")).cast("long").as("n_tok")),
      "doc_id", "n_tok", budget = 2048L, shards = 4)

  /** Cross-document duplicate 5-gram spans over the duplicated corpus
    * (doc pairs (d, d+10000) share their full text, so whole documents
    * surface as single spans; natural cross-document repetition adds
    * smaller ones). The oracle replays the fused shingle hash, both
    * count windows, and the lag+cumsum span merge.
    */
  def q_dedup_spans(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(dupCorpus(spark, dir), "doc_id", "text", n = 5)

  /** Overlapping token-window chunking (RAG passages / context windows):
    * size-20 windows every 15 tokens; the tail window is shorter, never
    * empty. The oracle replays tokenization, window-start enumeration,
    * slicing and rejoin.
    */
  def q_text_chunk(spark: SparkSession, dir: String): DataFrame =
    Packing.chunkTokenWindows(
        table(spark, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", size = 20, stride = 15)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"), col("n_chunk_tokens"))

  /** Multilingual rebalancing at alpha=0.5: per-language keep rates are
    * sqrt(n_min/n_l) (IEEE-exact in every engine) and membership is the
    * portable content-hash predicate — the oracle reproduces both the
    * rates and each document's keep decision bit-for-bit.
    */
  def q_lang_rebalance(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.languageRebalance(table(spark, dir, "documents"),
        "text", "lang", alpha = 0.5)
      .select(col("doc_id"), col("lang"),
        round(col("keep_prob"), 6).as("keep_prob"), col("keep"))

  /** Corpus-wide paragraph dedup (boilerplate removal): documents become
    * (source, text, lang) paragraph triples — source/lang values repeat
    * across many documents, so only their globally-first occurrence
    * survives; every document keeps its unique body. The oracle
    * replicates split, first-occurrence ranking and ordered reassembly.
    */
  def q_dedup_paragraph(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"),
        concat_ws("\n\n", col("source"), col("text"), col("lang")).as("t"))
    Dedup.paragraphDedup(docs, "doc_id", "t")
      .select(col("doc_id"), col("t").as("text"))
  }

  /** PII audit + redaction over text with deterministically-injected PII
    * (an email, an IPv4 and a phone derived from doc_id — the corpus
    * text itself is synthetic and clean). Patterns live in the
    * Java-regex/RE2 common dialect, so DuckDB replays the identical
    * three ordered replacements; the redacted STRING hash-compares.
    */
  def q_pii_redact(spark: SparkSession, dir: String): DataFrame = {
    val injected = table(spark, dir, "documents")
      .select(col("doc_id"), concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 10.0."),
        pmod(col("doc_id"), lit(256L)), lit(".7 tel 555-"),
        lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 3, "0"),
        lit("-0199")).as("t"))
    injected
      .select(col("doc_id"), TextFunctions.redactPii(col("t")).as("redacted"),
        TextFunctions.piiCounts(col("t")).as("__c"))
      .select(col("doc_id"), col("redacted"),
        col("__c.emails").cast("long").as("emails"),
        col("__c.ips").cast("long").as("ips"),
        col("__c.phones").cast("long").as("phones"))
  }

  /** Product-quantization ADC top-k through the LIBRARY path
    * ([[Similarity.pqEncode]]/[[Similarity.pqTopK]]): 4 subspaces x 16
    * dims, codebooks = subspace slices of the first 8 vectors (collected
    * deterministically like a trained codebook would be), every vector
    * encoded to 4 codes, 3 queries scored via their LUTs. The oracle
    * replicates slicing, L2 argmin (ties to the lowest centroid), the
    * per-subspace inner-product LUT and the j-ascending score sum
    * exactly — any encode/scoring bug fails the hash compare.
    */
  def q_ann_pq(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val base = firstKCodebook(emb)
    val m = 4
    val sub = 16
    val cb = Array.tabulate(m, base.length)((j, i) =>
      base(i).slice(j * sub, (j + 1) * sub))
    val coded = emb.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), cb).as("codes"))
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 13)
      .orderBy("vec_id").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    Similarity.pqTopK(coded, "vec_id", "codes", queries, cb, k = 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("score"), 6).as("score"))
  }

  /** IVF + PQ composed through the LIBRARY path
    * ([[Similarity.ivfPqTopK]] = [[Similarity.buildIvfPqIndex]] +
    * [[Similarity.probeRanking]] + [[Similarity.ivfPqTopKCoded]]): the
    * billion-scale index shape — coarse cells from the first-8 codebook,
    * 4x16 PQ codes, 3 queries probing their 2 nearest cells and scoring
    * only those cells' rows by ADC. The oracle composes the q_ann_ivf
    * cell-assignment CTEs with the q_ann_pq code/LUT CTEs and a probe
    * ranking (pcos DESC, cid — probeRanking's stable-sort tie-break), so
    * cell assignment, probe selection, encoding AND scoring must all
    * match to hash-equal.
    */
  def q_ann_ivfpq(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val base = firstKCodebook(emb)
    val m = 4
    val sub = 16
    val cb = Array.tabulate(m, base.length)((j, i) =>
      base(i).slice(j * sub, (j + 1) * sub))
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 13)
      .orderBy("vec_id").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    Similarity.ivfPqTopK(emb, "vec_id", "embedding", base, cb, queries,
        k = 5, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("score"), 6).as("score"))
  }

  /** BPE vocabulary induction, corpus-scale half ([[BpeTrain.wordCounts]]
    * + [[BpeTrain.initSymbols]] + [[BpeTrain.pairCounts]]): the adjacent
    * symbol-pair frequency table the first merge argmaxes over. This IS
    * the distributed part of tokenizer training (everything after runs
    * on the distinct-word table); the oracle replays tokenize -> word
    * filter -> char symbols + "&lt;/w&gt;" -> pair explode -> sum in SQL, so
    * the symbol and count conventions must match exactly. The merge LOOP
    * is spec-pinned (BpeSpec, Sennrich worked example) — an iterative
    * argmax is not one SQL query.
    */
  def q_bpe_pairs(spark: SparkSession, dir: String): DataFrame = {
    val wc = BpeTrain.wordCounts(table(spark, dir, "documents"), "text")
    BpeTrain.pairCounts(
        wc.select(BpeTrain.initSymbols(col("word")).as("syms"), col("cnt")))
      .select(col("a"), col("b"), col("n"))
  }

  /** HTML → text extraction ([[TextFunctions.htmlToText]]) over a
    * deterministic HTML wrapping of every document (title, style and
    * script subtrees with markup-looking string content, comments,
    * entities — the hostile cases): the WARC-pipeline extraction step,
    * hash-exact cross-engine because the chain is pure RE2-compatible
    * regex + literal entity replaces.
    */
  def q_html_extract(spark: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>doc</title><style>p { color: red; }</style>"),
      lit("<script type=\"text/javascript\">var x = '<p>not text</p>';</script></head>"),
      lit("<body><!-- nav --><h1>Doc &amp; title</h1><p class=\"main\">"),
      coalesce(col("text"), lit("")),
      lit(" &lt;end&gt;&nbsp;fin</p></body></html>"))
    table(spark, dir, "documents")
      .select(col("doc_id"), TextFunctions.htmlToText(html).as("extracted"))
  }

  /** The deterministic hostile-page template the crawl-extraction
    * queries share: styled head, script with markup-looking strings, a
    * link-farm nav (fails the density test), the document text as the
    * main block, a sub-minChars stub, and a link-farm footer.
    */
  private def ccPage(text: Column): Column = concat(
    lit("<html><head><title>t</title><style>p { x: y; }</style>" +
      "<script>var n = '<div>no</div>';</script></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home page</a> <a href=\"/a\">About this site</a> " +
      "<a href=\"/c\">Contact and support</a> <a href=\"/d\">Documentation index</a></div>" +
      "<p>"),
    coalesce(text, lit("")),
    lit("</p><div>Stub.</div><div class=\"footer\">" +
      "<a href=\"/p\">Privacy policy page</a> | <a href=\"/t\">Terms of service</a>" +
      "</div></body></html>"))

  /** Block-level boilerplate removal ([[TextFunctions.htmlMainText]]):
    * the nav/footer link farms and the sub-minChars stub are dropped by
    * the exact (length, link-density) tests; only the document's own
    * prose survives. Hash-exact cross-engine (integer arithmetic).
    */
  def q_html_main(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.htmlMainText(ccPage(col("text"))).as("main"))

  /** URL canonicalization ([[graft.llm.UrlFunctions]]): scheme/host
    * case, default ports, fragments, tracking params, param order —
    * every variant collapses; host + registered-domain extraction
    * rides along. Pure string/array ops, hash-exact.
    */
  private def synthUrl: Column = concat(
    when(col("doc_id") % 3 === 0, lit("HTTP://Example.COM:80/Path/"))
      .when(col("doc_id") % 3 === 1,
        lit("https://sub.shop.example.co.uk:443/p/"))
      .otherwise(lit("http://example.com/Path/")),
    col("doc_id"),
    lit("?utm_source=feed&b=2&a=1#frag"))

  def q_url_normalize(spark: SparkSession, dir: String): DataFrame = {
    val norm = UrlFunctions.normalizeUrl(synthUrl)
    table(spark, dir, "documents")
      .select(col("doc_id"), norm.as("url"),
        UrlFunctions.urlHost(norm).as("host"),
        UrlFunctions.registeredDomain(UrlFunctions.urlHost(norm)).as("domain"))
  }

  /** PSL-backed registered-domain extraction
    * ([[UrlFunctions.registeredDomainPsl]], VERDICT r15 #7): the full
    * public-suffix algorithm — longest rule wins, wildcard `*.ck`
    * rules, the `!www.ck` exception, the implicit `*` default, and the
    * host-IS-a-suffix null — against the broadcast COMPLETE
    * publicsuffix.org list ([[UrlFunctions.fullPslRules]], the r17
    * default). Hosts synthesized to hit every arm, including the
    * `.co.uk`/`.com.au` second levels the 2-3-label approximation only
    * covers for its hardcoded labels (`school.nz` here is one it
    * MISSES — the PSL form must not), plus four hosts only the full
    * list resolves: a private-section rule (`blogspot.com`), a 4-label
    * rule (`pvt.k12.ma.us`), an IDN rule matched in punycode
    * (`公司.cn` → `xn--55qx5d.cn`), and the real `*.kawasaki.jp` /
    * `!city.kawasaki.jp` wildcard+exception pair. Oracle replays the
    * algorithm per row with the same parsed rule lists inlined.
    */
  private[queries] val synthHostArms: Vector[String] = Vector(
    "Sub.Shop.Example.CO.UK",
    "news.example.com.au",
    "a.b.example.com",
    "example.com",
    "www.ck",
    "foo.bar.ck",
    "deep.host.example.school.nz",
    "co.uk", // public suffix: null
    // r17 arms: rules OUTSIDE the old snapshot subset — only the
    // bundled complete list resolves these
    "myblog.blogspot.com", // private-section rule
    "sub.site.pvt.k12.ma.us", // 4-label rule
    "shop.example.xn--55qx5d.cn", // IDN rule 公司.cn, punycode host
    "a.b.kawasaki.jp", // *.kawasaki.jp wildcard
    "www.city.kawasaki.jp", // !city.kawasaki.jp exception
    // r18 arms (VERDICT r17 #1): MULTI-LABEL fully-IDN suffixes —
    // both suffix labels arrive punycode on real crawls while the
    // list carries them Unicode; unnormalized they'd silently fall
    // to the implicit `*` rule
    "a.shop.xn--55qx5d.xn--j6w193g", // 公司.香港
    "xn--fiq228c.xn--fiqs8s", // IDN registrant under IDN TLD 中国
    // r19 arms (VERDICT r18 #7): hosts arriving in UNICODE form — the
    // OTHER direction of the punycode round trip. Arm 15 is arm 13's
    // Unicode twin and must land on the same public suffix; arm 16
    // exercises the IDNA2003 ß→ss mapping (WWW.Straße.DE →
    // www.strasse.de under the plain `de` rule)
    "B.Shop.公司.香港",
    "WWW.Straße.DE",
    "host.unknowntld") // implicit * rule (the `otherwise` arm)

  /** Host fixture for the PSL queries: arm `doc_id % synthHostArms.size`
    * of [[synthHostArms]] — the ONE list the Spark when-chain and the
    * generated DuckDB CASE both derive from, so fixture and oracle
    * cannot drift.
    */
  private def synthHost: Column = {
    val m = synthHostArms.size
    synthHostArms.init.zipWithIndex.foldRight(
      lit(synthHostArms.last): Column) { case ((h, i), acc) =>
      when(col("doc_id") % m === i, lit(h)).otherwise(acc)
    }
  }

  /** Crawl-trap URL fixture, five arms per doc_id % 5: benign shallow
    * path / calendar-loop repetition / session-id parameter / faceted
    * parameter explosion / depth 10-13 (so the depth rule fires on
    * PART of one arm — the verdict is per-URL, not per-arm).
    */
  private def trapUrl: Column =
    when(col("doc_id") % 5 === 0,
      concat(lit("http://s"), col("doc_id") % 7,
        lit(".example/a/b/page"), col("doc_id")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("http://cal.example/"),
          expr("repeat('2026/01/05/', CAST(2 + doc_id % 3 AS INT))"),
          lit("item")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("http://s.example/p?phpsessid=tok"), col("doc_id"),
          lit("&x=1")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("http://f.example/q?a0=1&a1=1&a2=1&a3=1&a4=1&a5=1" +
          "&a6=1&a7=1&a8=1&a9=1&b="), col("doc_id")))
      .otherwise(
        // DISTINCT segment names so seg_repeats stays 0 and the
        // is_trap verdict flips on the depth>10 boundary alone:
        // depth 10 (id%4=0, benign) .. 13 (trap) — review finding r17
        concat(lit("http://d.example/"),
          concat_ws("/", slice(split(
            lit("s1,s2,s3,s4,s5,s6,s7,s8,s9,s10,s11,s12"), ","),
            lit(1), (lit(9) + col("doc_id") % 4).cast("int"))),
          lit("/leaf")))

  /** Crawl-trap detection ([[UrlFunctions.trapReport]]): structural
    * features + verdict over the five-arm trap fixture — calendar
    * loops, session mints, parameter explosions, and a depth arm whose
    * verdict varies WITHIN the arm. Map-side only; the oracle replays
    * every feature and rule from the same URL strings.
    */
  def q_url_traps(spark: SparkSession, dir: String): DataFrame =
    UrlFunctions.trapReport(
      table(spark, dir, "documents").select(col("doc_id"),
        trapUrl.as("url")), "url")
      .select("doc_id", "url", "depth", "seg_repeats", "n_params",
        "has_session", "is_trap")

  def q_registered_domain(spark: SparkSession, dir: String): DataFrame =
    UrlFunctions.registeredDomainPsl(
      table(spark, dir, "documents")
        .select(col("doc_id"), lower(synthHost).as("host")),
      "host", "domain", UrlFunctions.pslRulesTable(spark))
      .select("doc_id", "host", "domain")

  /** The per-domain dominance cap COMPOSED with PSL domains
    * ([[q_domain_cap]]'s FineWeb-style rule, but the grouping key comes
    * from the full public-suffix algorithm): where the 2-3-label
    * approximation would cap `school.nz` — a public suffix — as if it
    * were one site, the PSL form caps each registrant. Null domains
    * (hosts that ARE public suffixes) form their own capped group, the
    * conservative read.
    */
  def q_domain_cap_psl(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.sampleExactPerGroup(
      UrlFunctions.registeredDomainPsl(
        table(spark, dir, "documents")
          .select(col("doc_id"), lower(synthHost).as("host")),
        "host", "domain", UrlFunctions.pslRulesTable(spark)),
      "doc_id", "domain", n = 50)
      .select("doc_id", "domain")

  /** FineWeb-style per-domain cap: at most 50 documents per registered
    * domain, selected in deterministic content-hash order (the
    * `sampleExactPerGroup` rule) — the crawl-side dominance guard that
    * keeps one prolific host from owning the corpus. Composes the URL
    * chain with the exact-count sampler; hash-exact end to end.
    */
  def q_domain_cap(spark: SparkSession, dir: String): DataFrame = {
    val domain = UrlFunctions.registeredDomain(
      UrlFunctions.urlHost(UrlFunctions.normalizeUrl(synthUrl)))
    TextFunctions.sampleExactPerGroup(
        table(spark, dir, "documents").withColumn("domain", domain),
        "doc_id", "domain", n = 50)
      .select("doc_id", "domain")
  }

  /** Shared robots.txt fixture (query + oracle interpolate the SAME
    * strings): three hosts covering the RFC 9309 arms — comment
    * stripping, ignored keys (`Crawl-delay`, `Sitemap`), empty
    * `Disallow:` dropped at parse, a multi-`User-agent` group, an
    * exact-agent group shadowing `*`, longest-match with allow-wins
    * ties (`/p/12` over `/p/1`), `$` end anchors, `*` wildcards, and
    * a rule-less exact group at EOF that EXEMPTS the agent from the
    * host's `Disallow: /`. A fourth host has no robots.txt at all.
    */
  private[queries] val robotsBodies: Seq[(String, String)] = Seq(
    "a.example.com" ->
      """# politeness file
        |User-agent: *
        |Disallow: /private/
        |Allow: /private/ok/
        |Disallow: /tmp$
        |Disallow: /star/*/x$
        |Disallow: /tmpextra?sid=
        |Disallow:
        |Crawl-delay: 10
        |Sitemap: http://a.example.com/map.xml""".stripMargin,
    "b.example.org" ->
      """User-agent: graftbot
        |User-agent: otherbot
        |Disallow: /p/1
        |Allow: /p/12
        |Crawl-delay: 2
        |
        |User-agent: *
        |Disallow: /""".stripMargin,
    "c.example.net" ->
      """User-agent: *
        |Disallow: /
        |User-agent: graftbot""".stripMargin)

  /** The fixture as a SQL VALUES list — newlines embed verbatim in the
    * literals (no quotes to escape), so oracle and query parse
    * byte-identical bodies.
    */
  private def robotsValuesSql: String =
    robotsBodies.map { case (h, t) => s"('$h', '$t')" }.mkString(",\n")

  /** The fixture URL synthesis as an oracle SELECT body — shared by the
    * robots chain and the sitemap round-trip (written once; must stay
    * the SQL twin of [[robotsFixtureUrls]]).
    */
  private val robotsUrlsSelectSql: String =
    """  SELECT doc_id,
      |    (['a.example.com', 'b.example.org', 'c.example.net', 'd.example.io'])[((doc_id // 10) % 4 + 1)::INT] AS host,
      |    (['/private/file', '/private/ok/file', '/tmp', '/tmpextra', '/star/deep/x',
      |      '/p/1page', '/p/12page', '/other', '/tmpextra?sid=9',
      |      '/p/1page?ref=x'])[(doc_id % 10 + 1)::INT] AS path
      |  FROM documents""".stripMargin

  /** [[UrlFunctions.resolveUrl]]'s CASE as SQL over (`ref`, `base`)
    * expressions — shared by the `resolved` links CTE and the
    * anchor-pairs oracle (written once, the robotsChainSql rule).
    */
  private def resolveCaseSql(ref: String, base: String): String =
    s"""CASE
       |        WHEN regexp_matches($ref, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN $ref
       |        WHEN regexp_matches($ref, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN NULL
       |        WHEN $ref LIKE '//%' THEN
       |          regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) || ':' || $ref
       |        WHEN $ref LIKE '/%' THEN
       |          regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) || $ref
       |        ELSE coalesce(
       |          nullif(regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.-]*://[^?#]*/)', 1), ''),
       |          regexp_extract($base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) || '/') || $ref
       |      END""".stripMargin

  /** The link-fixture page as a SQL expression over a `doc_id` column
    * — the SQL twin of [[linkFixturePage]], written once (shared by
    * the link-graph oracles and the crawl-loop flagship's anchor
    * stage).
    */
  private val pageHtmlSql: String =
    """'<html><body><a href="http://x.example.net/abs' || (doc_id % 5) ||
      |    '">a</a><p>text</p><a class="x" href="/root' || (doc_id % 3) ||
      |    '">r</a><a href="rel' || (doc_id % 2) ||
      |    '.html">l</a><a href="//cdn.example.org/c">p</a>' ||
      |    '<a href="mailto:u@example.com">m</a>' ||
      |    '<a href="#top">f</a></body></html>'""".stripMargin

  /** The shared link-resolution oracle chain (pages + `resolved` CTE) —
    * `q_link_graph` projects it, `q_host_graph` aggregates it. Written
    * once like [[robotsChainSql]]. The href regex requires `\shref`,
    * not `\bhref` — the engine-side [[UrlFunctions.extractHrefs]] fix
    * for `data-href` false matches, mirrored here.
    */
  private lazy val linkResolveSql: String =
    s"""WITH urls0 AS (
       |$robotsUrlsSelectSql
       |), pages AS (
       |  SELECT doc_id, 'http://' || host || path AS url,
       |    $pageHtmlSql AS html
       |  FROM urls0
       |), resolved AS (
       |  SELECT doc_id, url,
       |    list_filter(list_transform(
       |      regexp_extract_all(html, '(?i)<a\\b[^>]*\\shref\\s*=\\s*"([^"#][^"]*)"', 1),
       |      r -> ${resolveCaseSql("r", "url")}), x -> x IS NOT NULL) AS links
       |  FROM pages
       |)""".stripMargin

  /** The crawl-delay resolution CTE block (kept3 … hostdelay) over
    * [[robotsChainSql]]'s `kv` — written once, shared by the
    * `q_crawl_frontier` oracle and the crawl-loop flagship (the
    * robotsChainSql rule). Callers splice it between two CTEs.
    */
  private lazy val crawlDelayChainSql: String =
    """kept3 AS (
      |  SELECT * FROM kv
      |  WHERE k IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
      |), marked3 AS (
      |  SELECT *, CASE WHEN k = 'user-agent' AND
      |      coalesce(lag(k) OVER (PARTITION BY host ORDER BY line_no), 'x') <> 'user-agent'
      |    THEN 1 ELSE 0 END AS new_group
      |  FROM kept3
      |), grp3 AS (
      |  SELECT *, sum(new_group) OVER (PARTITION BY host ORDER BY line_no) AS group_id
      |  FROM marked3
      |), agents3 AS (
      |  SELECT host, group_id, lower(v) AS agent FROM grp3 WHERE k = 'user-agent'
      |), del3 AS (
      |  SELECT host, group_id, TRY_CAST(v AS DOUBLE) AS cd
      |  FROM grp3 WHERE k = 'crawl-delay' AND TRY_CAST(v AS DOUBLE) IS NOT NULL
      |), exact3 AS (
      |  SELECT DISTINCT host FROM agents3 WHERE agent = 'graftbot'
      |), sel3 AS (
      |  SELECT DISTINCT a.host, a.group_id
      |  FROM agents3 a LEFT JOIN exact3 e ON a.host = e.host
      |  WHERE (e.host IS NOT NULL AND a.agent = 'graftbot')
      |     OR (e.host IS NULL AND a.agent = '*')
      |), hostdelay AS (
      |  SELECT d.host, max(d.cd) AS crawl_delay
      |  FROM del3 d JOIN sel3 s ON d.host = s.host AND d.group_id = s.group_id
      |  GROUP BY 1
      |)""".stripMargin

  /** The anchor-text extraction chain (atags → apairs → aresolved →
    * aterms) over a `(doc_id?, url, html)` CTE — written once (review
    * finding r18: the crawl-loop flagship previously copy-pasted these
    * 25 lines from `q_anchor_text`, so an href-regex fix in one could
    * silently diverge the other). `aterms` exposes (dst_host, term);
    * callers aggregate.
    */
  private def anchorChainSql(srcCte: String): String =
    s"""atags AS (
       |  SELECT url,
       |    regexp_extract_all(html, '(?i)<a\\b[^>]*\\shref\\s*=\\s*"([^"#][^"]*)"[^>]*>([^<]*)</a>', 1) AS hrefs,
       |    regexp_extract_all(html, '(?i)<a\\b[^>]*\\shref\\s*=\\s*"([^"#][^"]*)"[^>]*>([^<]*)</a>', 2) AS texts
       |  FROM $srcCte
       |), apairs AS (
       |  SELECT url, unnest(list_zip(hrefs, texts)) AS pr2 FROM atags
       |), aresolved AS (
       |  SELECT ${resolveCaseSql("pr2[1]", "url")} AS link, pr2[2] AS anchor
       |  FROM apairs
       |), aterms AS (
       |  SELECT lower(regexp_extract(link,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS dst_host,
       |    unnest(list_filter(string_split(anchor, ' '), t -> length(t) > 0)) AS term
       |  FROM aresolved WHERE link IS NOT NULL
       |)""".stripMargin

  /** The shared RFC 9309 oracle chain (parse + decision through the
    * `win` CTE) — `q_robots_filter` adds the projection,
    * `q_crawl_frontier` composes scheduling on top. Written ONCE: a
    * tweak to the grammar or the ranking diverges every consumer
    * together or not at all.
    */
  private lazy val robotsChainSql: String =
    s"""WITH RECURSIVE robots(host, txt) AS (VALUES $robotsValuesSql),
       |lins AS (
       |  SELECT host, t.i AS line_no, trim(regexp_replace(r.l[t.i], '#.*', '')) AS line
       |  FROM (SELECT host, string_split(txt, chr(10)) AS l FROM robots) r,
       |       unnest(range(1, len(r.l) + 1)) AS t(i)
       |), kv AS (
       |  SELECT host, line_no,
       |    lower(trim(regexp_extract(line, '^([^:]+):', 1))) AS k,
       |    trim(regexp_extract(line, '^[^:]+:(.*)$$', 1)) AS v
       |  FROM lins WHERE contains(line, ':')
       |), kept AS (
       |  SELECT * FROM kv WHERE k IN ('user-agent', 'allow', 'disallow')
       |), marked AS (
       |  SELECT *, CASE WHEN k = 'user-agent' AND
       |      coalesce(lag(k) OVER (PARTITION BY host ORDER BY line_no), 'x') <> 'user-agent'
       |    THEN 1 ELSE 0 END AS new_group
       |  FROM kept
       |), grp AS (
       |  SELECT *, sum(new_group) OVER (PARTITION BY host ORDER BY line_no) AS group_id
       |  FROM marked
       |), agents AS (
       |  SELECT host, group_id, lower(v) AS agent FROM grp WHERE k = 'user-agent'
       |), rul AS (
       |  SELECT host, group_id, line_no AS rule_no, k AS directive, v AS pattern
       |  FROM grp WHERE k <> 'user-agent' AND v <> ''
       |), exact AS (
       |  SELECT DISTINCT host FROM agents WHERE agent = 'graftbot'
       |), sel AS (
       |  SELECT DISTINCT a.host, a.group_id
       |  FROM agents a LEFT JOIN exact e ON a.host = e.host
       |  WHERE (e.host IS NOT NULL AND a.agent = 'graftbot')
       |     OR (e.host IS NULL AND a.agent = '*')
       |), selr AS (
       |  SELECT DISTINCT r.host, r.rule_no, r.directive, r.pattern,
       |    '^' || replace(regexp_replace(
       |        CASE WHEN r.pattern LIKE '%$$' THEN substr(r.pattern, 1, length(r.pattern) - 1)
       |             ELSE r.pattern END,
       |        '([.^$$+?(){}\\[\\]|\\\\])', '\\\\\\1', 'g'), '*', '.*')
       |      || CASE WHEN r.pattern LIKE '%$$' THEN '$$' ELSE '' END AS rx
       |  FROM rul r JOIN sel s ON r.host = s.host AND r.group_id = s.group_id
       |), urls AS (
       |$robotsUrlsSelectSql
       |), cand AS (
       |  SELECT u.doc_id, u.host, u.path, r.rule_no, r.directive, r.pattern
       |  FROM urls u LEFT JOIN selr r
       |    ON u.host = r.host AND regexp_matches(u.path, r.rx)
       |), win AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY length(pattern) DESC, directive, rule_no) AS rn
       |  FROM cand
       |)""".stripMargin

  /** The fixture URL corpus both robots queries gate: host varies per
    * 10-document block, path per document, so all 40 host×path arms
    * occur (decoupled indices — `doc_id div 10` vs `doc_id mod 10`).
    * Two arms carry a QUERY: RFC 9309 matches rules against
    * path-plus-query, so `/tmpextra?sid=9` must hit host a's
    * `Disallow: /tmpextra?sid=` while plain `/tmpextra` does not, and
    * `/p/1page?ref=x` must hit b's plain-prefix `/p/1`. URLs repeat
    * across documents (one per host×path arm) — the frontier queries
    * rely on that for their dedup machinery.
    */
  private def robotsFixtureUrls(spark: SparkSession, dir: String): DataFrame = {
    val host = element_at(array(lit("a.example.com"), lit("b.example.org"),
      lit("c.example.net"), lit("d.example.io")),
      (expr("(doc_id div 10) % 4") + 1).cast("int"))
    val path = element_at(array(lit("/private/file"), lit("/private/ok/file"),
      lit("/tmp"), lit("/tmpextra"), lit("/star/deep/x"), lit("/p/1page"),
      lit("/p/12page"), lit("/other"), lit("/tmpextra?sid=9"),
      lit("/p/1page?ref=x")), (col("doc_id") % 10 + 1).cast("int"))
    table(spark, dir, "documents")
      .select(col("doc_id"), concat(lit("http://"), host, path).as("url"))
  }

  private def robotsRules(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Robots.parseRobots(robotsBodies.toDF("host", "robots_txt"),
      "host", "robots_txt")
  }

  /** RFC 9309 crawl-politeness gate ([[Robots.parseRobots]] +
    * [[Robots.robotsAllowed]]): parse the fixture robots.txt bodies
    * into the host-grain rule table, then decide every synthesized URL
    * for agent `GraftBot` — group selection (exact over `*` over
    * nothing), longest-pattern-wins with allow on ties, wildcard and
    * end-anchor patterns. The oracle replays parse AND decision from
    * the same body strings: line explode → comment strip → key filter
    * → UA-run grouping (window cumsum) → group selection → regex
    * translation → longest-match ranking.
    */
  def q_robots_filter(spark: SparkSession, dir: String): DataFrame =
    Robots.robotsAllowed(robotsFixtureUrls(spark, dir), robotsRules(spark),
        "GraftBot", "doc_id")
      .select(col("doc_id"), col("url"), col("host"), col("path"),
        col("allowed"), col("matched_directive"), col("matched_pattern"))

  /** Host link graph for the frontier fixture — a cycle, a shortcut, a
    * back-edge, and an authority-free source, all deterministic
    * literals shared with the generated oracle CTE. The edge set is
    * chosen so no 3-iteration rank sits near a half-step of the 1e-6
    * rounding grid (min distance 0.094 grid steps, exact-rational
    * check): the two engines' DECIMAL→DOUBLE casts can disagree by an
    * ulp (~1e-10 grid steps), and a rank EXACTLY on a boundary — which
    * tiny dyadic graphs readily produce, e.g. 0.3721875 without the
    * back-edge — flips the floor between them.
    */
  private val frontierEdges: Seq[(String, String)] = Seq(
    "a.example.com" -> "b.example.org",
    "b.example.org" -> "c.example.net",
    "c.example.net" -> "a.example.com",
    "a.example.com" -> "c.example.net",
    "d.example.io" -> "a.example.com",
    "b.example.org" -> "a.example.com")

  private def frontierEdgesCte: String =
    frontierEdges.map { case (s, d) => s"('$s', '$d')" }
      .mkString("SELECT * FROM (VALUES ", ", ", ") AS t(src, dst)")

  /** Incremental frontier scheduling
    * ([[graft.streaming.StreamingFrontier.frontierBatch]], replayed as
    * two batch calls — the driver row for the streaming scheduler):
    * the fixture URLs repeat across documents (one per host×path arm),
    * so the dedup machinery is load-bearing — within-batch min-id keep,
    * then the cross-batch seen-index anti join. Batch 1 = doc_id < 250, batch 2 = the rest, batch 2 screened
    * against batch 1's digests with its slot base continuing from batch
    * 1's per-host counts. The union must equal the ONE-SHOT schedule
    * over everything (the oracle): distinct-URL min-id keep → robots
    * gate → authority join → per-host slot window.
    */
  def q_frontier_incremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.StreamingFrontier
    val candidates = robotsFixtureUrls(spark, dir)
    val rules = robotsRules(spark)
    val auth = frontierAuthority(spark)
    val seen0 = Seq.empty[(String, String)].toDF("url_hash", "host")
    val (f1, d1) = StreamingFrontier.frontierBatch(
      candidates.filter(col("doc_id") < 250), "doc_id", "url",
      rules, "GraftBot", auth, seen0)
    val (f2, _) = StreamingFrontier.frontierBatch(
      candidates.filter(col("doc_id") >= 250), "doc_id", "url",
      rules, "GraftBot", auth, d1)
    f1.unionByName(f2)
      .select("doc_id", "url", "host", "host_rank", "slot")
  }

  /** The link fixture page (shared by both link queries — written
    * once): anchors covering every resolution arm.
    */
  private def linkFixturePage: Column = concat(
    lit("<html><body><a href=\"http://x.example.net/abs"),
    col("doc_id") % 5,
    lit("\">a</a><p>text</p><a class=\"x\" href=\"/root"),
    col("doc_id") % 3,
    lit("\">r</a><a href=\"rel"), col("doc_id") % 2,
    lit(".html\">l</a><a href=\"//cdn.example.org/c\">p</a>"),
    lit("<a href=\"mailto:u@example.com\">m</a>"),
    lit("<a href=\"#top\">f</a></body></html>"))

  /** Link extraction + RFC 3986 resolution
    * ([[UrlFunctions.extractLinks]]): every document rendered as a page
    * whose anchors cover the resolution arms — absolute (kept
    * verbatim), root-relative (base origin), bare relative (base
    * directory; exercised against bases WITH and WITHOUT a path
    * directory), protocol-relative (base scheme), `mailto:` (dropped),
    * fragment-only (never extracted). Output keeps document order
    * flattened, so the oracle replays extract → per-ref CASE resolution
    * with the same `list_transform`/`list_filter` shape.
    */
  def q_link_graph(spark: SparkSession, dir: String): DataFrame =
    robotsFixtureUrls(spark, dir)
      .select(col("doc_id"), col("url"),
        UrlFunctions.extractLinks(col("url"), linkFixturePage).as("links"))
      .select(col("doc_id"), col("url"),
        concat_ws(" ", col("links")).as("links_joined"),
        size(col("links")).cast("long").as("n_links"))

  /** The link-graph EDGE grain [[q_link_graph]] feeds PageRank from:
    * explode the resolved out-links, host both ends, drop self-loops,
    * one count aggregation — `(src_host, dst_host, n)`. At 100 TB this
    * is THE host-graph construction (corpus-pass map work + one
    * edge-grain shuffle); [[q_crawl_frontier]]'s literal edge fixture
    * stands in for exactly this output.
    */
  def q_host_graph(spark: SparkSession, dir: String): DataFrame =
    robotsFixtureUrls(spark, dir)
      .select(col("url"),
        explode(UrlFunctions.extractLinks(col("url"), linkFixturePage))
          .as("link"))
      .select(UrlFunctions.urlHost(col("url")).as("src_host"),
        UrlFunctions.urlHost(col("link")).as("dst_host"))
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n"))

  /** Connected components of the UNDIRECTED host graph
    * ([[graft.llm.Dedup.clusterPairs]] — the pointer-doubling CC the
    * near-dedup clustering already runs, O(log diameter) rounds,
    * convergence-checked — applied to [[q_host_graph]]'s edge grain):
    * component = the lexicographic minimum host label. The crawl-side
    * use: seed-list planning and dead-zone detection (a component
    * unreachable from any seed never gets crawled no matter the
    * frontier policy). Oracle: recursive label closure over the same
    * edge fixture.
    */
  def q_host_components(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusterPairs(
        q_host_graph(spark, dir)
          .select(col("src_host").as("id_a"), col("dst_host").as("id_b")))
      .select(col("id").as("host"), col("cluster_id").as("component"))

  /** ANCHOR-TEXT aggregation over the link fixture
    * ([[UrlFunctions.extractAnchorPairs]]): per (target host, anchor
    * term) vote counts — the retrieval signal OTHER pages supply about
    * a target before its own content is fetched (feed these rows into
    * the postings build as target-document terms). Map-side extraction
    * + one edge-grain aggregation, the host-graph shape with a text
    * payload.
    */
  def q_anchor_text(spark: SparkSession, dir: String): DataFrame =
    robotsFixtureUrls(spark, dir)
      .select(col("url"),
        explode(UrlFunctions.extractAnchorPairs(col("url"), linkFixturePage))
          .as("a"))
      .select(UrlFunctions.urlHost(col("a.link")).as("dst_host"),
        explode(TextFunctions.tokens(col("a.anchor"))).as("term"))
      .groupBy("dst_host", "term")
      .agg(count(lit(1)).as("n"))

  /** CRAWL BUDGET apportionment ([[graft.ops.Apportion]]): a global
    * fetch budget of 1000 split across hosts proportionally to their
    * PageRank authority by largest-remainder quotas — integer-exact
    * (weights = the rank grid numerators), quotas sum to exactly the
    * budget, no host off its real share by more than one. The
    * scheduler arithmetic between [[q_crawl_frontier]]'s ordering and
    * an actual fetch allowance.
    */
  def q_crawl_budget(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Apportion.largestRemainder(
        frontierAuthority(spark).withColumn("w",
          floor(col("host_rank") * 1e6 + 0.5).cast("long")),
        "host", "w", budget = 1000L)
      .select(col("key").as("host"), col("weight"), col("quota"))

  /** [[graft.ops.Apportion.largestRemainder]] over a CORPUS-derived
    * weight table: a 10k-document sampling budget split across sources
    * by total character mass — the stratified-sampling quota form of
    * the same arithmetic (many keys, natural ties).
    */
  def q_budget_sources(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Apportion.largestRemainder(
        table(spark, dir, "documents").groupBy("source")
          .agg(sum("n_chars").as("w")),
        "source", "w", budget = 10000L)
      .select(col("key").as("source"), col("weight"), col("quota"))

  /** The PRE-FETCH CRAWL LOOP composed end-to-end (VERDICT r17 #6 —
    * the crawl analogue of `q_training_data_e2e`, splicing six
    * standalone-oracled stages into ONE hash-checked composition):
    *
    *   1. sitemap DISCOVERY, both protocol levels: each host's
    *      `<sitemapindex>` names its child sitemaps (bucket = doc/10),
    *      the crawler joins the index entries to the child `<urlset>`
    *      payloads it names, and the leaf parse yields candidate URLs
    *      — [[Robots.sitemapIndexEntries]] ∘ [[Robots.sitemapEntries]];
    *   2. candidate dedup to URL grain (min doc_id — the
    *      frontierBatch keep rule) — sitemap locs repeat per document;
    *   3. TRAP gate, map-side upstream of every shuffle
    *      ([[UrlFunctions.trapReport]]): the `?sid=` arm drops here,
    *      before robots or scheduling spend anything on it;
    *   4. RFC 9309 robots gate ([[Robots.robotsAllowed]], broadcast
    *      rule table);
    *   5. frontier schedule: broadcast host authority (the 3-round
    *      exact-tier PageRank), per-host politeness slot window,
    *      crawl-delay pacing ([[Robots.crawlDelays]]);
    *   6. BUDGET: a global fetch budget of 12 split across hosts by
    *      largest-remainder quotas over authority
    *      ([[graft.ops.Apportion.largestRemainder]]) — small enough
    *      that the allowance BINDS (slot ≤ quota gates every host);
    *   7. anchor-text signal harvested from the SCHEDULED fetches only
    *      ([[UrlFunctions.extractAnchorPairs]]) — the retrieval prior
    *      the next cycle starts from.
    *
    * One output table, two grains (the flagship convention): a
    * disposition row per discovered URL (stage ∈ trap / denied /
    * over_budget / scheduled, with slot, authority, quota, pacing) and
    * an `anchor` row per (target host, term) vote. The oracle replays
    * all seven stages from the same fixture strings.
    */
  def q_crawl_loop_e2e(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fixture = robotsFixtureUrls(spark, dir)
      .withColumn("host", UrlFunctions.urlHost(col("url")))
      .withColumn("bucket", expr("doc_id div 10").cast("long"))
    // 1a. the host's sitemapindex (q_sitemap_index build)
    val idxXml = fixture.select("host", "bucket").distinct()
      .select(col("host"), concat(
        lit("<sitemap><loc>http://"), col("host"), lit("/sitemap-"),
        col("bucket"), lit(".xml</loc>"),
        when(col("bucket") % 2 === 0, concat(lit("<lastmod>2026-0"),
          (col("bucket") % 9 + 1).cast("string"), lit("-01</lastmod>")))
          .otherwise(lit("")),
        lit("</sitemap>")).as("block"))
      .groupBy("host")
      .agg(concat(lit("<?xml version=\"1.0\"?><sitemapindex>"),
        concat_ws("", collect_list(col("block"))),
        lit("</sitemapindex>")).as("xml"))
    val children = Robots.sitemapIndexEntries(idxXml, "host", "xml")
      .select(col("host"),
        regexp_extract(col("loc"), "sitemap-(\\d+)\\.xml", 1)
          .cast("long").as("bucket"))
    // 1b. child urlsets (q_sitemap_entries build, bucket-partitioned)
    val urlsetXml = fixture
      .select(col("host"), col("bucket"), concat(
        lit("<url><loc>"), col("url"), lit("</loc>"),
        when(col("doc_id") % 2 === 0, concat(lit("<lastmod>2026-"),
          lpad((col("doc_id") % 12 + 1).cast("string"), 2, "0"),
          lit("-15</lastmod>"))).otherwise(lit("")),
        lit("</url>")).as("block"))
      .groupBy("host", "bucket")
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        concat_ws("", collect_list(col("block"))),
        lit("</urlset>")).as("xml"))
    // the crawler fetches only children the INDEX names
    val fetched = children.join(urlsetXml, Seq("host", "bucket"))
    val discovered = Robots.sitemapEntries(fetched, "host", "xml")
      .select(col("loc").as("url")).distinct()
    // 2. URL grain with the frontier keep rule's min doc_id (the
    // extra host/bucket columns drop in the aggregate, so the fixture
    // frame already in scope serves — review finding r18: no second
    // fixture synthesis in a query whose wall is orchestration-bound)
    val withId = discovered.join(
      fixture.groupBy("url").agg(min(col("doc_id")).as("doc_id")),
      Seq("url"))
    // 3. trap gate — map-side, before any downstream exchange
    val trapChecked = UrlFunctions.trapReport(withId, "url")
      .withColumn("host", UrlFunctions.urlHost(col("url")))
    val trapRows = trapChecked.filter(col("is_trap"))
      .select(col("doc_id"), col("url"), col("host"))
    // 4. robots gate
    val decided = Robots.robotsAllowed(
      trapChecked.filter(!col("is_trap")).select("doc_id", "url"),
      robotsRules(spark), "GraftBot", "doc_id")
    val deniedRows = decided.filter(!col("allowed"))
      .select(col("doc_id"), col("url"), col("host"))
    // 5. schedule: broadcast authority + per-host politeness slots
    val ranks = frontierAuthority(spark)
    val delays = Robots.crawlDelays(robotsBodies.toDF("host", "robots_txt"),
      "host", "robots_txt", "GraftBot")
    val slotW = Window.partitionBy("host").orderBy("doc_id")
    val sched = decided.filter(col("allowed"))
      .join(broadcast(ranks), Seq("host"), "left")
      .join(broadcast(delays), Seq("host"), "left")
      .withColumn("slot", row_number().over(slotW).cast("long"))
      .withColumn("fetch_after",
        (col("slot") - 1).cast("double") *
          coalesce(col("crawl_delay"), lit(0.0)))
    // 6. the binding fetch allowance: largest-remainder quotas over
    // authority, slot ≤ quota is this cycle's fetch set
    val quotas = graft.ops.Apportion.largestRemainder(
        ranks.withColumn("w",
          floor(col("host_rank") * 1e6 + 0.5).cast("long")),
        "host", "w", budget = 12L)
      .select(col("key").as("host"), col("quota"))
    val withQuota = sched.join(broadcast(quotas), Seq("host"), "left")
      .withColumn("quota", coalesce(col("quota"), lit(0L)))
    val scheduled = withQuota.filter(col("slot") <= col("quota"))
    // 7. anchor-text votes harvested from the scheduled fetches
    val anchors = scheduled
      .select(col("doc_id"), col("url"),
        explode(UrlFunctions.extractAnchorPairs(col("url"),
          linkFixturePage)).as("a"))
      .select(UrlFunctions.urlHost(col("a.link")).as("host"),
        explode(TextFunctions.tokens(col("a.anchor"))).as("term"))
      .groupBy("host", "term")
      .agg(count(lit(1)).as("n"))
    def disp(df: DataFrame, stage: String, full: Boolean): DataFrame =
      df.select(col("doc_id"), col("url"), col("host"),
        lit(stage).as("stage"),
        (if (full) col("host_rank") else lit(null).cast("double"))
          .as("host_rank"),
        (if (full) col("slot") else lit(null).cast("long")).as("slot"),
        (if (full) col("quota") else lit(null).cast("long")).as("quota"),
        (if (full) col("fetch_after") else lit(null).cast("double"))
          .as("fetch_after"),
        lit(null).cast("string").as("term"),
        lit(null).cast("long").as("n"))
    disp(trapRows, "trap", full = false)
      .unionByName(disp(deniedRows, "denied", full = false))
      .unionByName(disp(withQuota.filter(col("slot") > col("quota")),
        "over_budget", full = true))
      .unionByName(disp(scheduled, "scheduled", full = true))
      .unionByName(anchors.select(
        lit(null).cast("long").as("doc_id"),
        lit(null).cast("string").as("url"),
        col("host"), lit("anchor").as("stage"),
        lit(null).cast("double").as("host_rank"),
        lit(null).cast("long").as("slot"),
        lit(null).cast("long").as("quota"),
        lit(null).cast("double").as("fetch_after"),
        col("term"), col("n")))
  }

  /** Sitemap ROUND-TRIP at corpus scale ([[Robots.sitemapEntries]]):
    * every document contributes a `<url>` block (loc always; lastmod
    * on even ids; priority on ids divisible by 3 — so all four
    * presence combinations occur) to its host's `<urlset>`, assembled
    * with ONE host-grain aggregation, and the parser explodes it back
    * to doc-grain rows. Optional-field absence comes back as `''`
    * (both engines' regexp_extract convention), kept that way for the
    * comparator.
    */
  def q_sitemap_entries(spark: SparkSession, dir: String): DataFrame = {
    val blocks = robotsFixtureUrls(spark, dir)
      .withColumn("host", UrlFunctions.urlHost(col("url")))
      .select(col("host"), concat(
        lit("<url><loc>"), col("url"), lit("</loc>"),
        when(col("doc_id") % 2 === 0, concat(lit("<lastmod>2026-"),
          lpad((col("doc_id") % 12 + 1).cast("string"), 2, "0"),
          lit("-15</lastmod>"))).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, concat(lit("<priority>0."),
          (col("doc_id") % 10).cast("string"),
          lit("</priority>"))).otherwise(lit("")),
        lit("</url>")).as("block"))
    val xml = blocks.groupBy("host")
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        concat_ws("", collect_list(col("block"))),
        lit("</urlset>")).as("xml"))
    Robots.sitemapEntries(xml, "host", "xml")
      .select(col("host"), col("loc"),
        coalesce(col("lastmod"), lit("")).as("lastmod"),
        coalesce(col("priority"), lit("")).as("priority"))
  }

  /** Sitemap INDEX round-trip ([[Robots.sitemapIndexEntries]]): every
    * host's documents bucket into child sitemaps of 10 (`doc_id / 10`),
    * the host's `<sitemapindex>` names each child (lastmod on even
    * buckets — both presence arms), and the parser explodes it back to
    * child-sitemap grain. The one nesting level the protocol allows;
    * [[q_sitemap_entries]] covers the leaf urlset level.
    */
  def q_sitemap_index(spark: SparkSession, dir: String): DataFrame = {
    val buckets = robotsFixtureUrls(spark, dir)
      .withColumn("host", UrlFunctions.urlHost(col("url")))
      .select(col("host"), (col("doc_id") / 10).cast("long").as("bucket"))
      .distinct()
      .select(col("host"), col("bucket"), concat(
        lit("<sitemap><loc>http://"), col("host"), lit("/sitemap-"),
        col("bucket"), lit(".xml</loc>"),
        when(col("bucket") % 2 === 0, concat(lit("<lastmod>2026-0"),
          (col("bucket") % 9 + 1).cast("string"), lit("-01</lastmod>")))
          .otherwise(lit("")),
        lit("</sitemap>")).as("block"))
    // member order is irrelevant — parsing explodes back to a row SET
    // (the q_sitemap_entries precedent), so no sort on either side
    val xml = buckets.groupBy("host")
      .agg(concat(lit("<?xml version=\"1.0\"?><sitemapindex>"),
        concat_ws("", collect_list(col("block"))),
        lit("</sitemapindex>")).as("xml"))
    Robots.sitemapIndexEntries(xml, "host", "xml")
      .select(col("host"), col("loc"),
        coalesce(col("lastmod"), lit("")).as("lastmod"))
  }

  /** Host authority for the frontier queries: 3-iteration exact-tier
    * PageRank over [[frontierEdges]], rounded on the shared grid.
    */
  private def frontierAuthority(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.ops.PageRank.pageRank(
        frontierEdges.toDF("src", "dst"), iterations = 3)
      .select(col("id").as("host"),
        (floor(col("rank") * 1e6 + 0.5) / 1e6).as("host_rank"))
  }

  /** CRAWL SCHEDULING composed end-to-end — the frontier a polite,
    * authority-aware crawler fetches next: candidate URLs pass the
    * RFC 9309 gate ([[Robots.robotsAllowed]]), join host authority
    * (3-iteration exact-tier [[graft.ops.PageRank]] over the host link
    * graph — host-cardinality, so the rank table broadcasts), and gain
    * a per-host politeness `slot` (the fetch sequence within a host;
    * the scheduler interleaves by slot so no host is flooded). The
    * fetch order is DEFINED by the (slot, host_rank DESC) sort keys,
    * not materialized as a global row number — a total order over a
    * 100 TB frontier would funnel through one partition, and the
    * per-host window is the politeness queue a real frontier bounds
    * anyway. Oracle: the shared robots chain + the generated PageRank
    * SQL as an isolated subquery + the same window.
    */
  def q_crawl_frontier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val allowed = Robots.robotsAllowed(robotsFixtureUrls(spark, dir),
        robotsRules(spark), "GraftBot", "doc_id")
      .filter(col("allowed"))
    val ranks = frontierAuthority(spark)
    val delays = Robots.crawlDelays(robotsBodies.toDF("host", "robots_txt"),
      "host", "robots_txt", "GraftBot")
    val slotW = Window.partitionBy("host").orderBy("doc_id")
    // LEFT: a host with no PageRank row yet (new discovery) stays
    // schedulable with null authority — StreamingFrontier.frontierBatch
    // semantics, mirrored by the oracle's LEFT JOIN
    allowed.join(broadcast(ranks), Seq("host"), "left")
      .join(broadcast(delays), Seq("host"), "left")
      .withColumn("slot", row_number().over(slotW).cast("long"))
      .withColumn("fetch_after",
        (col("slot") - 1).cast("double") *
          coalesce(col("crawl_delay"), lit(0.0)))
      .select("doc_id", "url", "host", "host_rank", "slot", "fetch_after")
  }

  /** The crawl-pipeline flagship, fully oracled end-to-end over the
    * duplicated corpus: page synthesis → main-content extraction
    * (boilerplate dropped) → minimum-length gate (≥ 5 tokens) → exact
    * dedup on the EXTRACTED text (the injected doc_id+10000 twins
    * collapse here) → canonical id + duplicate count per surviving
    * page. WARC ingestion feeds the same chain in production
    * (response bodies → html); the driver corpus has no WARC
    * container, so the oracle starts at the page.
    */
  def q_cc_pipeline(spark: SparkSession, dir: String): DataFrame = {
    val main = TextFunctions.htmlMainText(ccPage(col("text")))
    dupCorpus(spark, dir)
      .select(col("doc_id"), main.as("main"))
      .withColumn("n_tokens",
        size(TextFunctions.tokens(col("main"))).cast("long"))
      .filter(col("n_tokens") >= 5)
      .groupBy(col("main"), col("n_tokens"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).cast("long").as("n_dups"))
      .select("doc_id", "main", "n_tokens", "n_dups")
  }

  /** Incremental AUTHORITY maintenance
    * ([[graft.streaming.StreamingAuthority]], VERDICT r18 #5 — the
    * last spec-only streaming maintainer gets its DuckDB oracle):
    * batch 1's pages append host-edge deltas to a fresh edge log, the
    * COLD bootstrap ranks build over [[StreamingAuthority.loadEdges]],
    * batch 2 appends more deltas, [[StreamingAuthority.compactEdges]]
    * folds the log (a results no-op — deltas are additive), and
    * [[StreamingAuthority.refreshRanks]] WARM-starts from the
    * bootstrap vector. The oracle replays the full two-phase machinery
    * ([[graft.ops.PageRank.oracleSqlWarmStart]]): phase-1 rounds over
    * batch-1 edges, carried/renormalized start (new hosts at 1/N),
    * phase-2 rounds over the folded edge set. Host fixture is pure
    * doc_id arithmetic — batch 2 (doc_id ≥ 250, the
    * q_frontier_incremental split) introduces NEW src hosts (h20+)
    * and NEW dst hosts (n5+), so the carry/renormalize arms are
    * load-bearing, and `hub.example` never authors a page, keeping a
    * dangling node in every round.
    */
  def q_authority_incremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingAuthority
    val pages = table(spark, dir, "documents")
      .select(col("doc_id"),
        concat(lit("http://h"), (col("doc_id") / 13).cast("long"),
          lit(".example/p"), col("doc_id")).as("url"),
        concat(
          lit("<html><a href=\"http://h"),
          (col("doc_id") * 7 % 41).cast("long"),
          lit(".example/x\">a</a><a href=\"http://hub.example/y\">b</a>"),
          lit("<a href=\"http://n"), (col("doc_id") / 50).cast("long"),
          lit(".example/z\">c</a></html>")).as("html"))
    val graphDir = java.nio.file.Files
      .createTempDirectory("graft_authority_").toString
    try {
      StreamingAuthority.appendBatch(graphDir, "url", "html")(
        pages.filter(col("doc_id") < 250), 0L)
      // cold bootstrap over the batch-1 graph
      val r1 = graft.ops.PageRank.pageRank(
        StreamingAuthority.loadEdges(spark, graphDir)
          .select(col("src_host").as("src"), col("dst_host").as("dst")),
        iterations = 2)
      StreamingAuthority.appendBatch(graphDir, "url", "html")(
        pages.filter(col("doc_id") >= 250), 1L)
      // fold the log mid-stream: must not change any rank downstream
      StreamingAuthority.compactEdges(spark, graphDir)
      StreamingAuthority.refreshRanks(spark, graphDir, r1, iterations = 2)
        .select(col("id").as("host"),
          (floor(col("rank") * 1e6 + 0.5) / 1e6).as("rank"))
    } finally {
      // refreshRanks' result is localCheckpoint-materialized, so the
      // log directory is disposable once the call returns
      deleteTempDir(graphDir)
    }
  }

  /** Query-scoped temp-dir cleanup, shared repo-wide (the streamed
    * oracles and the ledger-fold queries both tear down through the one
    * definition in [[StreamHarness.deleteTempDir]]).
    */
  private def deleteTempDir(dir: String): Unit =
    StreamHarness.deleteTempDir(dir)

  /** Incremental LM-counts maintenance
    * ([[graft.streaming.StreamingLm]] — the log-structured trigram
    * count table, previously spec-pinned only, gets its DuckDB
    * oracle): the even-doc_id training slice arrives as two
    * [[graft.streaming.StreamingLm.appendBatch]] micro-batches into a
    * fresh count log, [[graft.streaming.StreamingLm.compactCounts]]
    * folds the log mid-stream, batch 2 REPLAYS after the fold (the
    * ledgered no-op — a regression here doubles its trigram counts
    * and silently corrupts every probability downstream), and the
    * model trains from [[graft.streaming.StreamingLm.loadCounts]].
    * Counts are additive, so stream-fold-then-train must equal
    * training on everything at once: same oracle as [[q_kn_model]].
    */
  def q_lm_incremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingLm
    val even = table(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
    val countsDir = java.nio.file.Files
      .createTempDirectory("graft_lmcounts_").toString
    try {
      StreamingLm.appendBatch(countsDir, "doc_id", "text")(
        even.filter(col("doc_id") < 250), 0L)
      StreamingLm.appendBatch(countsDir, "doc_id", "text")(
        even.filter(col("doc_id") >= 250), 1L)
      StreamingLm.compactCounts(spark, countsDir)
      // post-fold replay of batch 2: the ledger must make it a no-op
      StreamingLm.appendBatch(countsDir, "doc_id", "text")(
        even.filter(col("doc_id") >= 250), 1L)
      NgramLm.modelTable(NgramLm.trainFromCounts(
        StreamingLm.loadCounts(spark, countsDir).localCheckpoint()))
    } finally deleteTempDir(countsDir)
  }

  /** Incremental coded-ANN-index maintenance
    * ([[graft.streaming.StreamingSimilarity]] — the IVF-PQ serving
    * index, previously spec-pinned only, gets its DuckDB oracle): the
    * embeddings corpus arrives as two
    * [[graft.streaming.StreamingSimilarity.appendBatch]] micro-batches
    * into a fresh index log (map-only encode per batch),
    * [[graft.streaming.StreamingSimilarity.compactIndex]] cell-clusters
    * the log mid-stream (a results no-op — the row set is unchanged),
    * batch 2 REPLAYS after the fold (ledgered no-op — a regression
    * doubles its rows and shifts the ADC ranks), and the same 3-query
    * 2-probe search as [[q_ann_ivfpq]] runs over the loaded log.
    * Row-stateless encoding means stream-fold-then-search must equal
    * the one-shot build: same oracle as [[q_ann_ivfpq]].
    */
  def q_similarity_incremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingSimilarity
    val emb = table(spark, dir, "embeddings")
    val base = firstKCodebook(emb)
    val m = 4
    val sub = 16
    val cb = Array.tabulate(m, base.length)((j, i) =>
      base(i).slice(j * sub, (j + 1) * sub))
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 13)
      .orderBy("vec_id").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft_simidx_").toString
    try {
      StreamingSimilarity.appendBatch(indexDir, "vec_id", "embedding",
        base, cb)(emb.filter(col("vec_id") < 250), 0L)
      StreamingSimilarity.appendBatch(indexDir, "vec_id", "embedding",
        base, cb)(emb.filter(col("vec_id") >= 250), 1L)
      StreamingSimilarity.compactIndex(spark, indexDir)
      // post-fold replay of batch 2: the ledger must make it a no-op
      StreamingSimilarity.appendBatch(indexDir, "vec_id", "embedding",
        base, cb)(emb.filter(col("vec_id") >= 250), 1L)
      val idx = StreamingSimilarity.loadIndex(spark, indexDir)
        .localCheckpoint()
      val ranking = Similarity.probeRanking(base)
      Similarity.ivfPqTopKCoded(idx, "id", "codes", "cell",
          q => ranking(q).take(2), cb, queries, k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"),
          round(col("score"), 6).as("score"))
    } finally deleteTempDir(indexDir)
  }

  /** The per-batch edge CTE [[q_authority_incremental]]'s oracle feeds
    * [[graft.ops.PageRank.oracleSqlWarmStart]]: the same doc_id
    * arithmetic as the Spark fixture, three out-links per page,
    * self-loops dropped at the edge grain like
    * [[graft.streaming.StreamingAuthority.appendBatch]].
    */
  private def authorityEdgesCte(where: String): String =
    s"""SELECT src, dst FROM (
       |  SELECT 'h' || (doc_id // 13)::VARCHAR || '.example' AS src,
       |    unnest(['h' || ((doc_id * 7) % 41)::VARCHAR || '.example',
       |            'hub.example',
       |            'n' || (doc_id // 50)::VARCHAR || '.example']) AS dst
       |  FROM documents WHERE $where
       |) WHERE src <> dst""".stripMargin

  /** Incremental crawl intake ([[graft.streaming.StreamingCrawl]]'s
    * `foreachBatch` unit, replayed as two batch calls — the driver row
    * for the streaming intake chain): the duplicated corpus rendered
    * as hostile pages splits into two "arrivals" (doc_id < 250, rest),
    * batch 1 accepts against an empty index, batch 2 against batch 1's
    * digest index. The union of both accepted sets must equal the
    * ONE-SHOT chain over everything (the oracle): batch-1 ids all
    * precede batch-2 ids, so the cross-batch digest screen + per-batch
    * min-id dedup compose to exactly the global min-id-per-content
    * rule. Exercises extraction, the token gate, the within-batch
    * dedup, and — the part only this query checks driver-side — the
    * digest-index screen BETWEEN batches.
    */
  def q_crawl_incremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.StreamingCrawl
    val corpus = dupCorpus(spark, dir)
      .select(col("doc_id"), ccPage(col("text")).as("html"))
    val empty = Seq.empty[String].toDF("content_hash")
    val (a1, d1) = StreamingCrawl.acceptBatch(
      corpus.filter(col("doc_id") < 250), "doc_id", "html", empty)
    val (a2, _) = StreamingCrawl.acceptBatch(
      corpus.filter(col("doc_id") >= 250), "doc_id", "html", d1)
    a1.unionByName(a2).select("doc_id", "main", "n_tokens")
  }

  /** WARC container roundtrip — the driver row the reader itself was
    * missing (r11 task 4): per document, BUILD a complete `.warc.gz`
    * file image in memory (two gzip members; member 1 = warcinfo +
    * an HTTP 200 text/html response wrapping the document text,
    * member 2 = an HTTP 404 response — so record splitting,
    * multi-member gzip, and HTTP status/header stripping ALL sit on
    * the compared path), walk it back through
    * [[graft.llm.Warc.parseWarcBytes]] (the record walk a crawl runs
    * per file), and emit the parsed
    * fields. The gzip bytes are JDK-specific but never compared — the
    * oracle recomputes the expected FIELD values per document, which
    * only match if the walk split members/records and stripped HTTP
    * heads exactly. Map-only; file-level parallelism is the production
    * shape (PERFNOTES).
    */
  def q_warc_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
      .select(col("doc_id").cast("long"), coalesce(col("text"), lit("")))
      .as[(Long, String)]
    docs.mapPartitions { it =>
      it.flatMap { case (id, text) =>
        val html = s"<html><body><h1>Doc $id</h1><p>$text</p></body></html>"
        val httpOk = ("HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=utf-8\r\n" +
          "X-Crawl: graft\r\n\r\n").getBytes("UTF-8") ++
          html.getBytes("UTF-8")
        val http404 = ("HTTP/1.1 404 Not Found\r\n" +
          "Content-Type: text/plain\r\n\r\n" +
          s"missing $id").getBytes("UTF-8")
        val info = Warc.warcRecordBytes(Seq(
            "WARC-Type" -> "warcinfo",
            "Content-Type" -> "application/warc-fields"),
          s"software: graft $id\r\n".getBytes("UTF-8"))
        val respA = Warc.warcRecordBytes(Seq(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://example.com/doc/$id",
            "WARC-Date" -> "2026-01-01T00:00:00Z",
            "Content-Type" -> "application/http; msgtype=response"),
          httpOk)
        val respB = Warc.warcRecordBytes(Seq(
            "WARC-Type" -> "response",
            "WARC-Target-URI" -> s"http://example.com/missing/$id",
            "WARC-Date" -> "2026-01-02T00:00:00Z",
            "Content-Type" -> "application/http; msgtype=response"),
          http404)
        val fileBytes = Warc.gzipMember(info ++ respA) ++
          Warc.gzipMember(respB)
        Warc.parseWarcBytes(s"doc_$id.warc.gz", fileBytes, gunzip = true)
          .map(r => (id, r.record_idx, r.warc_type, r.target_uri,
            r.http_status.toLong, r.content_type,
            new String(r.body, "UTF-8")))
      }
    }.toDF("doc_id", "record_idx", "warc_type", "uri", "http_status",
      "content_type", "body_text")
  }

  /** WordPiece likelihood score table ([[WordPiece.scoredPairs]]) over
    * the initial symbol frame: the pair ranking the first training
    * round argmaxes — count(ab)/(count(a)·count(b)), integer counts +
    * one double division, hash-exact cross-engine.
    */
  def q_wordpiece_scores(spark: SparkSession, dir: String): DataFrame =
    WordPiece.scoredPairs(
        BpeTrain.wordCounts(table(spark, dir, "documents"), "text")
          .select(BpeTrain.initSymbols(col("word")).as("syms"), col("cnt")),
        minFrequency = 2)
      .select(col("a"), col("b"), col("n"), col("na"), col("nb"),
        (floor(col("score") * 1e6 + 0.5) / 1e6).as("score"))

  /** BERT greedy longest-match tokenization
    * ([[WordPiece.wordPieceTokens]]) under a DATA-DEPENDENT but
    * SQL-recomputable vocabulary: all single letters (start and `##`
    * continuation forms) plus the 16 most frequent letter-words and
    * their 2-/3-char prefixes (so nested candidates exist and the
    * longest-match rule is what the compare actually checks — `table`
    * must beat `tab` must beat `ta`). The DuckDB oracle rebuilds the
    * same vocabulary from the corpus and replays greedy matching
    * row-for-row; output is flattened (`concat_ws`) because the driver
    * comparator cannot sort array columns. The merge-LOOP-trained
    * vocabulary composition stays WordPieceSpec's jurisdiction (the
    * loop feeds each argmax back into the next round — not one SQL
    * query); its scoring table is driver-pinned by
    * [[q_wordpiece_scores]], and the tokenizer those two share is
    * pinned HERE.
    */
  def q_wordpiece_tokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val top = BpeTrain.wordCounts(docs, "text") // filters ^[a-z]+$ itself
      .filter(length(col("word")) >= 2)
      .orderBy(col("cnt").desc, col("word")).limit(16)
      .select("word").collect().map(_.getString(0))
    val singles = ('a' to 'z').map(_.toString)
    val vocab = (singles ++ singles.map("##" + _) ++
      top ++ top.map(_.take(2)) ++ top.map(_.take(3))).toSet
    WordPiece.wordPieceTokens(
        docs.select(col("doc_id"),
          concat_ws(" ", filter(TextFunctions.tokens(col("text")),
            w => w.rlike("^[a-z]+$"))).as("letters")),
        "doc_id", "letters", vocab)
      .select(col("doc_id"),
        concat_ws(" ", col("pieces")).as("pieces_joined"),
        size(col("pieces")).cast("long").as("n_pieces"))
  }

  /** BPE tokenization ([[BpeTrain.bpeTokensPartitions]] — the
    * PRODUCTION rank-greedy path) under a SQL-recomputable merge
    * table: the top-12 pairs of the INITIAL pair-count grain
    * ([[q_bpe_pairs]]) by (n DESC, a, b). On an initial-grain list
    * every `a`/`b` is a single character or `</w>`, so no merge output
    * can re-enable another rule and rank-greedy ≡ learned-order replay
    * ≡ a fixed 12-pass fold — which is what the DuckDB oracle runs
    * (recursive CTE over the DISTINCT-word table, one leftmost-first
    * merge pass per step via `list_reduce`). The merge-LOOP-trained
    * list stays BpeSpec's jurisdiction (iterative argmax ≠ one SQL
    * query, the [[q_wordpiece_tokens]] division of labor); the
    * APPLICATION path — the half that runs corpus-scale in production
    * — is pinned here. Output flattened (`concat_ws`) because the
    * driver comparator cannot sort array columns.
    */
  def q_bpe_tokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val wc = BpeTrain.wordCounts(docs, "text")
    val merges = BpeTrain.pairCounts(
        wc.select(BpeTrain.initSymbols(col("word")).as("syms"), col("cnt")))
      .orderBy(col("n").desc, col("a"), col("b")).limit(12)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    BpeTrain.bpeTokensPartitions(
        docs.select(col("doc_id"),
          concat_ws(" ", filter(TextFunctions.tokens(col("text")),
            w => w.rlike("^[a-z]+$"))).as("letters")),
        "doc_id", "letters", merges)
      .select(col("doc_id"),
        concat_ws(" ", col("tokens")).as("tokens_joined"),
        size(col("tokens")).cast("long").as("n_tokens"))
  }

  /** Fuzzy (edit-distance ≤ 1) vocabulary join
    * ([[graft.ops.FuzzyJoin.editDistancePairs]]): the corpus word
    * table plus a deterministic typo per 4+-char word (second char
    * deleted — the dupCorpus convention applied to spelling), all
    * pairs within distance 1 via q-gram candidates + exact
    * `levenshtein` verify. The oracle runs the PLAIN quadratic
    * predicate — completeness of the gram filter is what the hash
    * compare checks.
    */
  def q_fuzzy_join(spark: SparkSession, dir: String): DataFrame = {
    val wf = BpeTrain.wordCounts(table(spark, dir, "documents"), "text")
      .select(col("word"))
    val typos = wf.filter(length(col("word")) >= 4)
      .select(concat(substring(col("word"), 1, 1),
        expr("substring(word, 3)")).as("word"))
    graft.ops.FuzzyJoin.editDistancePairs(
      wf.unionByName(typos), "word", maxDist = 1)
  }

  /** Unigram-LM seed vocabulary ([[UnigramLm.seedVocab]]): frequency-
    * weighted substrings (≤ 4 chars) of the corpus word table — all
    * single characters plus the top-256 multi-char pieces by
    * (freq DESC, piece ASC). Pure counting, fully oracle-exact; the
    * deterministic starting point the EM trainer shrinks from.
    */
  def q_unigram_seed(spark: SparkSession, dir: String): DataFrame =
    UnigramLm.seedVocab(
      BpeTrain.wordCounts(table(spark, dir, "documents"), "text"),
      seedSize = 256)

  /** Unigram-LM VITERBI tokenization restored to the oracle set (r17,
    * VERDICT r16 missing #3) via the q_wordpiece_tokens playbook: the
    * exact [[UnigramLm.tokenize]]/[[UnigramLm.viterbi]] machinery the
    * trained path runs, under an EXACT-GRID model instead of EM-fitted
    * probabilities — logp(piece) = freq(piece) − 10⁹ over the
    * count-exact [[UnigramLm.seedVocab]] table ([[q_unigram_seed]]'s
    * oracle-proven arithmetic). Every logp is an integer-valued double,
    * Viterbi sums ≤ 8 of them (words cap at maxPieceLen·pieces), so
    * path scores are EXACT and the argmax + tie-break (equal score →
    * longest final piece, recursively toward the front — i ascends
    * under strict `>` at every DP state) replays in SQL: the oracle
    * enumerates all 2^(n−1) cut masks per DISTINCT word (the corpus
    * vocabulary is bounded: 31 letter-words, max 8 chars — 529 masks
    * total), scores the vocab-valid ones, and ranks by
    * (score DESC, reversed piece-length list DESC). The −10⁹ grid
    * makes Viterbi minimize piece count first and prefer frequent
    * pieces second — the unigram-LM decision shape with EM's libm
    * removed. Output flattened (driver comparator cannot sort arrays).
    */
  def q_unigram_tokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val seed = UnigramLm.seedVocab(
        BpeTrain.wordCounts(docs, "text"), seedSize = 256)
      .collect() // vocab-sized (≤ 256 + singles): the codebook contract
    val model = UnigramLm.Model(
      seed.map(r => r.getString(0) -> (r.getLong(1).toDouble - 1e9)).toMap,
      maxPieceLen = 4)
    UnigramLm.tokenize(
        docs.select(col("doc_id"),
          concat_ws(" ", filter(TextFunctions.tokens(col("text")),
            w => w.rlike("^[a-z]+$"))).as("letters")),
        "doc_id", "letters", model)
      .select(col("doc_id"),
        concat_ws(" ", col("pieces")).as("pieces_joined"),
        size(col("pieces")).cast("long").as("n_pieces"))
  }

  /** Model-based quality scoring ([[QualityClassifier.margin]]): hashed
    * unigram+bigram buckets (the md5-60 convention) scored against a
    * FORMULA-derived weight vector (w[k] = ((k*2654435761) % 1000)/1000
    * - 0.5) so the oracle can regenerate the weights in SQL instead of
    * inlining a 512-float literal. Pins featurize + bucket-fold + mean +
    * bias — the exact scoring path a TRAINED model uses (training itself
    * is spec-pinned: deterministic decimal-sum GD, QualityClassifierSpec).
    * The margin (not the sigmoid) is compared: pure +,*,/ arithmetic —
    * exp() may differ in the last ulp across engines' libm.
    */
  def q_quality_lr(spark: SparkSession, dir: String): DataFrame = {
    val dim = 512
    val w = Array.tabulate(dim)(k =>
      ((k.toLong * 2654435761L) % 1000L) / 1000.0 - 0.5)
    table(spark, dir, "documents")
      .select(col("doc_id"), TextFunctions.round6(
        QualityClassifier.margin(col("text"), w, 0.1, dim)).as("margin"))
  }

  /** Corpus profiling rollup — the per-(lang, source) dashboard a
    * curation run reports: document count, total whitespace tokens,
    * decimal-exact mean char length, empty-document count. One hash-agg;
    * the token counting stays inside codegen (size over the shared
    * tokens() split, no explode).
    */
  def q_corpus_stats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.tokens(col("text"))).cast("long")).as("total_tokens"),
        graft.etd.Aggregates.exactMean(col("n_chars")).as("avg_chars"),
        sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("n_empty"))

  /** Incremental snapshot dedup ([[Dedup.digestIndex]] +
    * [[Dedup.exactDedupAgainst]]): docs &lt; 250 play the archive, the
    * snapshot is docs &gt;= 250 plus re-injected archive texts under new
    * ids (which must drop against the index), then within-snapshot
    * min-id dedup. The 16-byte digest is the only thing that crosses
    * snapshots.
    */
  def q_dedup_incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val archive = docs.filter(col("doc_id") < 250)
    val snap = docs.filter(col("doc_id") >= 250).select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    Dedup.exactDedupAgainst(snap, "doc_id", "text",
        Dedup.digestIndex(archive, "text"))
      .select(col("doc_id"))
  }

  /** Incremental near-dup with EXACT verification: the snapshot's band
    * collisions against the id-carrying archive index resolve to
    * candidate (snapshot, archive) pairs, exact shingle-set Jaccard
    * runs on ONLY those, and a document drops iff a partner clears the
    * 0.9 threshold — screen false positives (band collision, low
    * Jaccard) survive. Archived exact copies (the +100000 rows) are the
    * certain drops; the tiny shared vocabulary makes plenty of
    * collision-but-below-threshold pairs, so the recovery path is
    * genuinely exercised.
    */
  def q_dedup_verify(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val archive = docs.filter(col("doc_id") < 250)
    val snap = docs.filter(col("doc_id") >= 250).select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    Dedup.nearDupVerifyAgainst(snap, "doc_id", "text",
        Dedup.bandIndexWithIds(archive, "doc_id", "text"),
        archive, "doc_id", "text", jaccardThreshold = 0.9)
      .select(col("doc_id"))
  }

  /** Top-k frequent word bigrams — the vocabulary/boilerplate report.
    * One agg on the gram (map-side combine carries (gram, partial n));
    * top-k via sort+limit with a total (count DESC, gram ASC) order so
    * ties are deterministic.
    */
  def q_top_ngrams(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(TextFunctions.wordShingles(col("text"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(20)

  /** [[q_top_ngrams]] through the mergeable Misra-Gries summary
    * ([[org.apache.spark.sql.graft.FreqItemsSketch]]): per-partition
    * state is O(capacity) no matter how many distinct grams stream
    * through — the 100 TB form of the vocabulary report, where the
    * exact hash-agg's key set grows with the corpus vocabulary.
    * Capacity 4096 >= the testdata's distinct bigrams, so the summary
    * is exact here and the driver hash-checks it against the SAME
    * oracle as the exact query; FreqItemsSpec pins the
    * capacity-constrained error bounds the oracle can't see.
    */
  def q_top_ngrams_sketch(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(TextFunctions.wordShingles(col("text"), 2)).as("gram"))
      .agg(org.apache.spark.sql.graft.FreqItemsExpressions
        .freqItemsSketch(col("gram"), 4096).as("__fi"))
      .select(explode(col("__fi")).as("__e"))
      .select(col("__e.item").as("gram"), col("__e.est").as("n"))
      .orderBy(col("n").desc, col("gram")).limit(20)

  /** Token-length histogram in buckets of 10 — the length-distribution
    * report a filtering run consults. Token counting stays inside
    * codegen (size over the shared split — no explode).
    */
  def q_token_histogram(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select((floor(size(TextFunctions.tokens(col("text"))) / 10) * 10)
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))

  /** One distributed k-means (Lloyd) update step over the embeddings:
    * assign every vector to its nearest first-8 centroid (the codegen'd
    * cosine argmax the IVF family uses), then recompute each cell's
    * per-dimension mean with the decimal-exact mean. This is the
    * iterated kernel of Lloyd codebook training, pinned as a
    * hash-checked oracle: assignment ties, explode indexing, and the
    * mean's rounding must all match.
    */
  def q_kmeans_step(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    emb.select(col("vec_id"),
        Similarity.ivfAssign(col("embedding"), firstKCodebookLit(emb)).as("cell"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim").cast("long").as("dim"))
      // float -> double FIRST (exact on every engine), then the proven
      // double -> decimal exact-mean path
      .agg(graft.etd.Aggregates.exactMean(col("x").cast("double")).as("c"))
  }

  /** PMI-lift collocations (minCount 5, top 30) —
    * [[TextFunctions.collocations]]. The (lift desc, gram) order is
    * total per gram, so the limit cut is deterministic; lift itself is
    * log-free (monotone in PMI) and evaluated overflow-safe as
    * (n_pair/n_left)·(n_total/n_right) — the same two-division IEEE
    * sequence in both engines (integer products overflow Long at
    * trillion-token scale).
    */
  def q_collocations(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.collocations(table(spark, dir, "documents"), "text",
        minCount = 5)
      .orderBy(col("lift").desc, col("gram")).limit(30)

  /** Source-level quality reputation under m-estimate smoothing
    * (m = 20) — [[Curation.groupQualityPrior]] over the per-document
    * [[TextFunctions.qualityScore]]; one row per source, decimal-exact
    * sums, floor-rounded outputs.
    */
  def q_source_prior(spark: SparkSession, dir: String): DataFrame =
    Curation.groupQualityPrior(
      table(spark, dir, "documents")
        .withColumn("score", TextFunctions.qualityScore(col("text"))),
      "source", "score", m = 20.0)

  /** Upper-triangle population covariance of the embedding corpus in
    * the engine-portable arithmetic contract (products floor-rounded at
    * 1e-6 at definition, decimal exact-means, entries at 1e-9). PcaSpec
    * pins it against driver double arithmetic inside the rounding
    * budget; this query pins the covariance values themselves against
    * DuckDB.
    */
  def q_embed_covariance(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Embeddings.covarianceRelational(
      table(spark, dir, "embeddings"), "vec_id", "embedding")

  /** SemDeDup over LINEARLY PROJECTED vectors — the composed scale
    * recipe: project map-only to 16 dims through the native fused
    * projection ([[org.apache.spark.sql.graft.PcaExpressions]]), then
    * cell-local semantic dedup on the short vectors (4x less memory
    * traffic in every cosine). The projection model here is
    * FORMULA-generated (the `q_quality_lr` convention — mean[j] and
    * comp[i][j] from the same integer hash formula) so the DuckDB
    * oracle regenerates the constants and replays the fused
    * (v - mean) · comp loop, the float narrowing, the cell argmax and
    * the within-cell cosine drops EXACTLY — the full driver check the
    * TRAINED composition cannot get (an eigensolve is not
    * SQL-expressible; `q_embed_covariance` pins the covariance a model
    * is fitted from).
    */
  def q_pca_semdedup(spark: SparkSession, dir: String): DataFrame = {
    val d = 64; val k = 16
    // mean scaled to embedding magnitude (~±0.25): a ±0.5 formula mean
    // would dominate the centering and collapse every projected vector
    // onto -mean (one cell, cosine ~1 everywhere — a degenerate check)
    val mean = Array.tabulate(d)(j =>
      (((j.toLong * 2654435761L) % 1000L) / 1000.0 - 0.5) * 0.05)
    val comps = Array.tabulate(k, d)((i, j) =>
      (((i.toLong * d + j) * 2654435761L) % 1000L) / 1000.0 - 0.5)
    val model = graft.llm.Embeddings.PcaModel(mean, comps,
      new Array[Double](k), 0L)
    val emb = table(spark, dir, "embeddings")
    val proj = emb.select(col("vec_id"),
      graft.llm.Embeddings.pcaProjectF(col("embedding"), model).as("pvec"))
    // centroids: the first-8 PROJECTED vectors (bounded collect, the
    // q_semdedup convention) — SQL-recomputable from the formula model
    val cents = proj.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("pvec")).collect().map(_.getSeq[Float](0).toArray)
    val centsLit = array(cents.toIndexedSeq.map(v =>
      array(v.toIndexedSeq.map(lit(_)): _*)): _*)
    Dedup.semDedup(proj, "vec_id", "pvec", threshold = 0.7, centsLit)
      .select(col("vec_id"))
  }

  /** Exact-count per-source sampling: exactly 7 documents per source
    * by content-hash order ([[TextFunctions.sampleExactPerGroup]]) —
    * the hard-cap mixture primitive (rate predicates only give
    * expected counts). Deterministic: the DuckDB oracle replays the
    * hash order row for row.
    */
  def q_sample_exact_n(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.sampleExactPerGroup(
        table(spark, dir, "documents"), "doc_id", "source", n = 7)
      .select(col("doc_id"), col("source"))

  /** Quality-weighted Poisson sampling
    * ([[graft.llm.TextFunctions.weightedSamplePredicate]]): each doc
    * keeps with probability 0.8 x its quality score — importance
    * weights APPLIED as a deterministic per-row selection, the missing
    * step between computing weights (q_dsir_weights, q_text_quality)
    * and producing the sampled corpus. The oracle replays the quality
    * arithmetic, the millionth-rounding, and the hash compare exactly
    * (no libm anywhere in the decision).
    */
  def q_sample_weighted(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(TextFunctions.weightedSamplePredicate(col("text"),
        TextFunctions.qualityScore(col("text")) * 0.8))
      .select(col("doc_id"))

  /** Canonical-form digests: md5 of the normalized text
    * ([[TextFunctions.normalizeText]] — NFKD, strip marks, lowercase,
    * collapse whitespace) per document. On the all-ASCII corpus the
    * DuckDB twin (`lower` + whitespace-collapse regexp) replays the
    * normalization exactly, pinning the cross-engine string semantics;
    * the Unicode folds (accents, fullwidth, ligatures) are
    * NormalizeSpec's jurisdiction.
    */
  def q_text_normalize(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        md5(TextFunctions.normalizeText(col("text"))).as("content_norm"))

  /** No-straddle bin packing over the documents corpus (bins of 512
    * whitespace tokens, 8 shards), next-fit discipline
    * ([[Packing.packBinsNextFit]]): every document lands whole in one
    * shard-local bin; the assignment is a pure left fold over the
    * (length desc, id) order, so the DuckDB oracle replays it
    * row-for-row with a recursive CTE — the full cross-engine check a
    * best-fit open-bin LIST could not get.
    */
  def q_pack_bins(spark: SparkSession, dir: String): DataFrame = {
    // token counts capped at the budget: the packers reject oversized
    // documents by contract, and this query packs whatever fits (the
    // cap stands in for the chunk-first step a real pipeline runs)
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"),
        least(size(TextFunctions.tokens(col("text"))), lit(512)).cast("long")
          .as("n_tokens"))
    Packing.packBinsNextFit(docs, "doc_id", "n_tokens", budget = 512L, shards = 8)
      .select(col("doc_id"), col("shard"), col("bin_id"))
  }

  /** Per-source top-3 documents by quality score through the native
    * partial top-k aggregate ([[graft.ops.TopK.topKPerQuery]] /
    * TopKPairs) — the aggregate finisher's driver-verified entry: its
    * ordering contract (score DESC NULLS LAST, id ASC, rank 1..k)
    * must reproduce the oracle's row_number window exactly.
    */
  def q_source_topk_quality(spark: SparkSession, dir: String): DataFrame = {
    val scored = table(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("score"))
    graft.ops.TopK.topKPerQuery(scored, "source", "doc_id", "score", 3)
      .select(col("source"), col("doc_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /** Cross-source vocabulary overlap via KMV summaries — the corpus
    * planning question ("how much of crawl B's vocabulary is already
    * in crawl A") answered at O(k) per source instead of a
    * distinct-set join. Each source's distinct trigram-hash set folds
    * into one k-min sketch (k=16384 — unsaturated at test scale, so
    * the driver-side pairwise intersections are EXACT and the DuckDB
    * join oracle hash-checks them; at 100 TB the same plan returns
    * bounded-error estimates, KmvSpec pins that regime). Only the 20
    * k-bounded summaries reach the driver.
    */
  def q_corpus_overlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 16384
    val sketches = table(spark, dir, "documents")
      .select(col("source"),
        explode(array_distinct(
          TextFunctions.shingleHashes(col("text"), 3))).as("__h"))
      .groupBy("source")
      .agg(org.apache.spark.sql.graft.KmvExpressions
        .kmvSketch(col("__h"), k).as("__s"))
      .collect()
      .map(r => r.getString(0) ->
        graft.llm.Kmv.Summary(k, r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val pairs = for {
      (sa, suma) <- sketches
      (sb, sumb) <- sketches if sa < sb
      inter = graft.llm.Kmv.intersection(suma, sumb)
      if inter > 0
    } yield (sa, sb, math.round(inter))
    pairs.toSeq.toDF("source_a", "source_b", "n_shared")
  }

  /** Stratified deterministic sampling
    * ([[TextFunctions.stratifiedSamplePredicate]]): per-source mixture
    * rates (src0 heavily downsampled, src1 kept in full, everything
    * else at the default) through the content-hash domain — the
    * data-mixing primitive, reproducible on any engine/partitioning.
    */
  def q_sample_stratified(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(TextFunctions.stratifiedSamplePredicate(col("text"), col("source"),
        Map("src0" -> 0.05, "src1" -> 1.0), defaultFraction = 0.2))
      .select(col("doc_id"), col("source"))

  // ------------------------------------------------------------------
  // Multimodal plumbing
  // ------------------------------------------------------------------

  /** Binary media column + expression-only metadata struct: everything
    * derivable without a decode (length, digest, error channel) as pure
    * map-only Catalyst expressions; dimensions/duration stay null here —
    * real values come only from the header parse in decodePartitions.
    */
  def q_multimodal_meta(spark: SparkSession, dir: String): DataFrame = {
    val bin = col("text").cast("binary")
    table(spark, dir, "documents")
      .withColumn("meta", Multimodal.mediaMeta(bin, lit("application/octet-stream")))
      .select(col("doc_id"),
        col("meta.byte_length").as("byte_length"),
        col("meta.content_hash").as("content_hash"),
        col("meta.decode_error").as("decode_error"))
  }

  /** Real image-header decode, oracled as a round-trip: the query
    * CONSTRUCTS valid PNG (even doc_id) / JPEG (odd doc_id) payloads with
    * dimensions derived from doc_id, then parses them back with the pure
    * JVM header parser inside [[Multimodal.decodePartitions]]; the DuckDB
    * oracle computes the expected dimensions arithmetically — a parser
    * bug (offset, endianness, marker walk) fails the hash compare.
    */
  def q_multimodal_decode(spark: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(1920L)) + 1).cast("int")
    val h = (pmod(col("doc_id"), lit(1080L)) + 1).cast("int")
    // PNG: signature + IHDR length/type, u32be dims, depth/color/etc
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")),
      unhex(lpad(hex(w), 8, "0")), unhex(lpad(hex(h), 8, "0")),
      unhex(lit("0806000000")))
    // JPEG: SOI + SOF0 (len 0x11, precision 8, u16be height/width,
    // 3 components) + EOI
    val jpg = concat(
      unhex(lit("FFD8FFC0001108")),
      unhex(lpad(hex(h), 4, "0")), unhex(lpad(hex(w), 4, "0")),
      unhex(lit("03012200021101031101FFD9")))
    val src = table(spark, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2L)) === 0, png).otherwise(jpg).as("payload"))
    Multimodal.decodePartitions(src, "doc_id", "payload")
      .select(col("id").as("doc_id"), col("byte_length"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
  }

  /** Real WAV (RIFF) duration decode, oracled as a round-trip like
    * [[q_multimodal_decode]]: CONSTRUCT a 44-byte canonical WAV header
    * whose sample rate and data size derive from doc_id, parse it back
    * with the pure-JVM RIFF chunk walk, and have DuckDB compute the
    * expected duration arithmetically — any offset/endianness/chunk-walk
    * bug fails the hash compare.
    */
  def q_multimodal_audio(spark: SparkSession, dir: String): DataFrame = {
    def leB(c: Column, k: Int): Column =
      unhex(lpad(hex(pmod(shiftrightunsigned(c, 8 * k), lit(256L))), 2, "0"))
    def le16(c: Column): Column = concat(leB(c, 0), leB(c, 1))
    def le32(c: Column): Column = concat(leB(c, 0), leB(c, 1), leB(c, 2), leB(c, 3))
    val sampleRate = (pmod(col("doc_id"), lit(5L)) * 8000L + 8000L)
    val byteRate = sampleRate * 2 // mono 16-bit PCM
    val dataSize = pmod(col("doc_id") * 977L, lit(1000000L)) + 1000L
    val wav = concat(
      lit("RIFF".getBytes("US-ASCII")), le32(dataSize + 36L),
      lit("WAVEfmt ".getBytes("US-ASCII")), le32(lit(16L)),
      le16(lit(1L)), le16(lit(1L)), le32(sampleRate), le32(byteRate),
      le16(lit(2L)), le16(lit(16L)),
      lit("data".getBytes("US-ASCII")), le32(dataSize))
    val src = table(spark, dir, "documents")
      .select(col("doc_id"), wav.as("payload"))
    Multimodal.decodePartitions(src, "doc_id", "payload")
      .select(col("id").as("doc_id"), col("byte_length"),
        col("duration_ms"), col("ok"))
  }

  /** Real MP3 duration decode, oracled as a round-trip like
    * [[q_multimodal_audio]]: even doc_ids CONSTRUCT a VBR payload — an
    * ID3v2 tag (exercising the syncsafe skip), an MPEG1 Layer III mono
    * frame header, 17 side-info bytes, and a Xing block whose frame count
    * derives from doc_id; odd doc_ids construct a CBR payload (header +
    * doc_id-sized padding). The pure-JVM frame-header walk parses both
    * back, and DuckDB recomputes the expected durations arithmetically
    * from the public bitrate/sample-rate tables — any table, offset, or
    * syncsafe bug fails the hash compare.
    */
  def q_multimodal_mp3(spark: SparkSession, dir: String): DataFrame = {
    def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
    val zeroBlob = lit(new Array[Byte](1200))
    def zeros(n: Column): Column = zeroBlob.substr(lit(1), n)
    val bri = pmod(col("doc_id"), lit(14L)) + 1 // bitrate index 1..14
    val sri = pmod(col("doc_id"), lit(3L))      // sample-rate index 0..2
    // 0xFF 0xFB = sync + MPEG1 + Layer III; byte 2 packs bitrate/samplerate
    val hdr = concat(unhex(lit("FFFB")),
      unhex(lpad(hex(bri * 16 + sri * 4), 2, "0")), unhex(lit("C0")))
    val id3sz = pmod(col("doc_id"), lit(50L))
    // "ID3" + version 03 00 + flags 00 + syncsafe u28 size (here < 128,
    // so three zero bytes + the size byte)
    val id3 = concat(lit("ID3".getBytes("US-ASCII")), unhex(lit("030000000000")),
      unhex(lpad(hex(id3sz), 2, "0")), zeros(id3sz))
    val frames = pmod(col("doc_id") * 7919L, lit(100000L)) + 100
    val xing = concat(lit("Xing".getBytes("US-ASCII")), be32(lit(1L)), be32(frames))
    val vbr = concat(id3, hdr, zeros(lit(17L)), xing)
    val cbr = concat(hdr, zeros(pmod(col("doc_id"), lit(1000L)) + 60))
    val src = table(spark, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(2L)) === 0, vbr).otherwise(cbr).as("payload"))
    Multimodal.decodePartitions(src, "doc_id", "payload")
      .select(col("id").as("doc_id"), col("byte_length"),
        col("duration_ms"), col("ok"))
  }

  /** Real MP4 (ISO-BMFF) duration decode, round-trip oracled: CONSTRUCT
    * an `ftyp` box plus a `moov`/`mvhd` whose timescale and duration
    * derive from doc_id — version-0 (u32 fields) for even ids, version-1
    * (u64 fields) for odd — parse back with the pure-JVM box walk, and
    * have DuckDB recompute duration×1000/timescale arithmetically. Also
    * exercises [[Multimodal.frameSampleIndexes]] on the REAL decoded
    * duration (n_frames at 40 ms spacing).
    */
  def q_multimodal_mp4(spark: SparkSession, dir: String): DataFrame = {
    def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
    def be64(c: Column): Column = unhex(lpad(hex(c), 16, "0"))
    val ts = (pmod(col("doc_id"), lit(4L)) + 1) * 600
    val dur = pmod(col("doc_id") * 977L, lit(1000000L)) + 1000L
    val ftyp = concat(be32(lit(16L)), lit("ftypisom".getBytes("US-ASCII")), be32(lit(0L)))
    val mvhd0 = concat(be32(lit(28L)), lit("mvhd".getBytes("US-ASCII")),
      unhex(lit("00000000")), be32(lit(0L)), be32(lit(0L)), be32(ts), be32(dur))
    val moov0 = concat(be32(lit(36L)), lit("moov".getBytes("US-ASCII")), mvhd0)
    val mvhd1 = concat(be32(lit(40L)), lit("mvhd".getBytes("US-ASCII")),
      unhex(lit("01000000")), be64(lit(0L)), be64(lit(0L)), be32(ts), be64(dur))
    val moov1 = concat(be32(lit(48L)), lit("moov".getBytes("US-ASCII")), mvhd1)
    val src = table(spark, dir, "documents")
      .select(col("doc_id"), concat(ftyp,
        when(pmod(col("doc_id"), lit(2L)) === 0, moov0).otherwise(moov1)).as("payload"))
    Multimodal.decodePartitions(src, "doc_id", "payload")
      .select(col("id").as("doc_id"), col("byte_length"), col("duration_ms"),
        size(Multimodal.frameSampleIndexes(col("duration_ms"), 40L))
          .cast("long").as("n_frames"),
        col("ok"))
  }

  /** Frame-sample row expansion on REAL decoded durations: the mp4
    * round-trip's duration feeds [[Multimodal.frameSampleIndexes]] and
    * explodes to one row per 40 s sample point — the lightweight
    * (id, frame_idx, offset) rows a frame-decode stage fans out over,
    * with the binary payload never duplicated. DuckDB regenerates the
    * same series arithmetically.
    */
  def q_multimodal_frames(spark: SparkSession, dir: String): DataFrame =
    q_multimodal_mp4(spark, dir)
      .select(col("doc_id"),
        posexplode(Multimodal.frameSampleIndexes(col("duration_ms"), 40000L))
          .as(Seq("frame_idx", "offset_ms")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("offset_ms"))

  /** REAL full-pixel decode round-trip: CONSTRUCT a solid-gray PNG per
    * doc_id (gray level, width, and height all derive from doc_id; the
    * bytes come from `ImageIO.write`, so this exercises a genuine zlib
    * IDAT encode/decode cycle, not a hand-built header), run it through
    * [[Multimodal.imageFeaturesPartitions]], and have DuckDB compute the
    * expected dimensions and mean luma arithmetically — a solid gray
    * image's integer-milli luma mean is its gray level EXACTLY, so any
    * pixel-decode, channel-order, or luma-formula bug fails the hash
    * compare. The encode UDF is fixture construction only (production
    * callers bring their own binary column); the decode side is the
    * shipped map-only batch loop.
    */
  def q_multimodal_pixels(spark: SparkSession, dir: String): DataFrame = {
    val pngOf = udf { (id: Long) =>
      val c = ((id * 37 + 11) % 256).toInt
      val w = (id % 5).toInt + 2
      val h = (id % 3).toInt + 1
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (c << 16) | (c << 8) | c
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) { img.setRGB(x, y, rgb); y += 1 }
        x += 1
      }
      javax.imageio.ImageIO.setUseCache(false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val src = table(spark, dir, "documents")
      .select(col("doc_id"), pngOf(col("doc_id")).as("payload"))
    Multimodal.imageFeaturesPartitions(src, "doc_id", "payload")
      .select(col("id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("mean_luma"),
        size(col("features")).cast("long").as("n_features"),
        col("ok"))
  }

  /** Interleaved multimodal sequence packing — the training-batch
    * budgeting question for an image-text corpus: each document costs
    * its text tokens PLUS `ceil(w/14)*ceil(h/14)` ViT patch tokens per
    * attached image (+2 boundary tokens per image), and documents pack
    * into 4096-token sequences with [[Packing.packSequences]].
    *
    * The images are CONSTRUCTED PNG headers whose dimensions derive
    * from (doc_id, k) — doc_id % 3 images per document — and the patch
    * counts flow through the REAL header parse
    * ([[Multimodal.decodePartitions]]), so the oracle's arithmetic
    * shortcut re-verifies the parser round-trip AND the packing
    * prefix-sum at once. Scale shape: patch counting is header-only
    * (a few dozen bytes per image, never a pixel), the per-image rows
    * that shuffle into the per-doc sum are (img_id, n_patch) longs —
    * the payload never leaves its scan task — and the pack itself is
    * one window over (shard, id).
    */
  def q_pack_multimodal(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    // k-th image of a doc: img_id = doc_id*2 + k (k < 2 by doc_id % 3)
    val nImg = pmod(col("doc_id"), lit(3L)).cast("int")
    val imgIds = docs
      .select(col("doc_id"),
        explode(slice(array(lit(0L), lit(1L)), lit(1), nImg)).as("k"))
      .select((col("doc_id") * 2 + col("k")).as("img_id"),
        (pmod(col("doc_id") * 7 + col("k") * 13, lit(1920L)) + 1)
          .cast("int").as("w"),
        (pmod(col("doc_id") * 11 + col("k") * 17, lit(1080L)) + 1)
          .cast("int").as("h"))
    // same canonical PNG construction as q_multimodal_decode
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")),
      unhex(lpad(hex(col("w")), 8, "0")), unhex(lpad(hex(col("h")), 8, "0")),
      unhex(lit("0806000000")))
    val perImage = Multimodal.decodePartitions(
        imgIds.select(col("img_id"), png.as("payload")), "img_id", "payload")
      .select(col("id"),
        (Multimodal.patchTokens(col("width"), col("height"), 14) + 2L)
          .as("n_patch"))
    val perDoc = perImage
      .groupBy((col("id") / 2).cast("long").as("doc_id"))
      .agg(sum("n_patch").as("img_tok"))
    val counted = docs
      .select(col("doc_id"),
        TextFunctions.regexTokenCount(col("text")).cast("long").as("txt_tok"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("txt_tok") + coalesce(col("img_tok"), lit(0L))).as("n_tokens"))
    Packing.packSequences(counted, "doc_id", "n_tokens",
        budget = 4096L, shards = 4)
      .select("doc_id", "shard", "seq_id", "seq_offset", "n_tokens")
  }

  /** Quadrant fixture for the image near-dup flagship: a `px` x `px`
    * two-tone PNG whose four `px/2`-square quadrants are black or white
    * by bits 0-3 of the id — 16 deterministic image classes, identical
    * bytes within a class.
    */
  private def quadrantPng(id: Long, px: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      px, px, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < px) {
      var y = 0
      while (y < px) {
        val q = (if (x >= px / 2) 1 else 0) + (if (y >= px / 2) 2 else 0)
        val c = if (((id >> q) & 1L) == 1L) 255 else 0
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
        y += 1
      }
      x += 1
    }
    javax.imageio.ImageIO.setUseCache(false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Image near-dup flagship (ORACLED): the multimodal composition the
    * family lacked a headline for — binary image column -> real pixel
    * decode + feature extraction ([[Multimodal.imageFeaturesPartitions]])
    * -> exact-twin collapse + IVF-bucketed semantic dedup
    * ([[Dedup.semDedupDistinct]] — identical kept set as semDedup, with
    * the cell-local quadratic over DISTINCT vectors only, which is what
    * lets the 16-class fixture scale), end to end.
    *
    * The fixture makes the whole chain EXACTLY oracle-checkable: 4x4
    * quadrant PNGs decode at identity scale (no resample blending), so
    * features are the quadrant's exact {0, 255} bytes and DuckDB can
    * rebuild the 4-dim quadrant vector arithmetically — per-quadrant
    * repetition cancels out of every cosine, the repeated-component
    * norm/dot scalings are exact power-of-two FP rescalings, and the
    * sums are small-integer-exact, so the DuckDB cosines are
    * bit-identical to the native [[Dedup.dot]]/[[Dedup.l2norm]] path.
    * Cell assignment reduces to first-max cosine over four
    * one-bright-quadrant centroids (ties resolve to the FIRST maximum in
    * both engines — CosineArgmax uses strict `>`); all-dark images are
    * zero-norm -> null cell -> never dropped, the semDedup contract.
    * Same-class cosine is exactly 1; the closest cross-class pair is
    * 3/sqrt(12) ~ 0.866, far under the 0.95 threshold — the kept set is
    * exact, not threshold-fragile.
    */
  def q_image_neardup(spark: SparkSession, dir: String): DataFrame = {
    val pngOf = udf((id: Long) => quadrantPng(id, 4))
    val src = table(spark, dir, "documents")
      .select(col("doc_id"), pngOf(col("doc_id")).as("payload"))
    // the decode output feeds three consumers (zero/nonzero split +
    // the final semi-join); without a lineage cut each re-runs the
    // pixel decode — the pruned-consumers pattern exchange reuse never
    // catches (PERFNOTES r8 curation section)
    val feats = Multimodal.imageFeaturesPartitions(src, "doc_id", "payload",
        side = 4)
      .filter(col("ok"))
      .select(col("id").as("doc_id"), col("features"))
      .localCheckpoint(eager = false)
    val cents = array((0 until 4).map { j =>
      array((0 until 16).map { i =>
        val q = (if (i % 4 >= 2) 1 else 0) + (if (i / 4 >= 2) 2 else 0)
        lit(if (q == j) 255f else 0f)
      }: _*)
    }: _*)
    Dedup.semDedupDistinct(feats, "doc_id", "features", 0.95, cents)
      .select(col("doc_id"))
  }

  /** BENCH-ONLY image near-dup flagship at realistic decode cost: the
    * same composition as [[q_image_neardup]] with 64x64 PNGs — real
    * zlib inflate + 4096-pixel luma/resample work per image, the part
    * the 4x4 oracle fixture deliberately minimizes. Correctness of the
    * composition is q_image_neardup's exact oracle; this entry exists so
    * BENCH_r{N} carries the decode-heavy timing (Bench.benchOnly).
    */
  def q_image_neardup_e2e(spark: SparkSession, dir: String): DataFrame = {
    val pngOf = udf((id: Long) => quadrantPng(id, 64))
    val src = table(spark, dir, "documents")
      .select(col("doc_id"), pngOf(col("doc_id")).as("payload"))
    // the decode output feeds three consumers (zero/nonzero split +
    // the final semi-join); without a lineage cut each re-runs the
    // pixel decode — the pruned-consumers pattern exchange reuse never
    // catches (PERFNOTES r8 curation section)
    val feats = Multimodal.imageFeaturesPartitions(src, "doc_id", "payload",
        side = 4)
      .filter(col("ok"))
      .select(col("id").as("doc_id"), col("features"))
      .localCheckpoint(eager = false)
    val cents = array((0 until 4).map { j =>
      array((0 until 16).map { i =>
        val q = (if (i % 4 >= 2) 1 else 0) + (if (i / 4 >= 2) 2 else 0)
        lit(if (q == j) 255f else 0f)
      }: _*)
    }: _*)
    Dedup.semDedupDistinct(feats, "doc_id", "features", 0.95, cents)
      .select(col("doc_id"))
  }

  /** SemDeDup over the embeddings corpus: IVF cells from the first-8
    * codebook, drop every vector with a lower-id near-duplicate
    * (cos >= 0.35) in its cell — the kept set the training run reads.
    */
  def q_semdedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    Dedup.semDedup(emb, "vec_id", "embedding", 0.35, firstKCodebookLit(emb))
      .select(col("vec_id"))
  }

  /** [[q_semdedup]] through the TABLE-mode codebook
    * ([[Dedup.semDedupTable]] — the past-the-literal-cap escape,
    * r15): the same first-8 centroids as a broadcast-joined (cell,
    * cvec) frame instead of a plan literal. Same oracle SQL — the kept
    * set is contract-identical (SemDedupTableSpec pins it
    * bit-for-bit); this row puts the table path itself under the
    * driver's gate.
    */
  def q_semdedup_table(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1).cast("int").as("cell"),
        col("embedding").as("cvec"))
    Dedup.semDedupTable(emb, "vec_id", "embedding", 0.35, cents)
      .select(col("vec_id"))
  }

  /** SemDeDup through the TWO-LEVEL (coarse → refine) assignment
    * ([[Similarity.ivfAssignTwoLevel]], r15 — the very-large-nlist form
    * whose per-row argmax costs m + nlist/m instead of nlist): coarse =
    * first 2 vectors, fine = first 8 as a (coarse, cell, cvec) table
    * each owned by ITS nearest coarse centroid. The cells are a
    * different (deterministic) partitioning than flat argmax's, so this
    * query has its OWN oracle: DuckDB replays both argmax stages —
    * fine-centroid ownership, row coarse, row refine-within-group —
    * with the same (cos DESC, id ASC) tie rule.
    */
  def q_semdedup_twolevel(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val (coarse, fine) =
      Similarity.twoLevelCodebook(emb, "vec_id", "embedding", m = 2, nlist = 8)
    Dedup.semDedupTwoLevel(emb, "vec_id", "embedding", 0.35, coarse, fine)
      .select(col("vec_id"))
  }

  /** BM25 retrieval: the first 3 documents as queries against the whole
    * corpus through the inverted-index join, top-5 per query.
    */
  def q_bm25_topk(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    Retrieval.bm25TopK(docs, "doc_id", "text",
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
  }

  /** Exact PHRASE search over the positional index
    * ([[Retrieval.positionalPostings]] + [[Retrieval.phraseMatches]]):
    * all documents containing the 3-token phrase "big order scan"
    * consecutively, with occurrence count and first position — the
    * (k−1)-fold (doc, start) set intersection, each leg one term's
    * pruned postings read. The oracle slides a window over the token
    * lists directly, so the hash compare proves the rebased-position
    * intersection finds exactly the consecutive runs.
    */
  def q_phrase_search(spark: SparkSession, dir: String): DataFrame = {
    val post = Retrieval.positionalPostings(
      table(spark, dir, "documents"), "doc_id", "text")
    Retrieval.phraseMatches(post, Seq("big", "order", "scan"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_matches"),
        min("start").as("first_pos"))
  }

  /** PROXIMITY search over the positional index
    * ([[Retrieval.proximityPairs]]): documents where "table" and
    * "value" co-occur within 3 token positions, with pair count and
    * the tightest gap — the near-operator retrieval predicate.
    */
  def q_proximity_search(spark: SparkSession, dir: String): DataFrame = {
    val post = Retrieval.positionalPostings(
      table(spark, dir, "documents"), "doc_id", "text")
    Retrieval.proximityPairs(post, "table", "value", window = 3)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        min(abs(col("pos_a") - col("pos_b"))).as("min_gap"))
  }

  /** Vector-space retrieval ([[Retrieval.tfidfCosineTopK]]): tf-idf
    * cosine top-5 for the first 3 documents as queries — the length-
    * normalized classical scorer next to [[q_bm25_topk]]'s saturation
    * form, served from the same postings build. Hash-exact through the
    * round9(ln) idf, decimal-summed norms/dots, and the 1e-6 cosine
    * grid.
    */
  def q_tfidf_cosine(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    Retrieval.tfidfCosineTopK(docs, "doc_id", "text",
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
  }

  /** [[q_tfidf_cosine]] through the build/search split with the query
    * batch's terms PUSHED into the weights scan
    * ([[Retrieval.buildTfidf]] + [[Retrieval.searchTfidfPruned]] — the
    * `q_bm25_pruned` serving precedent applied to the vector-space
    * scorer). Same oracle SQL: the join already restricts scoring to
    * query terms, so pruning changes which bytes are read, never the
    * result; this row puts the split + pruned path under the gate.
    */
  def q_tfidf_indexed(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val (w, nrm, termDf, stats) = Retrieval.buildTfidf(docs, "doc_id", "text")
    Retrieval.searchTfidfPruned(w, nrm, termDf, stats,
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
  }

  /** [[q_bm25_topk]] through the term-PRUNED search
    * ([[Retrieval.searchPostingsPruned]], r15 — the serving form that
    * pushes the query batch's term set into the index scan). Same
    * oracle SQL: the join already restricts scoring to query terms, so
    * pruning the scan changes which bytes are read, never the result;
    * this row puts the pruned path itself under the driver's gate.
    */
  def q_bm25_pruned(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val (post, stats) = Retrieval.buildPostings(docs, "doc_id", "text")
    Retrieval.searchPostingsPruned(post, stats,
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
  }

  /** Two-stage retrieval: BM25 recalls top-20 candidates per query
    * (cheap, inverted index), exact cosine over the aligned embeddings
    * REranks them to top-5 (expensive scorer touches 20 rows/query,
    * never the corpus) — the standard retrieve-then-rerank serving
    * shape, fully oracled end-to-end (both stages reuse the exact
    * trees `q_bm25_topk` / `q_ann_topk` pin individually).
    */
  def q_rerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val cands = Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 3), "doc_id", "text", k = 20)
      .filter(col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"))
    val emb = table(spark, dir, "embeddings")
    val scored = cands
      .join(broadcast(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), Seq("query_id"))
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")), Seq("neighbor_id"))
      .withColumn("qn", Dedup.l2norm(col("qv")))
      .withColumn("cn", Dedup.l2norm(col("cv")))
      .withColumn("cos",
        when(col("qn") > 0 && col("cn") > 0,
          Dedup.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Sketch-based corpus profile — the 100 TB form of `q_corpus_stats`:
    * per-source distinct counts via the KMV summary and token-length
    * quantiles via the bottom-k-by-hash value sample
    * ([[org.apache.spark.sql.graft.QuantileKmvSketch]]) keep per-group
    * state O(k) instead of shuffling every digest / sorting every
    * length; both summaries combine map-side exactly like sums AND
    * persist/fold across snapshots ([[graft.llm.Kmv.vunion]] — the
    * mergeability `percentile_approx`'s engine-private digest lacks).
    * Driver-checkable by the engine's exact-regime contract (the
    * `q_corpus_overlap` precedent): unsaturated summaries hold the
    * exact sets, so distinct counts and the pinned rank-rule quantiles
    * (rank = max(1, ceil(p*n)) over values ascending) hash-match a
    * DuckDB exact replay; at 100 TB the identical plan returns
    * bounded-error estimates, SketchSpec's jurisdiction. Quantile
    * extraction is relational (sort the sample, index the rank) — no
    * driver collect anywhere.
    */
  def q_corpus_sketch(spark: SparkSession, dir: String): DataFrame =
    graft.llm.CorpusProfile.report(
      graft.llm.CorpusProfile.profile(
        table(spark, dir, "documents"), "source", "doc_id", "text"),
      "source")

  /** The INCREMENTAL form of [[q_corpus_sketch]]
    * ([[graft.llm.CorpusProfile.fold]]): profile the even- and odd-id
    * halves of the corpus as two independent "snapshots", fold the two
    * persisted profiles relationally (explode + re-sketch — no driver
    * state, no archive re-read), and report. The output must equal the
    * whole-corpus profile BIT-FOR-BIT (bottom-k of a union == bottom-k
    * of merged bottom-ks), so the oracle is `q_corpus_sketch`'s own
    * whole-corpus SQL — the driver row that pins the fold path
    * cross-engine.
    */
  def q_profile_fold(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val a = graft.llm.CorpusProfile.profile(
      docs.filter(col("doc_id") % 2 === 0), "source", "doc_id", "text")
    val b = graft.llm.CorpusProfile.profile(
      docs.filter(col("doc_id") % 2 === 1), "source", "doc_id", "text")
    graft.llm.CorpusProfile.report(
      graft.llm.CorpusProfile.fold(a, b, "source"), "source")
  }

  /** Deterministic training shuffle: every document's shard (stable
    * hash bucket) and within-shard read position — the reproducible
    * permutation a training reader consumes. Shard and order are
    * independent md5-bit streams, so the oracle replays both exactly.
    * Scale note: the `position` window exists to make the order
    * oracle-checkable (parallelism = nShards, fine at thousands of
    * file-grained shards); a production sink repartitions by shard
    * and sorts within partitions, never running a window at all.
    */
  def q_shard_assign(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("shuffle_order"), col("doc_id"))
    Mixing.shuffleKeys(docs, "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"), col("shuffle_order"))
      .withColumn("position", row_number().over(w).cast("long"))
  }

  /** Token-budget mixture plan over the corpus sources: 4 weighted
    * sources against a 50k-token budget with a 2.5-epoch repeat cap;
    * unweighted sources report zero epochs. One aggregation + literal
    * arithmetic — the planning step of a Pile/Llama-style data recipe.
    */
  def q_mixture_plan(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .withColumn("n_tokens",
        size(TextFunctions.tokens(col("text"))).cast("long"))
    Mixing.mixturePlan(docs, "source", "n_tokens",
      Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
      budget = 50000.0, maxEpochs = 2.5)
  }

  /** Temperature-scaled mixture weights from the corpus's own token
    * shares ([[Mixing.temperatureWeights]], r18): w_s ∝ share_s^(1/T)
    * at T = 2 — the multilingual-sampling standard that lifts
    * low-resource sources without hand-written weights. Oracle replays
    * the decimal sums, the round6 share, the round9'd libm pow, and
    * the decimal-normalized round6 weight.
    */
  def q_mixture_temperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .withColumn("n_tokens",
        size(TextFunctions.tokens(col("text"))).cast("long"))
    Mixing.temperatureWeights(docs, "source", "n_tokens", temperature = 2.0)
  }

  /** The COMPOSED recipe path (VERDICT r18 #8, the standalone-oracle-
    * splice convention): [[Mixing.temperatureWeights]] at T = 2 →
    * collect the source-cardinality weight table (a handful of rows by
    * contract) → feed it to [[Mixing.mixturePlan]] as the weight map —
    * the full corpus-derived data recipe with no hand-written weights.
    * The oracle splices the q_mixture_temperature chain into the
    * q_mixture_plan chain, with the plan's weight normalizer computed
    * as the SAME decimal-18 sum mixturePlan now uses (order-free, so
    * the collected Map's iteration order cannot matter).
    */
  def q_mixture_plan_tempered(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .withColumn("n_tokens",
        size(TextFunctions.tokens(col("text"))).cast("long"))
    val w = Mixing.temperatureWeights(docs, "source", "n_tokens",
        temperature = 2.0)
      .select("source", "weight").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    Mixing.mixturePlan(docs, "source", "n_tokens", w,
      budget = 50000.0, maxEpochs = 2.5)
  }

  /** Epoch expansion under a fractional-epochs map: per (source,
    * epoch) document counts after [[Mixing.mixtureExpand]] — full
    * copies for the integer part, deterministic per-document hash
    * membership for the fractional tail.
    */
  def q_mixture_expand(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    Mixing.mixtureExpand(docs, "doc_id", "source",
      Map("src0" -> 2.25, "src1" -> 0.5, "src2" -> 1.0))
      .groupBy(col("source"), col("epoch").cast("long").as("epoch"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Same retrieval through the explicit build/search split
    * ([[Retrieval.buildPostings]] / [[Retrieval.searchPostings]]) — the
    * path a serving deployment runs, where the index is built once and
    * persisted. Verify checks it against the SAME oracle as
    * `q_bm25_topk` (the split must not change a single rank); Bench
    * times it with the index pre-built and persisted per session
    * ([[graft.Bench.setup]]), so the row measures search cost alone.
    */
  def q_bm25_indexed(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val (post, stats) = Retrieval.buildPostings(docs, "doc_id", "text")
    Retrieval.searchPostings(post, stats,
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
  }

  /** Incrementally-maintained BM25: the normalized index is built on
    * the first half of the corpus, the second half folds in through
    * [[Retrieval.updatePostingsNorm]] (postings append-only; only the
    * vocabulary-sized term table and one-row stats merge), and search
    * runs over the updated index. Ranks the full corpus — same oracle
    * as `q_bm25_topk`, because update-then-search must equal
    * build-on-the-union exactly.
    */
  def q_bm25_incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val (p0, t0, s0) = Retrieval.buildPostingsNorm(
      docs.filter(col("doc_id") < 250), "doc_id", "text")
    val (p1, t1, s1) = Retrieval.updatePostingsNorm(p0, t0, s0,
      docs.filter(col("doc_id") >= 250), "doc_id", "text")
    Retrieval.searchPostingsNorm(p1, t1, s1,
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5)
  }

  /** The BM25 index maintained through the REAL Structured Streaming
    * path (VERDICT r19 #3 — extends the r19 real-stream verification
    * class to the log-structured maintainer family, whose
    * `q_*_incremental` oracles replay `appendBatch` as batch calls):
    * the corpus arrives as a parquet file-source stream under
    * `maxFilesPerTrigger = 1` (three files → three micro-batches), the
    * actual `writeStream.foreachBatch` sink drives
    * [[graft.streaming.StreamingRetrieval.appendBatch]] with
    * `autoCompactEvery = 2` so a compaction folds the log MID-stream
    * (batches 0-1 collapse into the `batch_id = -1` generation while
    * batch 2 is still in flight; the load then folds a mixed
    * generation set), and serving runs the PRUNED scan over the loaded
    * log — the query batch's term set pushed into the on-disk postings
    * read as a literal `In`, the O(query)-bytes path retrievalscale10
    * measured. Stream-maintain + fold + pruned-search must equal
    * build-on-everything: same oracle as `q_bm25_topk`, checked
    * independently.
    */
  def q_bm25_stream(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingRetrieval
    val docs = table(spark, dir, "documents").select("doc_id", "text")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_bm25stream_").toString
    try {
      val src = s"$tmp/in"
      docs.filter(col("doc_id") < 150).coalesce(1)
        .write.mode("overwrite").parquet(src)
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 350).coalesce(1)
        .write.mode("append").parquet(src)
      docs.filter(col("doc_id") >= 350).coalesce(1)
        .write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val query = StreamingRetrieval.maintainIndex(stream, "doc_id", "text",
          s"$tmp/index", s"$tmp/ckpt", autoCompactEvery = 2).start()
      try query.processAllAvailable() finally query.stop()
      val (post, termDf, stats) =
        StreamingRetrieval.loadIndex(spark, s"$tmp/index")
      val queries = docs.filter(col("doc_id") < 3)
      // the searchPostingsPruned serving discipline over the streamed
      // log: the batch's terms reach the postings parquet scan as
      // PushedFilters In(term, ...) — bounded by the query batch
      val terms = queries
        .select(explode(TextFunctions.tokens(col("text"))).as("term"))
        .distinct().collect().map(_.getString(0))
      Retrieval.searchPostingsNorm(
          post.filter(col("term").isin(terms.toIndexedSeq: _*)),
          termDf, stats, queries, "doc_id", "text", k = 5)
        .localCheckpoint()
    } finally deleteTempDir(tmp)
  }

  /** Hybrid retrieval: RRF-fuse the BM25 run (first 3 documents as
    * queries) with a dense brute-force cosine run for the same query ids
    * over the embeddings corpus (vec_id aligned with doc_id, the usual
    * aligned-id layout), top-5 per query.
    */
  def q_rrf_hybrid(spark: SparkSession, dir: String): DataFrame = {
    val lex = q_bm25_topk(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = table(spark, dir, "embeddings")
    val dense = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(Seq(lex, dense), k = 5)
  }

  /** End-to-end batch curation flagship (the LLM-path analogue of
    * q_pipeline_e2e's composed-DAG hash check): the dup corpus gets a
    * per-copy PII suffix — so exact twins differ pre-redaction and
    * collapse only BECAUSE redaction runs before dedup — then flows
    * through [[Curation.curate]]: quality gate -> redact -> exact dedup
    * -> LSH near-dedup (verify + cluster + keep minima). The oracle
    * replays the whole chain, recursive-CTE closure included.
    */
  def q_curation_e2e(spark: SparkSession, dir: String): DataFrame = {
    val base = dupCorpus(spark, dir)
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com")))
    Curation.curate(base, "doc_id", "text",
        minQuality = 0.25, jaccardThreshold = 0.2)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        col("quality"))
  }

  /** Corpus curation through the REAL Structured Streaming path
    * ([[graft.streaming.StreamingCuration.curateStream]] — quality
    * gate → PII redaction → `dropDuplicatesWithinWatermark` exact
    * dedup, as ONE streaming query over a parquet file-source stream):
    * the q_curation_e2e corpus (per-copy PII suffixes, so exact twins
    * collapse only BECAUSE redaction runs before dedup) replays with
    * doc_id-derived event times. The stream keeps the FIRST arrival
    * per digest (batch keeps min-id — a canonical-selection difference
    * the object doc owns), so the output is the winner-INDEPENDENT
    * projection: the distinct redacted-content digests that survived
    * the gate. Written as ONE file so a micro-batch boundary can never
    * put a duplicate pair across the watermark horizon.
    */
  def q_curation_stream(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingCuration
    val base = dupCorpus(spark, dir)
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com")))
      .withColumn("ts", timestamp_micros(col("doc_id") * 1000000L))
      .select("doc_id", "text", "ts")
    StreamHarness.run(spark, "q_curation_stream_sink", base,
        oneFile = true)(
      s => StreamingCuration.curateStream(s, "text", "ts",
        minQuality = 0.25, lateness = "2 hours"))(
      _.select(col("content_hash")))
  }

  /** LSH near-dup candidate generation through the REAL Structured
    * Streaming path ([[graft.streaming.StreamingNearDup]] —
    * `bandedStream`'s fused-shingle-pass typed map feeding
    * `candidatePairs`' per-bucket `flatMapGroupsWithState`): the dup
    * corpus replays through a parquet file-source stream; each
    * arriving document pairs against its band buckets' EXISTING
    * members, so the emitted multiset is exactly one row per
    * (shared bucket, unordered pair) however the micro-batches fall —
    * the oracle is the bands self-join WITHOUT the final distinct
    * (dedup of repeated pairs across bands belongs to the downstream
    * compaction, as in the batch path). Fixture buckets max out at 9
    * members (measured), so the 1000-cap divergence between the
    * stream's first-k keep and the batch's drop-bucket rule is
    * unreachable.
    */
  def q_neardup_stream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    val base = dupCorpus(spark, dir).select(col("doc_id"), col("text"))
    StreamHarness.run(spark, "q_neardup_stream_sink", base)(
      s => StreamingNearDup.candidatePairs(
        StreamingNearDup.bandedStream(s, "doc_id", "text")
          .as[StreamingNearDup.BandedDoc]).toDF())(
      _.select(col("idA").as("id_a"), col("idB").as("id_b")))
  }

  /** The curation DROP LEDGER ([[Curation.curateAudit]], r15): one row
    * per input document with the stage that eliminated it (`kept` /
    * `gate` / `exact_dup` / `near_dup`) and its quality score — the
    * per-stage drop attribution a 100 TB curation run monitors. Same
    * corpus and parameters as [[q_curation_e2e]], so the oracle shares
    * that query's CTE chain and only the final projection changes (a
    * disposition CASE over the gate, exact-keep, and near-dup-drop
    * sets).
    */
  def q_curation_audit(spark: SparkSession, dir: String): DataFrame = {
    val base = dupCorpus(spark, dir)
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com")))
    Curation.curateAudit(base, "doc_id", "text",
      minQuality = 0.25, jaccardThreshold = 0.2)
  }

  /** Token-exact blocklist gate ([[Curation.blocklistGate]]): three
    * unwanted terms against every document — occurrence count, sorted
    * distinct hit list (flattened for the comparator), and the
    * keep/drop decision at `maxHits = 2`. The oracle replays the
    * explode → term join → doc agg chain; the threshold sits strictly
    * inside the observed count range so BOTH decisions occur.
    */
  def q_blocklist_filter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("slow", "dup", "big").toDF("term")
    Curation.blocklistGate(table(spark, dir, "documents"),
        "doc_id", "text", terms, "term", maxHits = 2L)
      .select(col("doc_id"), col("n_blocked"),
        concat_ws(" ", col("blocked_terms")).as("blocked_joined"),
        col("keep"))
  }

  /** The TRAINING-DATA FLAGSHIP (VERDICT r15 #4): the full composition
    * a pretraining-data run executes, hash-checked as ONE chain the way
    * `q_pipeline_e2e` checks the ETD DAG —
    *
    *   crawl page → main-content extraction → token gate →
    *   quality gate → PII redaction → exact dedup → near dedup →
    *   DROP LEDGER → leakage-safe train/val/test split (r17:
    *   candidate-cluster-keyed, the q_split_leakage_safe machinery) →
    *   mixture plan (per-source epochs, collected at plan grain —
    *   ~sources rows, the one sanctioned driver value) →
    *   epoch expansion → sequence packing → occupancy manifest (r17).
    *
    * One output table at three self-describing grains — the actual
    * trainer handoff: a row per INPUT document with its disposition
    * (`token_gate` / `gate` / `exact_dup` / `near_dup` / `kept`),
    * quality, and (kept rows) its cluster split key + split label; a
    * `packed` row per (kept document × epoch) instance with its
    * shard/sequence coordinates and inherited split; and a `manifest`
    * row per (instance × occupied sequence) with the in-sequence start
    * offset (`seq_offset`) and token count (`n_tok`) — the loss-mask /
    * attention-reset view. Every stage reuses the oracle-pinned splice
    * of its standalone query (`q_cc_pipeline`, `q_curation_audit`,
    * `q_split_leakage_safe`, `q_mixture_expand`, `q_pack_sequences`,
    * `q_pack_manifest`), so a hash mismatch localizes to the
    * COMPOSITION, not a re-derivation.
    *
    * Scale shape: the intake and ledger are the curation chain's
    * (lineage-cut once — the extraction regexes are what grow with
    * corpus bytes); the plan is a source-grain agg; expansion is
    * map-side posexplode; packing is per-shard windows. Nothing new
    * materializes beyond the stages' own audited shapes.
    */
  def q_training_data_e2e(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val corpus0 = d.unionByName(
        d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"), col("source"),
            col("text")))
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com")))
    // lazy cut at the EXTRACTION output: both gate branches (intake ≥ 5,
    // token_gate < 5), the ledger, and the kept-side join all read these
    // blocks — without the cut each consumer re-runs the page-render +
    // boilerplate-removal regexes, the chain's dominant map cost
    // (Checkpoints.sweep frees the blocks post-action)
    val gated = corpus0
      .withColumn("main", TextFunctions.htmlMainText(ccPage(col("text"))))
      .withColumn("n_tokens",
        size(TextFunctions.tokens(col("main"))).cast("long"))
      .localCheckpoint(eager = false)
    val intake = gated.filter(col("n_tokens") >= 5)
      .select(col("doc_id"), col("source"), col("main").as("text"))
    // r17: the audit ledger carries each kept document's CANDIDATE-
    // cluster split key ([[Curation.curateAuditKeyed]]) and the
    // leakage-safe train/val/test label rides it — the
    // q_split_leakage_safe machinery composed INTO the flagship, so
    // the trainer handoff is (sequences + manifest + split) in one
    // hash-checked table
    val ledger = Curation.curateAuditKeyed(intake.select("doc_id", "text"),
        "doc_id", "text", minQuality = 0.25, jaccardThreshold = 0.2)
      .withColumn("split",
        when(col("stage") === "kept",
          TextFunctions.splitAssign(col("split_key").cast("string"),
            Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05),
            salt = "cluster-split")))
      .localCheckpoint(eager = false)
    val ledgerAll = ledger.unionByName(
      gated.filter(col("n_tokens") < 5)
        .select(col("doc_id"), lit("token_gate").as("stage"),
          lit(null).cast("double").as("quality"),
          lit(null).cast("long").as("split_key"),
          lit(null).cast("string").as("split")))
    val keptDocs = intake
      .join(ledger.filter(col("stage") === "kept")
          .select("doc_id", "split"),
        Seq("doc_id"))
      .withColumn("text", TextFunctions.redactPii(col("text")))
      .withColumn("n_tok",
        TextFunctions.regexTokenCount(col("text")).cast("long"))
      .select("doc_id", "source", "n_tok", "split")
    val plan = Mixing.mixturePlan(keptDocs, "source", "n_tok",
      Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
      budget = 50000.0, maxEpochs = 2.5)
    // plan-grain collect (rows = sources): the per-source epoch map is
    // a trained artifact, exactly like a codebook
    val epochs = plan.select("source", "epochs").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // lazy cut on the pack assignment: two consumers below (the packed
    // rows and the manifest decomposition) — without it the per-shard
    // window would run once per consumer
    val packedRaw = Packing.packSequences(
        Mixing.mixtureExpand(keptDocs, "doc_id", "source", epochs)
          // unique pack key per (doc, epoch) instance: epochs <= 2.5
          // means at most 3 copies, so *4 never collides
          .withColumn("inst_id",
            col("doc_id") * 4 + col("epoch").cast("long")),
        "inst_id", "n_tok", budget = 2048L, shards = 4)
      .localCheckpoint(eager = false)
    val packed = packedRaw
      .select(col("doc_id"), lit("packed").as("stage"),
        lit(null).cast("double").as("quality"),
        lit(null).cast("long").as("split_key"), col("split"),
        col("epoch").cast("long").as("epoch"), col("n_tok"),
        col("shard").cast("long").as("shard"),
        col("seq_id").cast("long").as("seq_id"),
        col("seq_offset").cast("long").as("seq_offset"))
    // r17: the OCCUPANCY manifest rows — the loss-mask/attention-reset
    // view a trainer consumes when instances straddle sequence
    // boundaries ([[Packing.manifestFromPacked]], map-side from the cut
    // pack frame). Column reuse is semantic, not a shoehorn: on a
    // manifest row n_tok IS the instance's token count IN this sequence
    // and seq_offset IS its start offset IN this sequence.
    val manifest = Packing.manifestFromPacked(packedRaw, "n_tok", 2048L)
      .select(col("doc_id"), lit("manifest").as("stage"),
        lit(null).cast("double").as("quality"),
        lit(null).cast("long").as("split_key"), col("split"),
        col("epoch").cast("long").as("epoch"),
        col("n_in_seq").as("n_tok"),
        col("shard").cast("long").as("shard"),
        col("seq_id").cast("long").as("seq_id"),
        col("seq_start").as("seq_offset"))
    ledgerAll
      .select(col("doc_id"), col("stage"), col("quality"),
        col("split_key"), col("split"),
        lit(null).cast("long").as("epoch"),
        lit(null).cast("long").as("n_tok"),
        lit(null).cast("long").as("shard"),
        lit(null).cast("long").as("seq_id"),
        lit(null).cast("long").as("seq_offset"))
      .unionByName(packed)
      .unionByName(manifest)
  }

  /** Deterministic train/validation/test assignment
    * ([[TextFunctions.splitAssign]], 90/5/5): per-document label from
    * the content-hash bucket against cumulative micro-fractions —
    * stable under corpus growth (no document changes split when data
    * arrives), no RNG. Output at document grain so the hash compare
    * pins every single assignment, not just the counts.
    */
  def q_split_assign(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.splitAssign(col("doc_id").cast("string"),
          Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05))
          .as("split"))

  /** LEAKAGE-SAFE splits: assignment keyed by the near-dup CLUSTER id
    * (LSH pairs → connected components; singletons key on their own
    * doc_id), so every member of a duplicate cluster lands in the SAME
    * split — the document-keyed form leaks near-identical text across
    * train/test, the classic eval-inflation failure
    * ([[q_split_assign]] composed with [[q_dedup_cluster]]'s
    * machinery). Clustering the CANDIDATE pairs (no Jaccard verify) is
    * deliberate: candidates ⊇ verified near-dups, so over-grouping can
    * only make splits MORE leak-proof — the conservative direction for
    * a safety property. Assignments hash-exact per document.
    */
  def q_split_leakage_safe(spark: SparkSession, dir: String): DataFrame = {
    val corpus = dupCorpus(spark, dir)
    val clusters = Dedup.clusterPairs(
        Dedup.lshCandidatePairs(corpus, "doc_id", "text"))
      .select(col("id").as("doc_id"), col("cluster_id"))
    corpus.join(clusters, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("split_key"),
        TextFunctions.splitAssign(col("split_key").cast("string"),
          Seq("train" -> 0.9, "validation" -> 0.05, "test" -> 0.05),
          salt = "cluster-split").as("split"))
  }

  /** DSIR importance log-weights against a deterministic target slice
    * (doc_id % 7 == 0 — the slice definition is the caller's business;
    * the operator only needs a boolean predicate).
    */
  def q_dsir_weights(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.dsirLogWeights(table(spark, dir, "documents"),
      "doc_id", "text", pmod(col("doc_id"), lit(7L)) === 0)

  // ------------------------------------------------------------------
  // Registry + oracles
  // ------------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> (q_dedup_exact _),
    "q_dedup_exact_keep" -> (q_dedup_exact_keep _),
    "q_minhash_sig" -> (q_minhash_sig _),
    "q_minhash_fast" -> (q_minhash_fast _),
    "q_lsh_pairs" -> (q_lsh_pairs _),
    "q_near_dup_jaccard" -> (q_near_dup_jaccard _),
    "q_dedup_cluster" -> (q_dedup_cluster _),
    "q_dedup_keep_best" -> (q_dedup_keep_best _),
    "q_simhash" -> (q_simhash _),
    "q_embed_cosine_dup" -> (q_embed_cosine_dup _),
    "q_embed_dup_ivf" -> (q_embed_dup_ivf _),
    "q_ann_topk" -> (q_ann_topk _),
    "q_ann_ivf" -> (q_ann_ivf _),
    "q_ann_hyperplane" -> (q_ann_hyperplane _),
    "q_text_lang" -> (q_text_lang _),
    "q_text_quality" -> (q_text_quality _),
    "q_text_tokens" -> (q_text_tokens _),
    "q_text_fingerprint" -> (q_text_fingerprint _),
    "q_text_bigram_lm" -> (q_text_bigram_lm _),
    "q_kn_model" -> (q_kn_model _),
    "q_kn_score" -> (q_kn_score _),
    "q_ppl_split" -> (q_ppl_split _),
    "q_text_repetition" -> (q_text_repetition _),
    "q_contamination" -> (q_contamination _),
    "q_contamination_bloom" -> (q_contamination_bloom _),
    "q_sample_hash" -> (q_sample_hash _),
    "q_pack_sequences" -> (q_pack_sequences _),
    "q_pack_manifest" -> (q_pack_manifest _),
    "q_multimodal_meta" -> (q_multimodal_meta _),
    "q_multimodal_decode" -> (q_multimodal_decode _),
    "q_multimodal_audio" -> (q_multimodal_audio _),
    "q_multimodal_mp3" -> (q_multimodal_mp3 _),
    "q_multimodal_mp4" -> (q_multimodal_mp4 _),
    "q_multimodal_frames" -> (q_multimodal_frames _),
    "q_multimodal_pixels" -> (q_multimodal_pixels _),
    "q_image_neardup" -> (q_image_neardup _),
    "q_semdedup" -> (q_semdedup _),
    "q_semdedup_table" -> (q_semdedup_table _),
    "q_semdedup_twolevel" -> (q_semdedup_twolevel _),
    "q_bm25_topk" -> (q_bm25_topk _),
    "q_phrase_search" -> (q_phrase_search _),
    "q_proximity_search" -> (q_proximity_search _),
    "q_tfidf_cosine" -> (q_tfidf_cosine _),
    "q_tfidf_indexed" -> (q_tfidf_indexed _),
    "q_bm25_pruned" -> (q_bm25_pruned _),
    "q_rerank" -> (q_rerank _),
    "q_bm25_indexed" -> (q_bm25_indexed _),
    "q_bm25_incremental" -> (q_bm25_incremental _),
    "q_bm25_stream" -> (q_bm25_stream _),
    "q_corpus_sketch" -> (q_corpus_sketch _),
    "q_profile_fold" -> (q_profile_fold _),
    "q_embed_covariance" -> (q_embed_covariance _),
    "q_pca_semdedup" -> (q_pca_semdedup _),
    "q_corpus_overlap" -> (q_corpus_overlap _),
    "q_source_topk_quality" -> (q_source_topk_quality _),
    "q_pack_bins" -> (q_pack_bins _),
    "q_pack_multimodal" -> (q_pack_multimodal _),
    "q_jaccard_join" -> (q_jaccard_join _),
    "q_containment_join" -> (q_containment_join _),
    "q_dedup_containment" -> (q_dedup_containment _),
    "q_jaccard_incremental" -> (q_jaccard_incremental _),
    "q_containment_incremental" -> (q_containment_incremental _),
    "q_dedup_complete" -> (q_dedup_complete _),
    "q_expectations" -> (q_expectations _),
    "q_expectations_metrics" -> (q_expectations_metrics _),
    "q_text_normalize" -> (q_text_normalize _),
    "q_sample_exact_n" -> (q_sample_exact_n _),
    "q_sample_weighted" -> (q_sample_weighted _),
    "q_shard_assign" -> (q_shard_assign _),
    "q_mixture_plan" -> (q_mixture_plan _),
    "q_mixture_plan_tempered" -> (q_mixture_plan_tempered _),
    "q_mixture_temperature" -> (q_mixture_temperature _),
    "q_mixture_expand" -> (q_mixture_expand _),
    "q_rrf_hybrid" -> (q_rrf_hybrid _),
    "q_dsir_weights" -> (q_dsir_weights _),
    "q_curation_e2e" -> (q_curation_e2e _),
    "q_curation_stream" -> (q_curation_stream _),
    "q_neardup_stream" -> (q_neardup_stream _),
    "q_curation_audit" -> (q_curation_audit _),
    "q_blocklist_filter" -> (q_blocklist_filter _),
    "q_training_data_e2e" -> (q_training_data_e2e _),
    "q_split_assign" -> (q_split_assign _),
    "q_split_leakage_safe" -> (q_split_leakage_safe _),
    "q_ann_pq" -> (q_ann_pq _),
    "q_ann_ivfpq" -> (q_ann_ivfpq _),
    "q_bpe_pairs" -> (q_bpe_pairs _),
    "q_bpe_tokens" -> (q_bpe_tokens _),
    "q_wordpiece_scores" -> (q_wordpiece_scores _),
    "q_wordpiece_tokens" -> (q_wordpiece_tokens _),
    "q_html_extract" -> (q_html_extract _),
    "q_html_main" -> (q_html_main _),
    "q_url_normalize" -> (q_url_normalize _),
    "q_registered_domain" -> (q_registered_domain _),
    "q_url_traps" -> (q_url_traps _),
    "q_domain_cap_psl" -> (q_domain_cap_psl _),
    "q_robots_filter" -> (q_robots_filter _),
    "q_crawl_frontier" -> (q_crawl_frontier _),
    "q_crawl_loop_e2e" -> (q_crawl_loop_e2e _),
    "q_sitemap_entries" -> (q_sitemap_entries _),
    "q_sitemap_index" -> (q_sitemap_index _),
    "q_dataset_card" -> (q_dataset_card _),
    "q_frontier_incremental" -> (q_frontier_incremental _),
    "q_link_graph" -> (q_link_graph _),
    "q_host_graph" -> (q_host_graph _),
    "q_host_components" -> (q_host_components _),
    "q_anchor_text" -> (q_anchor_text _),
    "q_crawl_budget" -> (q_crawl_budget _),
    "q_budget_sources" -> (q_budget_sources _),
    "q_corpus_diff" -> (q_corpus_diff _),
    "q_rank_eval" -> (q_rank_eval _),
    "q_rank_eval_tfidf" -> (q_rank_eval_tfidf _),
    "q_rank_eval_dense" -> (q_rank_eval_dense _),
    "q_domain_cap" -> (q_domain_cap _),
    "q_cc_pipeline" -> (q_cc_pipeline _),
    "q_crawl_incremental" -> (q_crawl_incremental _),
    "q_authority_incremental" -> (q_authority_incremental _),
    "q_lm_incremental" -> (q_lm_incremental _),
    "q_similarity_incremental" -> (q_similarity_incremental _),
    "q_warc_roundtrip" -> (q_warc_roundtrip _),
    "q_unigram_seed" -> (q_unigram_seed _),
    "q_unigram_tokens" -> (q_unigram_tokens _),
    "q_fuzzy_join" -> (q_fuzzy_join _),
    "q_quality_lr" -> (q_quality_lr _),
    "q_corpus_stats" -> (q_corpus_stats _),
    "q_dedup_incremental" -> (q_dedup_incremental _),
    "q_dedup_verify" -> (q_dedup_verify _),
    "q_top_ngrams" -> (q_top_ngrams _),
    "q_top_ngrams_sketch" -> (q_top_ngrams_sketch _),
    "q_token_histogram" -> (q_token_histogram _),
    "q_kmeans_step" -> (q_kmeans_step _),
    "q_collocations" -> (q_collocations _),
    "q_source_prior" -> (q_source_prior _),
    "q_sample_stratified" -> (q_sample_stratified _),
    "q_dedup_paragraph" -> (q_dedup_paragraph _),
    "q_dedup_spans" -> (q_dedup_spans _),
    "q_lang_rebalance" -> (q_lang_rebalance _),
    "q_text_chunk" -> (q_text_chunk _),
    "q_pii_redact" -> (q_pii_redact _),
  )

  /** Shared CTE chain for the Kneser-Ney oracles: padded trigrams over
    * all documents (`tg`), then the five model tables trained on the
    * even-doc_id slice — the same fixed double expression trees as
    * [[graft.llm.NgramLm.trainFromCounts]] (D = 0.75 is binary-exact,
    * so no decimal-literal fuzz enters the tree).
    */
  private val knModelSql =
    """WITH toks AS (
      |  SELECT doc_id, list_concat(list_concat(['<s>','<s>'],
      |    list_filter(string_split(coalesce(text,''), ' '), t -> length(t) > 0)),
      |    ['</s>']) AS a
      |  FROM documents
      |), tg AS (
      |  SELECT doc_id, a[i-2] AS u, a[i-1] AS v, a[i] AS w
      |  FROM toks, unnest(generate_series(3, len(a))) t(i)
      |), c3 AS (
      |  SELECT u, v, w, count(*) AS c FROM tg WHERE doc_id % 2 = 0 GROUP BY u, v, w
      |), ctx3 AS (
      |  SELECT u, v, sum(c) AS c_uv, count(*) AS n1p_uv,
      |    (0.75 * count(*)::DOUBLE) / sum(c)::DOUBLE AS bow3
      |  FROM c3 GROUP BY u, v
      |), mid AS (
      |  SELECT v, w, count(*) AS n1p_vw FROM c3 GROUP BY v, w
      |), ctx2 AS (
      |  SELECT v, sum(n1p_vw) AS n1p_v_all, count(*) AS n1p_v_dot,
      |    (0.75 * count(*)::DOUBLE) / sum(n1p_vw)::DOUBLE AS bow2
      |  FROM mid GROUP BY v
      |), uni AS (
      |  SELECT w, count(*)::DOUBLE / (SELECT count(*) FROM mid)::DOUBLE AS p1
      |  FROM mid GROUP BY w
      |), bi AS (
      |  SELECT mid.v, mid.w,
      |    greatest(n1p_vw::DOUBLE - 0.75, 0) / n1p_v_all::DOUBLE + bow2 * p1 AS p2
      |  FROM mid JOIN ctx2 USING (v) JOIN uni USING (w)
      |), tri AS (
      |  SELECT c3.u, c3.v, c3.w, c,
      |    greatest(c::DOUBLE - 0.75, 0) / c_uv::DOUBLE + bow3 * p2 AS p3
      |  FROM c3 JOIN ctx3 USING (u, v) JOIN bi USING (v, w)
      |)""".stripMargin

  /** DuckDB splices mirroring [[TextFunctions]]' HTML chain — built in
    * Scala so the tag-strip/entity/collapse sequence is written ONCE
    * and every oracle replays the identical expression tree.
    */
  private def duckDnc(e: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($e, " +
      """'(?is)<script\b.*?</script\s*>', ' ', 'g'), """ +
      """'(?is)<style\b.*?</style\s*>', ' ', 'g'), """ +
      """'(?s)<!--.*?-->', ' ', 'g')"""

  private def duckStrip(e: String): String =
    "trim(regexp_replace(replace(replace(replace(replace(replace(replace(" +
      s"regexp_replace($e, '(?s)<[^>]*>', ' ', 'g'), " +
      """'&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), """ +
      """'&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g'))"""

  private val duckPage: String =
    """'<html><head><title>t</title><style>p { x: y; }</style>""" +
      """<script>var n = ''<div>no</div>'';</script></head><body>""" +
      """<div class="nav"><a href="/">Home page</a> <a href="/a">About this site</a> """ +
      """<a href="/c">Contact and support</a> <a href="/d">Documentation index</a></div>""" +
      """<p>' || coalesce(text, '') || '</p><div>Stub.</div><div class="footer">""" +
      """<a href="/p">Privacy policy page</a> | <a href="/t">Terms of service</a>""" +
      """</div></body></html>'"""

  /** [[TextFunctions.htmlMainText]] over a column expression: block
    * split on the same tag alternation, per-block (text, link-length)
    * scoring, exact integer keep test, space join. `coalesce(list_sum,
    * 0)` matters — DuckDB's list_sum of an empty list is NULL while
    * Spark's aggregate seed is 0.
    */
  private def duckMain(e: String): String =
    "array_to_string(list_transform(list_filter(list_transform(" +
      s"string_split_regex(${duckDnc(e)}, " +
      """'(?i)</?(?:p|div|h[1-6]|li|br|td|th|tr|table|ul|ol|section|article|header|footer|nav|aside|blockquote)[^>]*>'), """ +
      s"b -> struct_pack(t := ${duckStrip("b")}, " +
      "l := coalesce(list_sum(list_transform(" +
      """regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a\s*>', 1), """ +
      s"a -> length(${duckStrip("a")}))), 0))), " +
      "s -> length(s.t) >= 20 AND s.l * 3 <= length(s.t)), " +
      "s -> s.t), ' ')"

  /** Shared u0..u7 CTE chain for the URL oracles (synthesized URLs →
    * normalize → host), ending before the final SELECT; the registered-
    * domain CASE is shared separately.
    */
  private val urlChainSql =
    """WITH u0 AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 'HTTP://Example.COM:80/Path/'
        |      WHEN 1 THEN 'https://sub.shop.example.co.uk:443/p/'
        |      ELSE 'http://example.com/Path/' END)
        |    || doc_id || '?utm_source=feed&b=2&a=1#frag' AS url
        |  FROM documents
        |), u1 AS (
        |  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u0
        |), u2 AS (
        |  SELECT *,
        |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostlower,
        |    regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+', '') AS rest
        |  FROM u1
        |), u3 AS (
        |  SELECT *,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostlower, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostlower, ':443$', '')
        |         ELSE hostlower END AS nop,
        |    regexp_replace(rest, '\?.*$', '') AS path,
        |    CASE WHEN contains(rest, '?')
        |      THEN regexp_replace(rest, '^[^?]*\?', '') ELSE '' END AS query
        |  FROM u2
        |), u4 AS (
        |  SELECT *, list_sort(list_filter(string_split(query, '&'),
        |      p -> length(p) > 0
        |        AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)='))) AS kept
        |  FROM u3
        |), u5 AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = '' THEN url
        |      ELSE scheme || '://' || nop || path ||
        |        (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |         ELSE '' END) END AS url
        |  FROM u4
        |), u6 AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host
        |  FROM u5
        |), u7 AS (
        |  SELECT *, string_split(host, '.') AS ls, len(string_split(host, '.')) AS n
        |  FROM u6
        |)""".stripMargin

  private val domainCaseSql =
    """CASE WHEN n <= 2 THEN host
      |       WHEN length(ls[n]) = 2
      |         AND ls[n-1] IN ('co','com','net','org','ac','gov','edu')
      |         THEN ls[n-2] || '.' || ls[n-1] || '.' || ls[n]
      |       ELSE ls[n-1] || '.' || ls[n] END""".stripMargin

  private val enList = TextFunctions.enStopwords.map(w => s"'$w'").mkString("[", ",", "]")
  private val nlList = TextFunctions.nlStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** DuckDB replay of `q_pca_semdedup`'s fused projection: the same
    * formula constants, the same left-to-right (v - mean) · comp
    * double loop, the same float narrowing — one expression per output
    * dim, built here so the 16 projections stay one Scala loop.
    */
  private val pcaPvecSql: String = (0 until 16).map { i =>
    "list_sum(list_transform(generate_series(1, 64), j -> " +
      "(embedding[j]::DOUBLE - ((((j-1)*2654435761) % 1000)/1000.0 - 0.5) * 0.05) * " +
      s"((((${i}*64 + j - 1)*2654435761) % 1000)/1000.0 - 0.5)))::FLOAT"
  }.mkString("[", ", ", "]")

  private val corpusSketchSql: String =
      """WITH tc AS (
        |  SELECT source,
        |    ('0x'||substr(md5(text),1,15))::BIGINT AS th,
        |    len(list_filter(string_split(text, ' '), t -> length(t) > 0))::DOUBLE AS cnt
        |  FROM documents
        |), r AS (
        |  SELECT source, cnt,
        |    row_number() OVER (PARTITION BY source ORDER BY cnt) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM tc
        |), qs AS (
        |  SELECT source,
        |    max(CASE WHEN rn = greatest(1, ceil(0.5::DOUBLE * n)) THEN cnt END) AS p50,
        |    max(CASE WHEN rn = greatest(1, ceil(0.9::DOUBLE * n)) THEN cnt END) AS p90,
        |    max(CASE WHEN rn = greatest(1, ceil(0.99::DOUBLE * n)) THEN cnt END) AS p99
        |  FROM r GROUP BY source
        |), ds AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    count(DISTINCT th)::BIGINT AS distinct_texts
        |  FROM tc GROUP BY source
        |)
        |SELECT ds.source, ds.n_docs, ds.distinct_texts, qs.p50, qs.p90, qs.p99
        |FROM ds JOIN qs USING (source)""".stripMargin

  /** The gate + redact PREFIX of the curation chain (corpus0 → qual →
    * red) — shared by the full batch chain below and by
    * [[q_curation_stream]]'s oracle, so the suffix/gate/redaction
    * replay is written once.
    */
  private lazy val curationGateSql: String = {
      val e = TextFunctions.emailRe
      val i = TextFunctions.ipv4Re
      val p = TextFunctions.phoneRe
      s"""WITH RECURSIVE corpus0 AS (
         |  SELECT doc_id, text || ' contact user' || doc_id || '@example.com' AS text
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000 AS doc_id,
         |    text || ' contact user' || (doc_id + 10000) || '@example.com' AS text
         |  FROM documents WHERE doc_id < 50
         |), qual AS (
         |  SELECT doc_id, text,
         |    round((least(len(list_filter(string_split(text, ' '), t -> length(t) > 0)) / 50.0, 1.0)
         |      + least((CASE WHEN len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) > 0
         |          THEN len(list_filter(list_filter(string_split(lower(text), ' '), t -> length(t) > 0),
         |                t -> list_contains($enList, t)))::DOUBLE
         |               / len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0))
         |          ELSE 0.0 END) * 5.0, 1.0)) / 2.0, 6) AS quality
         |  FROM corpus0
         |), red AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g') AS text,
         |    quality
         |  FROM qual WHERE quality >= 0.25
         |)""".stripMargin
  }

  /** The shared DuckDB CTE chain for the curation oracles: augmented
    * corpus -> quality (`qual`) -> gate+redact (`red`) -> exact keep ids
    * (`keepx`) -> exact survivors (`corpus`) -> minhash/LSH bands ->
    * verified pairs -> CC reach -> near-dup `drops`. Final projections
    * differ per query (kept rows for q_curation_e2e, the disposition
    * ledger for q_curation_audit).
    */
  private lazy val curationChainSql: String = {
      curationGateSql +
      """, keepx AS (
         |  SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(text)
         |), corpus AS (
         |  SELECT r.doc_id, r.text, r.quality FROM red r JOIN keepx k ON r.doc_id = k.doc_id
         |)""".stripMargin + minhashSql +
      """, pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
         |), shd AS (
         |  SELECT doc_id, list_distinct(hs) AS ds FROM hashes
         |), verified AS (
         |  SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN shd a ON p.id_a = a.doc_id JOIN shd b ON p.id_b = b.doc_id
         |  WHERE (CASE WHEN len(list_distinct(a.ds || b.ds)) > 0
         |    THEN len(list_intersect(a.ds, b.ds))::DOUBLE / len(list_distinct(a.ds || b.ds))
         |    ELSE 0.0 END) >= 0.2
         |), edges AS (
         |  SELECT id_a, id_b FROM verified
         |  UNION
         |  SELECT id_b AS id_a, id_a AS id_b FROM verified
         |), reach AS (
         |  SELECT id_a AS id, id_a AS label FROM edges
         |  UNION
         |  SELECT e.id_a AS id, r.label FROM edges e JOIN reach r ON e.id_b = r.id
         |), drops AS (
         |  SELECT id AS doc_id FROM reach GROUP BY id HAVING min(label) <> id
         |)
""".stripMargin
  }

  /** DuckDB replay of the full training-data chain
    * ([[q_training_data_e2e]]): the cc-pipeline intake splice feeding
    * the curation-chain splice (same CTE names, so `minhashSql` plugs
    * in unchanged), then the ledger union, the mixture plan/expand
    * arithmetic of `q_mixture_plan`/`q_mixture_expand`, and
    * `q_pack_sequences`' running-sum packing keyed by the
    * (doc_id·4 + epoch) instance id.
    */
  private lazy val trainingDataSql: String = {
    val e = TextFunctions.emailRe
    val i = TextFunctions.ipv4Re
    val p = TextFunctions.phoneRe
    s"""WITH RECURSIVE corpus00 AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id, source, text
       |  FROM documents WHERE doc_id < 50
       |), rawd AS (
       |  SELECT doc_id, source,
       |    text || ' contact user' || doc_id || '@example.com' AS text
       |  FROM corpus00
       |), h AS (
       |  SELECT doc_id, source, $duckPage AS html FROM rawd
       |), m AS (
       |  SELECT doc_id, source, ${duckMain("html")} AS main FROM h
       |), gated AS (
       |  SELECT doc_id, source, main,
       |    len(list_filter(string_split(main, ' '), x -> length(x) > 0))::BIGINT AS n_tokens
       |  FROM m
       |), intake AS (
       |  SELECT doc_id, source, main AS text FROM gated WHERE n_tokens >= 5
       |), qual AS (
       |  SELECT doc_id, text,
       |    round((least(len(list_filter(string_split(text, ' '), t -> length(t) > 0)) / 50.0, 1.0)
       |      + least((CASE WHEN len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) > 0
       |          THEN len(list_filter(list_filter(string_split(lower(text), ' '), t -> length(t) > 0),
       |                t -> list_contains($enList, t)))::DOUBLE
       |               / len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0))
       |          ELSE 0.0 END) * 5.0, 1.0)) / 2.0, 6) AS quality
       |  FROM intake
       |), red AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g') AS text,
       |    quality
       |  FROM qual WHERE quality >= 0.25
       |), keepx AS (
       |  SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(text)
       |), corpus AS (
       |  SELECT r.doc_id, r.text, r.quality FROM red r JOIN keepx k ON r.doc_id = k.doc_id
       |)""".stripMargin + minhashSql +
    """, pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
       |), shd AS (
       |  SELECT doc_id, list_distinct(hs) AS ds FROM hashes
       |), verified AS (
       |  SELECT p.id_a, p.id_b
       |  FROM pairs p JOIN shd a ON p.id_a = a.doc_id JOIN shd b ON p.id_b = b.doc_id
       |  WHERE (CASE WHEN len(list_distinct(a.ds || b.ds)) > 0
       |    THEN len(list_intersect(a.ds, b.ds))::DOUBLE / len(list_distinct(a.ds || b.ds))
       |    ELSE 0.0 END) >= 0.2
       |), edges AS (
       |  SELECT id_a, id_b FROM verified
       |  UNION
       |  SELECT id_b AS id_a, id_a AS id_b FROM verified
       |), reach AS (
       |  SELECT id_a AS id, id_a AS label FROM edges
       |  UNION
       |  SELECT e.id_a AS id, r.label FROM edges e JOIN reach r ON e.id_b = r.id
       |), drops AS (
       |  SELECT id AS doc_id FROM reach GROUP BY id HAVING min(label) <> id
       |), cedges AS (
       |  SELECT id_a, id_b FROM pairs
       |  UNION
       |  SELECT id_b AS id_a, id_a AS id_b FROM pairs
       |), creach AS (
       |  SELECT id_a AS id, id_a AS label FROM cedges
       |  UNION
       |  SELECT e.id_a AS id, r.label FROM cedges e JOIN creach r ON e.id_b = r.id
       |), cclust AS (
       |  SELECT id AS doc_id, min(label) AS cluster_id FROM creach GROUP BY id
       |), ledger0 AS (
       |  SELECT q.doc_id,
       |    CASE WHEN q.quality < 0.25 THEN 'gate'
       |         WHEN k.doc_id IS NULL THEN 'exact_dup'
       |         WHEN d.doc_id IS NOT NULL THEN 'near_dup'
       |         ELSE 'kept' END AS stage,
       |    q.quality,
       |    CASE WHEN q.quality >= 0.25 AND k.doc_id IS NOT NULL
       |           AND d.doc_id IS NULL
       |      THEN coalesce(cc.cluster_id, q.doc_id) END AS split_key
       |  FROM qual q
       |  LEFT JOIN keepx k ON q.doc_id = k.doc_id
       |  LEFT JOIN drops d ON q.doc_id = d.doc_id
       |  LEFT JOIN cclust cc ON q.doc_id = cc.doc_id
       |  UNION ALL
       |  SELECT doc_id, 'token_gate' AS stage, NULL AS quality,
       |    NULL::BIGINT AS split_key
       |  FROM gated WHERE n_tokens < 5
       |), ledger AS (
       |  SELECT doc_id, stage, quality, split_key,
       |    CASE WHEN stage = 'kept' THEN
       |      CASE WHEN ('0x'||substr(md5(split_key::VARCHAR||'cluster-split'),1,15))::BIGINT % 1000000 < 900000 THEN 'train'
       |           WHEN ('0x'||substr(md5(split_key::VARCHAR||'cluster-split'),1,15))::BIGINT % 1000000 < 950000 THEN 'validation'
       |           ELSE 'test' END
       |    END AS split
       |  FROM ledger0
       |), keptd AS (
       |  SELECT c.doc_id, i.source, l.split,
       |    len(regexp_extract_all(c.text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_tok
       |  FROM corpus c
       |  ANTI JOIN drops d ON c.doc_id = d.doc_id
       |  JOIN intake i ON c.doc_id = i.doc_id
       |  JOIN ledger l ON c.doc_id = l.doc_id AND l.stage = 'kept'
       |), agg AS (
       |  SELECT source, sum(n_tok::DECIMAL(28,0))::DOUBLE AS total_tokens
       |  FROM keptd GROUP BY 1
       |), eps AS (
       |  SELECT source,
       |    floor(least(2.5, CASE WHEN total_tokens > 0
       |      THEN (floor((floor(CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
       |          WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1 ELSE 0.0 END::DOUBLE
       |          / 1.0 * 1000000 + 0.5) / 1000000) * 50000 * 1000000 + 0.5) / 1000000)
       |        / total_tokens
       |      ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS epochs
       |  FROM agg
       |), micro AS (
       |  SELECT k.doc_id, k.n_tok, k.split,
       |    CAST(floor(e.epochs * 1000000 + 0.5) AS BIGINT) AS mm
       |  FROM keptd k JOIN eps e USING (source)
       |), copies AS (
       |  SELECT doc_id, n_tok, split, mm // 1000000 +
       |    CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR||'mix'),1,15))::BIGINT % 1000000 < mm % 1000000
       |      THEN 1 ELSE 0 END AS c
       |  FROM micro
       |), expanded AS (
       |  SELECT doc_id, n_tok, split, unnest(generate_series(0, c - 1)) AS epoch
       |  FROM copies WHERE c > 0
       |), inst AS (
       |  SELECT doc_id, epoch, n_tok, split, doc_id * 4 + epoch AS inst_id,
       |    ('0x'||substr(md5((doc_id * 4 + epoch)::VARCHAR),1,15))::BIGINT % 4 AS shard
       |  FROM expanded
       |), packedc AS (
       |  SELECT doc_id, epoch, n_tok, split, shard,
       |    (sum(n_tok) OVER (PARTITION BY shard ORDER BY inst_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT - n_tok AS bef
       |  FROM inst
       |), manifestc AS (
       |  SELECT doc_id, epoch, n_tok, split, shard, bef,
       |    unnest(generate_series(bef // 2048, (bef + n_tok - 1) // 2048)) AS s
       |  FROM packedc WHERE n_tok > 0
       |)
       |SELECT doc_id, stage, quality, split_key, split,
       |  NULL::BIGINT AS epoch, NULL::BIGINT AS n_tok, NULL::BIGINT AS shard,
       |  NULL::BIGINT AS seq_id, NULL::BIGINT AS seq_offset
       |FROM ledger
       |UNION ALL
       |SELECT doc_id, 'packed' AS stage, NULL::DOUBLE AS quality,
       |  NULL::BIGINT AS split_key, split,
       |  epoch::BIGINT AS epoch, n_tok, shard,
       |  (bef // 2048)::BIGINT AS seq_id, (bef % 2048)::BIGINT AS seq_offset
       |FROM packedc
       |UNION ALL
       |SELECT doc_id, 'manifest' AS stage, NULL::DOUBLE AS quality,
       |  NULL::BIGINT AS split_key, split,
       |  epoch::BIGINT AS epoch,
       |  (least(bef + n_tok, (s + 1) * 2048) - greatest(bef, s * 2048))::BIGINT AS n_tok,
       |  shard, s::BIGINT AS seq_id,
       |  (greatest(bef, s * 2048) - s * 2048)::BIGINT AS seq_offset
       |FROM manifestc""".stripMargin
  }

  /** Shared DuckDB CTE chain for the PSL oracles: synthesized hosts →
    * per-row public-suffix algorithm (rule lists inlined from the SAME
    * parsed + punycode-normalized form the engine joins —
    * [[graft.llm.UrlFunctions.parsePslRules]] over the bundled COMPLETE
    * [[graft.llm.UrlFunctions.fullPslRules]], ~9.5k rules; exception >
    * longest normal/wildcard > implicit `*`; registered = public suffix
    * + one label, null when the host IS a public suffix) → `dom`
    * (doc_id, host, domain).
    */
  private lazy val pslChainSql: String = {
    def lst(xs: Seq[String]) = xs.map(r => s"'$r'").mkString("[", ", ", "]")
    val parsed = graft.llm.UrlFunctions.parsePslRules(
      graft.llm.UrlFunctions.fullPslRules)
    val normals = lst(parsed.collect { case (s, false, false) => s })
    val wilds = lst(parsed.collect { case (s, true, _) => s })
    val excs = lst(parsed.collect { case (s, _, true) => s })
    // both CASEs derive from the ONE shared arm list the Spark fixture
    // uses; `ahost` carries the generation-time IDN-punycoded canonical
    // form (the idnAsciiHost precedent of the inlined punycoded RULE
    // lists above — DuckDB has no punycode, so the literal fixture arms
    // are normalized here, r19 Unicode-host arms)
    val m = graft.queries.QueriesLLM.synthHostArms.size
    def caseOf(f: String => String) = {
      val arms = graft.queries.QueriesLLM.synthHostArms
      arms.init.zipWithIndex.map { case (h, i) =>
        s"    WHEN $i THEN '${f(h)}'"
      }.mkString("\n") + s"\n    ELSE '${f(arms.last)}'"
    }
    def canon(h: String): String =
      org.apache.spark.sql.graft.IdnUtil.asciiHost(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          h.toLowerCase(java.util.Locale.ROOT).replaceAll("\\.+$", "")))
        .toString
    s"""WITH hosts AS (
      |  SELECT doc_id, lower(CASE doc_id % $m
      |${caseOf(identity)} END) AS host,
      |  CASE doc_id % $m
      |${caseOf(canon)} END AS ahost
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, host, string_split(ahost, '.') AS parts,
      |    len(string_split(ahost, '.')) AS n
      |  FROM hosts
      |), pslscored AS (
      |  SELECT doc_id, host, parts, n,
      |    list_aggregate(list_transform(generate_series(1, n), k ->
      |      CASE WHEN list_contains($excs,
      |        array_to_string(list_slice(parts, n-k+1, n), '.')) THEN k END),
      |      'max') AS exc_k,
      |    coalesce(list_aggregate(list_transform(generate_series(1, n), k ->
      |      CASE WHEN list_contains($normals,
      |          array_to_string(list_slice(parts, n-k+1, n), '.'))
      |        OR (k > 1 AND list_contains($wilds,
      |          array_to_string(list_slice(parts, n-k+2, n), '.')))
      |      THEN k END), 'max'), 1) AS pub_k
      |  FROM base
      |), dom AS (
      |  SELECT doc_id, host,
      |    CASE WHEN exc_k IS NOT NULL
      |      THEN array_to_string(list_slice(parts, n-exc_k+1, n), '.')
      |      WHEN n >= pub_k + 1
      |      THEN array_to_string(list_slice(parts, n-pub_k, n), '.')
      |    END AS domain
      |  FROM pslscored
      |)""".stripMargin
  }

  private val oracles0: Map[String, String] = Map(
    "q_training_data_e2e" -> trainingDataSql,
    "q_split_assign" ->
      """SELECT doc_id, source,
        |  CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR||'split'),1,15))::BIGINT % 1000000 < 900000 THEN 'train'
        |       WHEN ('0x'||substr(md5(doc_id::VARCHAR||'split'),1,15))::BIGINT % 1000000 < 950000 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "q_split_leakage_safe" -> (
      dupCorpusSql.replaceFirst("WITH corpus", "WITH RECURSIVE corpus") +
      minhashSql + ccClustersSql +
      """, keyed AS (
        |  SELECT c.doc_id, coalesce(cl.cluster_id, c.doc_id)::BIGINT AS split_key
        |  FROM corpus c LEFT JOIN clusters cl ON c.doc_id = cl.id
        |)
        |SELECT doc_id, split_key,
        |  CASE WHEN ('0x'||substr(md5(split_key::VARCHAR||'cluster-split'),1,15))::BIGINT % 1000000 < 900000 THEN 'train'
        |       WHEN ('0x'||substr(md5(split_key::VARCHAR||'cluster-split'),1,15))::BIGINT % 1000000 < 950000 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM keyed""".stripMargin),
    "q_dedup_exact" -> (dupCorpusSql +
      """ SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
        |  count(*) AS n_dups
        |FROM corpus GROUP BY md5(text)""".stripMargin),
    "q_dedup_exact_keep" -> (dupCorpusSql +
      " SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)"),
    "q_minhash_sig" -> (dupCorpusSql + minhashSql +
      " SELECT doc_id, seed, mh AS minhash FROM sig"),
    "q_lsh_pairs" -> (dupCorpusSql + minhashSql +
      """ SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id""".stripMargin),
    // the streamed candidate generator: same bands, NO distinct — one
    // row per shared bucket per unordered pair, the multiset the
    // per-bucket state machine emits regardless of batching
    "q_neardup_stream" -> (dupCorpusSql + minhashSql +
      """ SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id""".stripMargin),
    "q_minhash_fast" -> (dupCorpusSql +
      """SELECT doc_id, 16::BIGINT AS sig_len,
        |  min(doc_id) OVER (PARTITION BY text) AS twin_id,
        |  count(*) OVER (PARTITION BY text)::BIGINT AS twin_n,
        |  true AS sig_matches_twin,
        |  (count(*) OVER (PARTITION BY text) - 1)::BIGINT AS n_exact_partners
        |FROM corpus""".stripMargin),
    "q_near_dup_jaccard" -> (dupCorpusSql + minhashSql +
      """, pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
        |), shd AS (
        |  SELECT doc_id, list_distinct(hs) AS ds FROM hashes
        |), jac AS (
        |  SELECT p.id_a, p.id_b,
        |    round(CASE WHEN len(list_distinct(a.ds || b.ds)) > 0
        |      THEN len(list_intersect(a.ds, b.ds))::DOUBLE / len(list_distinct(a.ds || b.ds))
        |      ELSE 0.0 END, 6) AS jac
        |  FROM pairs p
        |  JOIN shd a ON p.id_a = a.doc_id
        |  JOIN shd b ON p.id_b = b.doc_id
        |)
        |SELECT id_a, id_b, jac FROM jac WHERE jac >= 0.2""".stripMargin),
    // ground truth for the EXACT join: brute inverted-index candidates
    // (complete for any t > 0 — a qualifying pair shares a shingle)
    // + exact Jaccard; hash-match proves prefix pruning lost nothing
    "q_jaccard_join" -> (dupCorpusSql + minhashSql +
      """, shd AS (
        |  SELECT doc_id, list_distinct(hs) AS ds FROM hashes
        |), inv AS (
        |  SELECT doc_id, unnest(ds) AS h FROM shd
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
        |), jac AS (
        |  SELECT c.id_a, c.id_b,
        |    CASE WHEN len(list_distinct(a.ds || b.ds)) > 0
        |      THEN len(list_intersect(a.ds, b.ds))::DOUBLE / len(list_distinct(a.ds || b.ds))
        |      ELSE 0.0 END AS jx
        |  FROM cand c
        |  JOIN shd a ON c.id_a = a.doc_id
        |  JOIN shd b ON c.id_b = b.doc_id
        |)
        |SELECT id_a, id_b, round(jx, 6) AS jac FROM jac WHERE jx >= 0.5""".stripMargin),
    // brute inverted-index ground truth for the ASYMMETRIC join:
    // ordered pairs, denominator = the contained side's own set size
    "q_containment_join" -> (contCorpusSql + minhashSql +
      """, shd AS (
        |  SELECT doc_id, list_distinct(hs) AS ds FROM hashes
        |), inv AS (
        |  SELECT doc_id, unnest(ds) AS h FROM shd
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id <> b.doc_id
        |), cont AS (
        |  SELECT c.id_a, c.id_b,
        |    CASE WHEN len(a.ds) > 0
        |      THEN len(list_intersect(a.ds, b.ds))::DOUBLE / len(a.ds)
        |      ELSE 0.0 END AS cx
        |  FROM cand c
        |  JOIN shd a ON c.id_a = a.doc_id
        |  JOIN shd b ON c.id_b = b.doc_id
        |)
        |SELECT id_a, id_b, round(cx, 6) AS containment
        |FROM cont WHERE cx >= 0.8""".stripMargin),
    // the keep rule on the same brute ground truth: drop a document
    // contained (>= t) in a strictly larger one (equal sizes keep the
    // smaller id), then anti-join the corpus
    "q_dedup_containment" -> (contCorpusSql + minhashSql +
      """, shd AS (
        |  SELECT doc_id, list_distinct(hs) AS ds FROM hashes
        |), inv AS (
        |  SELECT doc_id, unnest(ds) AS h FROM shd
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id <> b.doc_id
        |), cont AS (
        |  SELECT c.id_a, c.id_b, len(a.ds) AS na, len(b.ds) AS nb,
        |    CASE WHEN len(a.ds) > 0
        |      THEN len(list_intersect(a.ds, b.ds))::DOUBLE / len(a.ds)
        |      ELSE 0.0 END AS cx
        |  FROM cand c
        |  JOIN shd a ON c.id_a = a.doc_id
        |  JOIN shd b ON c.id_b = b.doc_id
        |), drops AS (
        |  SELECT DISTINCT id_a FROM cont
        |  WHERE cx >= 0.8 AND (nb > na OR (nb = na AND id_b < id_a))
        |)
        |SELECT c.doc_id FROM corpus c
        |ANTI JOIN drops d ON c.doc_id = d.id_a""".stripMargin),
    // quality score -> 0.8x keep probability in millionths -> integer
    // hash compare; the whole decision is exact arithmetic
    "q_sample_weighted" ->
      s"""WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w,
        |    list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS wl
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id, text, len(w) AS n_words,
        |    CASE WHEN len(wl) > 0
        |      THEN len(list_filter(wl, t -> list_contains($enList, t)))::DOUBLE / len(wl)
        |      ELSE 0.0 END AS sr
        |  FROM toks
        |), sc AS (
        |  SELECT doc_id, text,
        |    round((least(n_words/50.0, 1.0) + least(sr*5.0, 1.0)) / 2.0, 6) AS score
        |  FROM sig
        |)
        |SELECT doc_id FROM sc
        |WHERE ('0x'||substr(md5(text||'wsample'),1,15))::BIGINT % 1000000
        |  < floor(least(greatest(score * 0.8, 0.0), 1.0) * 1000000 + 0.5)::BIGINT""".stripMargin,
    // profile metrics + bounds replayed; values rounded at 1e-6
    "q_expectations_metrics" ->
      """WITH m AS (
        |  SELECT
        |    floor(avg(n_chars)*1000000+0.5)/1000000 AS mean_n_chars,
        |    floor(count(DISTINCT source)::DOUBLE*1000000+0.5)/1000000 AS n_sources,
        |    floor(max(doc_id)::DOUBLE*1000000+0.5)/1000000 AS max_doc_id,
        |    floor(avg(CASE WHEN regexp_matches(text, '[0-9]') THEN 1.0 ELSE 0.0 END)*1000000+0.5)/1000000 AS fwd
        |  FROM documents
        |)
        |SELECT 'mean_n_chars' AS metric, mean_n_chars AS value, 1.0 AS lo,
        |  100000.0 AS hi, mean_n_chars BETWEEN 1.0 AND 100000.0 AS ok FROM m
        |UNION ALL
        |SELECT 'n_sources', n_sources, 1.0, 1000.0,
        |  n_sources BETWEEN 1.0 AND 1000.0 FROM m
        |UNION ALL
        |SELECT 'max_doc_id', max_doc_id, 0.0, 1000000000000.0,
        |  max_doc_id BETWEEN 0.0 AND 1000000000000.0 FROM m
        |UNION ALL
        |SELECT 'frac_with_digits', fwd, 0.0, 1.0,
        |  fwd BETWEEN 0.0 AND 1.0 FROM m""".stripMargin,
    // each rule re-stated as SQL; violation = predicate false OR null
    "q_expectations" ->
      """WITH r AS (
        |  SELECT 'doc_id_nonnull' AS rule, count(*)::BIGINT AS n_rows,
        |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text_nonempty', count(*)::BIGINT,
        |    sum(CASE WHEN text IS NULL OR length(text) <= 0 THEN 1 ELSE 0 END)::BIGINT
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang_nonnull', count(*)::BIGINT,
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source_format', count(*)::BIGINT,
        |    sum(CASE WHEN source IS NULL OR NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END)::BIGINT
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars_consistent', count(*)::BIGINT,
        |    sum(CASE WHEN n_chars IS NULL OR text IS NULL OR n_chars != length(text) THEN 1 ELSE 0 END)::BIGINT
        |  FROM documents
        |)
        |SELECT rule, n_rows, n_violations,
        |  CASE WHEN n_rows > 0
        |    THEN floor(n_violations::DOUBLE / n_rows * 1000000 + 0.5)/1000000
        |    ELSE 0.0 END AS violation_rate
        |FROM r""".stripMargin,
    // brute pairs + recursive closure + keep-min: pins the whole
    // complete-near-dedup chain
    "q_dedup_complete" -> (dupCorpusSql.replaceFirst("WITH corpus", "WITH RECURSIVE corpus") + minhashSql +
      """, shd2 AS (
        |  SELECT doc_id, list_distinct(hs) AS ds FROM hashes
        |), inv2 AS (
        |  SELECT doc_id, unnest(ds) AS h FROM shd2
        |), cand2 AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv2 a JOIN inv2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |), jpairs AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand2 c
        |  JOIN shd2 a ON c.id_a = a.doc_id
        |  JOIN shd2 b ON c.id_b = b.doc_id
        |  WHERE len(list_intersect(a.ds, b.ds))::DOUBLE
        |      / len(list_distinct(a.ds || b.ds)) >= 0.5
        |), jedges AS (
        |  SELECT id_a, id_b FROM jpairs
        |  UNION
        |  SELECT id_b AS id_a, id_a AS id_b FROM jpairs
        |), jreach AS (
        |  SELECT id_a AS id, id_a AS label FROM jedges
        |  UNION
        |  SELECT e.id_a AS id, r.label FROM jedges e JOIN jreach r ON e.id_b = r.id
        |), jclusters AS (
        |  SELECT id, min(label) AS cluster_id FROM jreach GROUP BY id
        |)
        |SELECT c.doc_id FROM corpus c LEFT JOIN jclusters cl ON c.doc_id = cl.id
        |WHERE cl.id IS NULL OR cl.cluster_id = c.doc_id""".stripMargin),
    // brute-force cross-corpus ground truth for the incremental exact
    // screen: snapshot survivors = docs with no archive partner >= 0.5
    "q_jaccard_incremental" ->
      """WITH arch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |), snap AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id < 60
        |), uni AS (
        |  SELECT 'a' AS side, doc_id, text FROM arch
        |  UNION ALL
        |  SELECT 's' AS side, doc_id, text FROM snap
        |), toks AS (
        |  SELECT side, doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w FROM uni
        |), sh AS (
        |  SELECT side, doc_id, CASE WHEN len(w) >= 3
        |    THEN list_transform(generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2])
        |    ELSE [] END AS shingles
        |  FROM toks
        |), shd AS (
        |  SELECT side, doc_id,
        |    list_distinct(list_transform(shingles, s -> ('0x'||substr(md5(s),1,15))::BIGINT)) AS ds
        |  FROM sh
        |), inv AS (
        |  SELECT side, doc_id, unnest(ds) AS h FROM shd
        |), cand AS (
        |  SELECT DISTINCT s.doc_id AS sid, a.doc_id AS aid
        |  FROM inv s JOIN inv a ON s.h = a.h AND s.side = 's' AND a.side = 'a'
        |), dropped AS (
        |  SELECT DISTINCT c.sid AS doc_id
        |  FROM cand c
        |  JOIN shd s ON s.side = 's' AND c.sid = s.doc_id
        |  JOIN shd a ON a.side = 'a' AND c.aid = a.doc_id
        |  WHERE len(list_intersect(s.ds, a.ds))::DOUBLE
        |      / len(list_distinct(s.ds || a.ds)) >= 0.5
        |)
        |SELECT doc_id FROM snap
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
    // brute-force cross-corpus CONTAINMENT ground truth: snapshot =
    // odds + 12-token truncations of archived evens; drop when
    // |snap ∩ arch| / |snap| >= 0.8 for some archive doc (empty
    // snapshot shingle sets score 0 and survive)
    "q_containment_incremental" ->
      """WITH arch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |), snap AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |    array_to_string(list_filter(string_split(text, ' '),
        |      t -> length(t) > 0)[1:12], ' ') AS text
        |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < 60
        |), uni AS (
        |  SELECT 'a' AS side, doc_id, text FROM arch
        |  UNION ALL
        |  SELECT 's' AS side, doc_id, text FROM snap
        |), toks AS (
        |  SELECT side, doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w FROM uni
        |), sh AS (
        |  SELECT side, doc_id, CASE WHEN len(w) >= 3
        |    THEN list_transform(generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2])
        |    ELSE [] END AS shingles
        |  FROM toks
        |), shd AS (
        |  SELECT side, doc_id,
        |    list_distinct(list_transform(shingles, s -> ('0x'||substr(md5(s),1,15))::BIGINT)) AS ds
        |  FROM sh
        |), inv AS (
        |  SELECT side, doc_id, unnest(ds) AS h FROM shd
        |), cand AS (
        |  SELECT DISTINCT s.doc_id AS sid, a.doc_id AS aid
        |  FROM inv s JOIN inv a ON s.h = a.h AND s.side = 's' AND a.side = 'a'
        |), dropped AS (
        |  SELECT DISTINCT c.sid AS doc_id
        |  FROM cand c
        |  JOIN shd s ON s.side = 's' AND c.sid = s.doc_id
        |  JOIN shd a ON a.side = 'a' AND c.aid = a.doc_id
        |  WHERE len(s.ds) > 0 AND
        |    len(list_intersect(s.ds, a.ds))::DOUBLE / len(s.ds) >= 0.8
        |)
        |SELECT doc_id FROM snap
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin,
    "q_dedup_cluster" -> (dupCorpusSql.replaceFirst("WITH corpus", "WITH RECURSIVE corpus") + minhashSql +
      ccClustersSql +
      """
        |SELECT id AS doc_id, cluster_id::BIGINT AS cluster_id
        |FROM clusters""".stripMargin),
    "q_dedup_keep_best" -> (dupCorpusSql.replaceFirst("WITH corpus", "WITH RECURSIVE corpus") + minhashSql +
      ccClustersSql +
      """, ranked AS (
        |  SELECT c.doc_id, row_number() OVER (
        |    PARTITION BY coalesce(cl.cluster_id, c.doc_id)
        |    ORDER BY c.doc_id % 97 DESC, c.doc_id) AS rn
        |  FROM corpus c LEFT JOIN clusters cl ON c.doc_id = cl.id
        |)
        |SELECT doc_id FROM ranked WHERE rn = 1""".stripMargin),
    "q_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), th AS (
        |  SELECT doc_id, ('0x'||substr(md5(t.tok),1,15))::BIGINT AS h
        |  FROM toks, unnest(w) t(tok)
        |), bits AS (
        |  SELECT doc_id, j, sum(((h >> j) & 1) * 2 - 1) AS bitsum
        |  FROM th, unnest(generate_series(0,31)) s(j)
        |  GROUP BY doc_id, j
        |), sh AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
        |  FROM bits GROUP BY doc_id
        |)
        |-- anchor on documents: a token-less doc keeps simhash 0 (the
        |-- library's explode_outer contract), it does not vanish
        |SELECT d.doc_id, coalesce(sh.simhash, 0)::BIGINT AS simhash
        |FROM documents d LEFT JOIN sh USING (doc_id)""".stripMargin,
    "q_embed_cosine_dup" ->
      """WITH c AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, round(cos, 6) AS cos FROM c WHERE cos >= 0.35""".stripMargin,
    "q_ann_topk" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "q_ann_ivf" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8
        |), assigned AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |    list_sum(list_transform(list_zip(e.embedding, c.cv),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE)))) AS ccos
        |  FROM embeddings e CROSS JOIN cents c
        |), cells AS (
        |  SELECT vec_id, embedding, cent_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, cent_id) AS r
        |    FROM assigned) WHERE r = 1
        |), scored AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM cells q JOIN cells n ON q.cell = n.cell AND q.vec_id <> n.vec_id
        |  WHERE q.vec_id >= 10 AND q.vec_id < 20
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin,
    "q_embed_dup_ivf" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8
        |), assigned AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |    list_sum(list_transform(list_zip(e.embedding, c.cv),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE)))) AS ccos
        |  FROM embeddings e CROSS JOIN cents c
        |), cells AS (
        |  SELECT vec_id, embedding, cent_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, cent_id) AS r
        |    FROM assigned) WHERE r = 1
        |), c AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, round(cos, 6) AS cos FROM c WHERE cos >= 0.35""".stripMargin,
    "q_semdedup" ->
      """WITH cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id < 8
        |), assigned AS (
        |  SELECT e.vec_id, e.embedding, c.cent_id,
        |    list_sum(list_transform(list_zip(e.embedding, c.cv),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE)))) AS ccos
        |  FROM embeddings e CROSS JOIN cents c
        |), cells AS (
        |  SELECT vec_id, embedding, cent_id AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, cent_id) AS r
        |    FROM assigned) WHERE r = 1
        |), drops AS (
        |  SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
        |    >= 0.35
        |)
        |SELECT e.vec_id FROM embeddings e ANTI JOIN drops d ON e.vec_id = d.vec_id""".stripMargin,
    // two-level (coarse -> refine) SemDeDup: both argmax stages replayed
    // with the engine's (cos DESC, id ASC) first-max tie rule — fine
    // centroids owned by their nearest coarse centroid, rows take their
    // coarse group's best fine cell
    "q_semdedup_twolevel" ->
      """WITH coarse AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS coarse_id, embedding AS ccv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0
        |        ORDER BY vec_id LIMIT 2)
        |), fine AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS cell, embedding AS fcv
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |        WHERE list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0
        |        ORDER BY vec_id LIMIT 8)
        |), fscore AS (
        |  SELECT f.cell, f.fcv, c.coarse_id,
        |    list_sum(list_transform(list_zip(f.fcv, c.ccv),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(f.fcv, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.ccv, x -> x::DOUBLE * x::DOUBLE)))) AS ccos
        |  FROM fine f CROSS JOIN coarse c
        |), fown AS (
        |  SELECT cell, fcv, coarse_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY cell
        |      ORDER BY ccos DESC, coarse_id) AS r
        |    FROM fscore) WHERE r = 1
        |), rscore AS (
        |  SELECT e.vec_id, e.embedding, c.coarse_id,
        |    list_sum(list_transform(list_zip(e.embedding, c.ccv),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.ccv, x -> x::DOUBLE * x::DOUBLE)))) AS ccos
        |  FROM embeddings e CROSS JOIN coarse c
        |), rcoarse AS (
        |  SELECT vec_id, embedding, coarse_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, coarse_id) AS r
        |    FROM rscore) WHERE r = 1
        |), cscore AS (
        |  SELECT r.vec_id, r.embedding, f.cell,
        |    list_sum(list_transform(list_zip(r.embedding, f.fcv),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(r.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(f.fcv, x -> x::DOUBLE * x::DOUBLE)))) AS fcos
        |  FROM rcoarse r JOIN fown f ON r.coarse_id = f.coarse_id
        |), cells AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY fcos DESC, cell) AS r
        |    FROM cscore) WHERE r = 1
        |), drops AS (
        |  SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
        |    >= 0.35
        |)
        |SELECT e.vec_id FROM embeddings e ANTI JOIN drops d ON e.vec_id = d.vec_id""".stripMargin,
    "q_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, unnest(list_filter(generate_series(1, len(w) - 2),
        |    i -> w[i] = 'big' AND w[i+1] = 'order' AND w[i+2] = 'scan')) AS i
        |  FROM toks
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_matches,
        |  (min(i) - 1)::BIGINT AS first_pos
        |FROM hits GROUP BY 1""".stripMargin,
    "q_proximity_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, unnest(list_filter(generate_series(1, len(w)),
        |    i -> w[i] = 'table')) AS pa
        |  FROM toks
        |), b AS (
        |  SELECT doc_id, unnest(list_filter(generate_series(1, len(w)),
        |    i -> w[i] = 'value')) AS pb
        |  FROM toks
        |), pairs AS (
        |  SELECT a.doc_id, abs(pa - pb) AS gap
        |  FROM a JOIN b ON a.doc_id = b.doc_id
        |  WHERE abs(pa - pb) <= 3
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_pairs, min(gap)::BIGINT AS min_gap
        |FROM pairs GROUP BY 1""".stripMargin,
    "q_tfidf_cosine" -> tfidfOracleSql,
    // build/search split + term-pruned scan: same result by
    // construction (the q_bm25_pruned precedent)
    "q_tfidf_indexed" -> tfidfOracleSql,
    "q_bm25_topk" ->
      (bm25ChainSql +
        "\nSELECT query_id, doc_id, rank::BIGINT AS rank, score" +
        "\nFROM ranked WHERE rank <= 5"),
    // a run's `ranked` CTE piped into the rank-eval metric trees:
    // graded qrels fixture, ln-form round9 DCG gains, decimal sums,
    // 1e-6 ratios — the metric chain is GENERATED once
    // (rankEvalMetricSql) so every scorer's eval oracle shares it
    "q_rank_eval" -> (bm25ChainSql + rankEvalMetricSql(5)),
    "q_rank_eval_tfidf" -> (tfidfChainSql + rankEvalMetricSql(5)),
    "q_rerank" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n_docs, sum(dl) / count(*)::DOUBLE AS avgdl FROM dl
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), q AS (
        |  SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3
        |), contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    floor((floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * 1000000000 + 0.5) / 1000000000)
        |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
        |      * 1000000 + 0.5) / 1000000 AS c
        |  FROM q JOIN tf USING (term) JOIN dfreq d USING (term)
        |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
        |), bscored AS (
        |  SELECT query_id, doc_id, sum(c::DECIMAL(28,12))::DOUBLE AS score
        |  FROM contrib GROUP BY 1, 2
        |), cand AS (
        |  SELECT query_id, doc_id AS neighbor_id, row_number() OVER
        |    (PARTITION BY query_id ORDER BY score DESC, doc_id) AS brank
        |  FROM bscored
        |), cc AS (
        |  SELECT query_id, neighbor_id FROM cand
        |  WHERE brank <= 20 AND query_id <> neighbor_id
        |), rr AS (
        |  SELECT cc.query_id, cc.neighbor_id,
        |    list_sum(list_transform(list_zip(eq.embedding, ec.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(eq.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(ec.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM cc JOIN embeddings eq ON eq.vec_id = cc.query_id
        |    JOIN embeddings ec ON ec.vec_id = cc.neighbor_id
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM rr
        |)
        |SELECT query_id, neighbor_id, rank::BIGINT AS rank, round(cos, 6) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "q_rrf_hybrid" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT count(*)::DOUBLE AS n_docs, sum(dl) / count(*)::DOUBLE AS avgdl FROM dl
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), q AS (
        |  SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < 3
        |), contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    floor((floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * 1000000000 + 0.5) / 1000000000)
        |      * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
        |      * 1000000 + 0.5) / 1000000 AS c
        |  FROM q JOIN tf USING (term) JOIN dfreq d USING (term)
        |    JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
        |), bm25s AS (
        |  SELECT query_id, doc_id, sum(c::DECIMAL(28,12))::DOUBLE AS score
        |  FROM contrib GROUP BY 1, 2
        |), bm25 AS (
        |  SELECT * FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rank
        |    FROM bm25s) WHERE rank <= 5
        |), denses AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))) AS cos
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 3 AND q.vec_id <> c.vec_id
        |), dense AS (
        |  SELECT * FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, doc_id) AS rank
        |    FROM denses) WHERE rank <= 5
        |), parts AS (
        |  SELECT query_id, doc_id, floor(1.0 / (60 + rank) * 1000000000 + 0.5) / 1000000000 AS part FROM bm25
        |  UNION ALL
        |  SELECT query_id, doc_id, floor(1.0 / (60 + rank) * 1000000000 + 0.5) / 1000000000 AS part FROM dense
        |), fused AS (
        |  SELECT query_id, doc_id, sum(part::DECIMAL(28,12))::DOUBLE AS rrf
        |  FROM parts GROUP BY 1, 2
        |), rr AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, doc_id) AS rank
        |  FROM fused
        |)
        |SELECT query_id, doc_id, rank::BIGINT AS rank, rrf
        |FROM rr WHERE rank <= 5""".stripMargin,
    "q_curation_e2e" ->
      (curationChainSql +
        """
         |SELECT c.doc_id, md5(c.text) AS content_hash, c.quality
         |FROM corpus c ANTI JOIN drops d ON c.doc_id = d.doc_id""".stripMargin),
    // the streamed intake: gate + redact shared with the chain above;
    // the distinct surviving digests are winner-independent, so the
    // stream's first-arrival keep and the batch's min-id keep agree
    "q_curation_stream" ->
      (curationGateSql +
        """
         |SELECT DISTINCT md5(text) AS content_hash FROM red""".stripMargin),
    // the drop ledger: same chain, final projection = disposition CASE
    // over the gate (quality), exact-keep (keepx), and near-dup-drop
    // (drops) sets
    "q_curation_audit" ->
      (curationChainSql +
        """
         |SELECT q.doc_id,
         |  CASE WHEN q.quality < 0.25 THEN 'gate'
         |       WHEN k.doc_id IS NULL THEN 'exact_dup'
         |       WHEN d.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'kept' END AS stage,
         |  q.quality
         |FROM qual q
         |LEFT JOIN keepx k ON q.doc_id = k.doc_id
         |LEFT JOIN drops d ON q.doc_id = d.doc_id""".stripMargin),

    "q_blocklist_filter" ->
      """WITH terms(term) AS (VALUES ('slow'), ('dup'), ('big')),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |    t -> length(t) > 0)) AS tok
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_blocked,
        |    array_to_string(list_sort(list_distinct(list(tok))), ' ') AS blocked_joined
        |  FROM toks JOIN terms ON tok = term
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(h.n_blocked, 0)::BIGINT AS n_blocked,
        |  coalesce(h.blocked_joined, '') AS blocked_joined,
        |  (coalesce(h.n_blocked, 0) <= 2) AS keep
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,
    "q_dsir_weights" ->
      """WITH cg AS (
        |  SELECT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS h FROM (
        |    SELECT doc_id, substr(text, i, 2) AS g
        |    FROM documents, unnest(generate_series(1, length(text)-1)) t(i)
        |    WHERE length(text) >= 2
        |  )
        |), cnt AS (
        |  SELECT h, count(*) AS raw_c,
        |    sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS tgt_c
        |  FROM cg GROUP BY h
        |), tot AS (
        |  SELECT count(*) AS raw_total,
        |    sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS tgt_total,
        |    count(DISTINCT h) AS v
        |  FROM cg
        |), diffs AS (
        |  SELECT cg.doc_id,
        |    floor((floor(ln((c.tgt_c + 1)::DOUBLE / (t.tgt_total + t.v)::DOUBLE) * 1000000000 + 0.5) / 1000000000
        |         - floor(ln((c.raw_c + 1)::DOUBLE / (t.raw_total + t.v)::DOUBLE) * 1000000000 + 0.5) / 1000000000)
        |      * 1000000 + 0.5) / 1000000 AS d
        |  FROM cg JOIN cnt c USING (h) CROSS JOIN tot t
        |), per AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_grams,
        |    floor((sum(d::DECIMAL(28,12))::DOUBLE / count(*)) * 1000000 + 0.5) / 1000000 AS log_w
        |  FROM diffs GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(p.n_grams, 0)::BIGINT AS n_grams, p.log_w
        |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,
    "q_ann_hyperplane" ->
      """WITH b AS (
        |  SELECT vec_id, p,
        |    list_reduce(
        |      list_prepend(0.0::DOUBLE,
        |        list_transform(list_zip(embedding, generate_series(0, len(embedding)-1)),
        |          z -> z[1]::DOUBLE *
        |            (CASE WHEN ('0x'||substr(md5(p::VARCHAR||'_'||z[2]::VARCHAR),1,15))::BIGINT % 2 = 1
        |                  THEN 1.0 ELSE -1.0 END))),
        |      (acc, v) -> acc + v) AS dot
        |  FROM embeddings, unnest(generate_series(0,7)) t(p)
        |)
        |SELECT vec_id,
        |  sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
        |FROM b GROUP BY vec_id""".stripMargin,
    "q_text_lang" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), ratios AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) > 0
        |      THEN len(list_filter(w, t -> list_contains($enList, t)))::DOUBLE / len(w)
        |      ELSE 0.0 END AS en_r,
        |    CASE WHEN len(w) > 0
        |      THEN len(list_filter(w, t -> list_contains($nlList, t)))::DOUBLE / len(w)
        |      ELSE 0.0 END AS nl_r
        |  FROM toks
        |)
        |SELECT doc_id, round(en_r, 6) AS en_ratio, round(nl_r, 6) AS nl_ratio,
        |  CASE WHEN en_r > nl_r AND en_r > 0.0 THEN 'en'
        |       WHEN nl_r > en_r THEN 'nl' ELSE 'und' END AS lang_id
        |FROM ratios""".stripMargin,
    "q_text_quality" ->
      s"""WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w,
        |    list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS wl
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id, length(text) AS n_chars, len(w) AS n_words,
        |    CASE WHEN len(w) > 0
        |      THEN (list_sum(list_transform(w, x -> length(x)))::BIGINT)::DOUBLE / len(w) END AS mwl,
        |    CASE WHEN length(text) > 0
        |      THEN len(regexp_extract_all(text, '[\\.,;:!\\?]'))::DOUBLE / length(text) END AS pr,
        |    CASE WHEN len(wl) > 0
        |      THEN len(list_filter(wl, t -> list_contains($enList, t)))::DOUBLE / len(wl)
        |      ELSE 0.0 END AS sr
        |  FROM toks
        |)
        |SELECT doc_id, n_chars, n_words, round(mwl, 6) AS mean_word_len,
        |  round(pr, 6) AS punct_ratio, round(sr, 6) AS stopword_ratio,
        |  round((least(n_words/50.0, 1.0) + least(sr*5.0, 1.0)) / 2.0, 6) AS score
        |FROM sig""".stripMargin,
    "q_sample_exact_n" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 7""".stripMargin,
    "q_text_normalize" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_norm
        |FROM documents""".stripMargin,
    "q_source_topk_quality" ->
      s"""WITH toks AS (
        |  SELECT source, doc_id, text,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w,
        |    list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS wl
        |  FROM documents
        |), sig AS (
        |  SELECT source, doc_id, len(w) AS n_words,
        |    CASE WHEN len(wl) > 0
        |      THEN len(list_filter(wl, t -> list_contains($enList, t)))::DOUBLE / len(wl)
        |      ELSE 0.0 END AS sr
        |  FROM toks
        |), sc AS (
        |  SELECT source, doc_id,
        |    round((least(n_words/50.0, 1.0) + least(sr*5.0, 1.0)) / 2.0, 6) AS score
        |  FROM sig
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY score DESC, doc_id) AS rank FROM sc
        |)
        |SELECT source, doc_id, rank::BIGINT AS rank, score
        |FROM r WHERE rank <= 3""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_ws,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_re
        |FROM documents""".stripMargin,
    "q_text_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |)
        |SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(w, t -> ('0x'||substr(md5(t),1,15))::BIGINT % 1000000007)),
        |    (a, b) -> (a * 1000003 + b) % 1000000007) AS fp
        |FROM toks""".stripMargin,
    "q_text_bigram_lm" ->
      """WITH cg AS (
        |  SELECT DISTINCT doc_id, ('0x'||substr(md5(g),1,15))::BIGINT AS h FROM (
        |    SELECT doc_id, substr(text, i, 2) AS g
        |    FROM documents, unnest(generate_series(1, length(text)-1)) t(i)
        |    WHERE length(text) >= 2
        |  )
        |), bf AS (
        |  SELECT h, count(*) AS df FROM cg GROUP BY h
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor((sum(df::DECIMAL(28,12))::DOUBLE / count(*)) * 1000000 + 0.5) / 1000000 AS mean_df,
        |  floor((sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)) * 1000000 + 0.5) / 1000000 AS rare_ratio
        |FROM cg JOIN bf USING (h)
        |GROUP BY doc_id""".stripMargin,
    "q_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 3
        |    THEN list_transform(generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2])
        |    ELSE [] END AS shingles
        |  FROM toks
        |), hs AS (
        |  SELECT DISTINCT doc_id, ('0x'||substr(md5(s),1,15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
        |), bn AS (
        |  SELECT doc_id AS bench_id, count(*) AS n FROM hs WHERE doc_id < 20 GROUP BY doc_id
        |), ov AS (
        |  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, count(*) AS ns
        |  FROM hs c JOIN hs b ON c.h = b.h AND b.doc_id < 20 AND c.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT corpus_id, bench_id, ns::BIGINT AS n_shared,
        |  floor(ns::DOUBLE / bn.n * 1000000 + 0.5)/1000000 AS contamination
        |FROM ov JOIN bn USING (bench_id)
        |WHERE floor(ns::DOUBLE / bn.n * 1000000 + 0.5)/1000000 >= 0.1""".stripMargin,
    "q_text_repetition" ->
      """WITH l AS (
        |  SELECT doc_id, seg, count(*) AS c, len(seg) AS slen
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS seg FROM documents)
        |  WHERE len(seg) > 0
        |  GROUP BY doc_id, seg
        |), ls AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_lines, count(*)::BIGINT AS n_uniq_lines,
        |    sum(CASE WHEN c > 1 THEN c*slen ELSE 0 END)::BIGINT AS dchars,
        |    sum(c*slen)::BIGINT AS chars
        |  FROM l GROUP BY doc_id
        |), toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= 2
        |    THEN list_transform(generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])
        |    ELSE [] END AS shingles
        |  FROM toks
        |), g AS (
        |  SELECT doc_id, h, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(shingles,
        |      s -> ('0x'||substr(md5(s),1,15))::BIGINT)) AS h
        |    FROM sh) GROUP BY doc_id, h
        |), gs AS (
        |  SELECT doc_id, max(c)::BIGINT AS maxg, sum(c)::BIGINT AS ng FROM g GROUP BY doc_id
        |)
        |-- anchor on documents: a doc with no non-empty segments keeps a
        |-- zero-stat row (the library's full-id-set contract)
        |SELECT d.doc_id,
        |  coalesce(n_lines, 0)::BIGINT AS n_lines,
        |  coalesce(n_uniq_lines, 0)::BIGINT AS n_uniq_lines,
        |  coalesce(CASE WHEN n_lines > 0 THEN
        |    floor(((n_lines - n_uniq_lines)::DOUBLE / n_lines) * 1000000 + 0.5)/1000000 END,
        |    0.0) AS dup_line_ratio,
        |  coalesce(CASE WHEN chars > 0 THEN floor((dchars::DOUBLE / chars) * 1000000 + 0.5)/1000000 END, 0.0) AS dup_line_char_ratio,
        |  coalesce(CASE WHEN ng > 0 THEN floor((maxg::DOUBLE / ng) * 1000000 + 0.5)/1000000 END, 0.0) AS top_gram_ratio
        |FROM documents d LEFT JOIN ls USING (doc_id) LEFT JOIN gs USING (doc_id)""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id FROM documents
        |WHERE ('0x'||substr(md5(text||'sample'),1,15))::BIGINT % 1000000 < 100000""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n,
        |    ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 4 AS shard
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, shard, n,
        |    (sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT - n AS bef
        |  FROM t
        |)
        |SELECT doc_id, shard, (bef // 2048)::BIGINT AS seq_id,
        |  (bef % 2048)::BIGINT AS seq_offset
        |FROM c""".stripMargin,
    // the straddle expansion over the same running-sum layout: one row
    // per sequence a document occupies (zero-token docs occupy none)
    "q_pack_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n,
        |    ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 4 AS shard
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, shard, n,
        |    (sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT - n AS bef
        |  FROM t
        |), occ AS (
        |  SELECT doc_id, shard, n, bef,
        |    unnest(generate_series(bef // 2048, (bef + n - 1) // 2048)) AS seq_id
        |  FROM c WHERE n > 0
        |)
        |SELECT doc_id, shard, seq_id::BIGINT AS seq_id,
        |  (greatest(bef, seq_id * 2048) - seq_id * 2048)::BIGINT AS seq_start,
        |  (least(bef + n, (seq_id + 1) * 2048)
        |    - greatest(bef, seq_id * 2048))::BIGINT AS n_in_seq
        |FROM occ""".stripMargin,
    // the arithmetic shortcut for the PNG-header round-trip: dims derive
    // from (doc_id, k), patch cost = ceil(w/14)*ceil(h/14) + 2 boundary
    // tokens per image, doc_id % 3 images per doc
    "q_pack_multimodal" ->
      """WITH img AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 >= 1 THEN
        |       (((doc_id*7) % 1920 + 14) // 14) * (((doc_id*11) % 1080 + 14) // 14) + 2
        |     ELSE 0 END)::BIGINT
        |    + (CASE WHEN doc_id % 3 >= 2 THEN
        |       (((doc_id*7 + 13) % 1920 + 14) // 14) * (((doc_id*11 + 17) % 1080 + 14) // 14) + 2
        |     ELSE 0 END)::BIGINT AS img_n
        |  FROM documents
        |), t AS (
        |  SELECT d.doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT
        |      + i.img_n AS n,
        |    ('0x'||substr(md5(d.doc_id::VARCHAR),1,15))::BIGINT % 4 AS shard
        |  FROM documents d JOIN img i USING (doc_id)
        |), c AS (
        |  SELECT doc_id, shard, n,
        |    (sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT - n AS bef
        |  FROM t
        |)
        |SELECT doc_id, shard, (bef // 4096)::BIGINT AS seq_id,
        |  (bef % 4096)::BIGINT AS seq_offset, n AS n_tokens
        |FROM c""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text))::BIGINT AS byte_length,
        |  md5(text) AS content_hash,
        |  CASE WHEN octet_length(encode(text)) = 0 THEN 'empty payload'
        |       ELSE 'not decoded: use decodePartitions' END AS decode_error
        |FROM documents""".stripMargin,
    "q_multimodal_mp3" ->
      """SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 43 + doc_id % 50
        |        ELSE 64 + doc_id % 1000 END)::BIGINT AS byte_length,
        |  (CASE WHEN doc_id % 2 = 0
        |    THEN ((doc_id * 7919 % 100000 + 100) * 1152 * 1000)
        |      // (([44100, 48000, 32000])[(doc_id % 3 + 1)::INT])
        |    ELSE ((64 + doc_id % 1000) * 8)
        |      // (([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
        |           [(doc_id % 14 + 1)::INT])
        |  END)::BIGINT AS duration_ms,
        |  true AS ok
        |FROM documents""".stripMargin,
    "q_multimodal_mp4" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    ((doc_id * 977 % 1000000 + 1000) * 1000)
        |      // ((doc_id % 4 + 1) * 600) AS dur_ms
        |  FROM documents
        |)
        |SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 52 ELSE 64 END)::BIGINT AS byte_length,
        |  dur_ms::BIGINT AS duration_ms,
        |  ((dur_ms - 1) // 40 + 1)::BIGINT AS n_frames,
        |  true AS ok
        |FROM p""".stripMargin,
    "q_multimodal_frames" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    ((doc_id * 977 % 1000000 + 1000) * 1000)
        |      // ((doc_id % 4 + 1) * 600) AS dur_ms
        |  FROM documents
        |)
        |SELECT doc_id, (u // 40000)::BIGINT AS frame_idx, u::BIGINT AS offset_ms
        |FROM p, unnest(generate_series(0, dur_ms - 1, 40000)) t(u)""".stripMargin,
    "q_multimodal_decode" ->
      """SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 29 ELSE 23 END)::BIGINT AS byte_length,
        |  (doc_id % 1920 + 1)::BIGINT AS width,
        |  (doc_id % 1080 + 1)::BIGINT AS height
        |FROM documents""".stripMargin,
    // a solid gray image's integer-milli luma mean is its gray level
    // exactly; dims round-trip the real raster, n_features = side^2
    "q_multimodal_pixels" ->
      """SELECT doc_id,
        |  (doc_id % 5 + 2)::BIGINT AS width,
        |  (doc_id % 3 + 1)::BIGINT AS height,
        |  ((doc_id * 37 + 11) % 256)::DOUBLE AS mean_luma,
        |  64::BIGINT AS n_features,
        |  true AS ok
        |FROM documents""".stripMargin,
    // the 4x4 quadrant fixture decodes to exact {0,255} quadrant vectors
    // (identity-scale resample, gray endpoints are conversion-invariant);
    // per-quadrant repetition cancels from every cosine, so the oracle
    // replays cell assignment (first-max cosine over the four
    // one-bright-quadrant centroids = first bright quadrant; all-dark =
    // zero norm = null cell, never dropped) and the cell-local
    // lower-id-near-dup drop on 4-dim quadrant vectors
    "q_image_neardup" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id & 1) != 0 THEN 255.0 ELSE 0.0 END AS q0,
        |    CASE WHEN (doc_id & 2) != 0 THEN 255.0 ELSE 0.0 END AS q1,
        |    CASE WHEN (doc_id & 4) != 0 THEN 255.0 ELSE 0.0 END AS q2,
        |    CASE WHEN (doc_id & 8) != 0 THEN 255.0 ELSE 0.0 END AS q3
        |  FROM documents
        |), a AS (
        |  SELECT doc_id, q0, q1, q2, q3,
        |    sqrt(q0*q0 + q1*q1 + q2*q2 + q3*q3) AS nrm,
        |    CASE WHEN q0 > 0 THEN 1 WHEN q1 > 0 THEN 2
        |         WHEN q2 > 0 THEN 3 WHEN q3 > 0 THEN 4 END AS cell
        |  FROM q
        |)
        |SELECT x.doc_id FROM a x
        |WHERE x.cell IS NULL OR NOT EXISTS (
        |  SELECT 1 FROM a y
        |  WHERE y.cell = x.cell AND y.doc_id < x.doc_id
        |    AND (x.q0*y.q0 + x.q1*y.q1 + x.q2*y.q2 + x.q3*y.q3)
        |          / (x.nrm * y.nrm) >= 0.95)""".stripMargin,
    "q_multimodal_audio" ->
      """SELECT doc_id, 44::BIGINT AS byte_length,
        |  (((doc_id * 977) % 1000000 + 1000) * 1000)
        |    // (((doc_id % 5) * 8000 + 8000) * 2) AS duration_ms,
        |  true AS ok
        |FROM documents""".stripMargin,
    "q_text_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0,
        |      greatest(ceil((len(w) - 20)::DOUBLE / 15)::BIGINT * 15, 0), 15)) AS s
        |  FROM toks WHERE len(w) > 0
        |)
        |SELECT doc_id, (s // 15)::BIGINT AS chunk_idx,
        |  array_to_string(w[s+1 : s+20], ' ') AS chunk_text,
        |  least(len(w) - s, 20)::BIGINT AS n_chunk_tokens
        |FROM st""".stripMargin,
    "q_lang_rebalance" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY 1
        |), m AS (
        |  SELECT min(n) AS nmin FROM c
        |)
        |-- LEFT join + coalesce(keep,false): NULL-lang rows stay in the
        |-- output rejected, mirroring languageRebalance's contract (the
        |-- counts CTE also excludes them from n_min on both sides)
        |SELECT d.doc_id, d.lang,
        |  round(sqrt(m.nmin::DOUBLE / c.n), 6) AS keep_prob,
        |  coalesce(
        |    (('0x'||substr(md5(d.text||'rebalance'),1,15))::BIGINT % 1000000)
        |      < floor(sqrt(m.nmin::DOUBLE / c.n) * 1000000)::BIGINT,
        |    false) AS keep
        |FROM documents d LEFT JOIN c USING (lang) CROSS JOIN m""".stripMargin,
    "q_dedup_spans" -> {
      val n = 5
      val gram = (0 until n).map(j => s"w[i+$j]").mkString("||' '||")
      dupCorpusSql + s""", toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM corpus
        |), gsh AS (
        |  SELECT doc_id, CASE WHEN len(w) >= $n
        |    THEN list_transform(generate_series(1, len(w)-${n - 1}), i -> $gram)
        |    ELSE [] END AS shingles
        |  FROM toks
        |), gh AS (
        |  SELECT doc_id,
        |    list_transform(shingles, s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS hs
        |  FROM gsh
        |), grams AS (
        |  SELECT doc_id, unnest(hs) AS h, generate_subscripts(hs, 1) - 1 AS pos FROM gh
        |), counted AS (
        |  SELECT *, count(*) OVER (PARTITION BY h) AS ch,
        |    count(*) OVER (PARTITION BY h, doc_id) AS chd
        |  FROM grams
        |), dup AS (
        |  SELECT doc_id, pos FROM counted WHERE ch > chd
        |), grp AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $n
        |      THEN 1 ELSE 0 END AS bump
        |  FROM dup
        |), spans0 AS (
        |  SELECT doc_id, pos, sum(bump) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
        |  FROM grp
        |)
        |SELECT doc_id, min(pos)::BIGINT AS span_start,
        |  (max(pos) + $n - 1)::BIGINT AS span_end, count(*) AS n_dup_grams
        |FROM spans0 GROUP BY doc_id, span""".stripMargin
    },
    "q_dedup_paragraph" ->
      """WITH base AS (
        |  SELECT doc_id, source || e'\n\n' || text || e'\n\n' || lang AS t
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, unnest(string_split(t, e'\n\n')) AS p,
        |    generate_subscripts(string_split(t, e'\n\n'), 1) AS i
        |  FROM base
        |), firsts AS (
        |  SELECT *, row_number() OVER (PARTITION BY p ORDER BY doc_id, i) AS rn
        |  FROM parts
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(p, e'\n\n' ORDER BY i) AS text
        |  FROM firsts WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT b.doc_id, coalesce(r.text, '') AS text
        |FROM base b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id""".stripMargin,
    "q_pii_redact" -> {
      val e = TextFunctions.emailRe
      val i = TextFunctions.ipv4Re
      val p = TextFunctions.phoneRe
      s"""WITH t AS (
         |  SELECT doc_id, text || ' contact user' || doc_id || '@example.com or 10.0.'
         |    || (doc_id % 256) || '.7 tel 555-'
         |    || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0199' AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g')
         |    AS redacted,
         |  length(regexp_extract_all(t, '$e'))::BIGINT AS emails,
         |  length(regexp_extract_all(t, '$i'))::BIGINT AS ips,
         |  length(regexp_extract_all(t, '$p'))::BIGINT AS phones
         |FROM t""".stripMargin
    },
    "q_ann_pq" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
        |), subs AS (SELECT unnest(range(4)) AS j),
        |dists AS (
        |  SELECT e.vec_id, s.j, c.cid,
        |    list_sum(list_transform(
        |      list_zip(e.embedding[s.j*16+1 : s.j*16+16], c.cv[s.j*16+1 : s.j*16+16]),
        |      p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))) AS d2
        |  FROM embeddings e CROSS JOIN subs s CROSS JOIN cents c
        |), codes AS (
        |  SELECT vec_id, j, cid AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
        |      ORDER BY d2 ASC, cid) AS r FROM dists) WHERE r = 1
        |), lut AS (
        |  SELECT q.vec_id AS query_id, s.j, c.cid,
        |    list_sum(list_transform(
        |      list_zip(q.embedding[s.j*16+1 : s.j*16+16], c.cv[s.j*16+1 : s.j*16+16]),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS ip
        |  FROM embeddings q CROSS JOIN subs s CROSS JOIN cents c
        |  WHERE q.vec_id >= 10 AND q.vec_id < 13
        |), scored AS (
        |  SELECT l.query_id, n.vec_id AS neighbor_id,
        |    max(CASE WHEN l.j = 0 THEN ip END) + max(CASE WHEN l.j = 1 THEN ip END)
        |      + max(CASE WHEN l.j = 2 THEN ip END) + max(CASE WHEN l.j = 3 THEN ip END) AS score
        |  FROM codes n JOIN lut l ON n.j = l.j AND n.code = l.cid
        |  WHERE n.vec_id <> l.query_id
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, rank, round(score, 6) AS score
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "q_ann_ivfpq" ->
      (ivfPqRankedSql(10, 13) +
        """
          |SELECT query_id, neighbor_id, rank, round(score, 6) AS score
          |FROM ranked0 WHERE rank <= 5""".stripMargin),
    // the dense corner of the serving-eval triangle: the SAME coded
    // IVF-PQ replay over query ids 0-2 piped into the SAME metric
    // chain that scores BM25 and tf-idf
    "q_rank_eval_dense" ->
      (ivfPqRankedSql(0, 3, idxBound = 300L) +
        """, ranked AS (
          |  SELECT query_id, neighbor_id AS doc_id, rank
          |  FROM ranked0 WHERE rank <= 5
          |)""".stripMargin + rankEvalMetricSql(5)),
    "q_unigram_seed" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
        |  FROM documents
        |), wf AS (
        |  SELECT word, count(*) AS cnt FROM words
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1
        |), pieces AS (
        |  SELECT substr(word, i, l) AS piece, sum(cnt)::BIGINT AS freq
        |  FROM wf,
        |    unnest(generate_series(1, length(word))) t(i),
        |    unnest(generate_series(1, 4)) u(l)
        |  WHERE i + l - 1 <= length(word)
        |  GROUP BY 1
        |)
        |SELECT piece, freq FROM pieces WHERE length(piece) = 1
        |UNION ALL
        |SELECT piece, freq FROM (
        |  SELECT piece, freq FROM pieces WHERE length(piece) > 1
        |  ORDER BY freq DESC, piece LIMIT 256
        |)""".stripMargin,
    "q_fuzzy_join" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
        |  FROM documents
        |), wf AS (
        |  SELECT DISTINCT word FROM words WHERE regexp_matches(word, '^[a-z]+$')
        |), vocab AS (
        |  SELECT word AS s FROM wf
        |  UNION
        |  SELECT substr(word, 1, 1) || substr(word, 3) AS s
        |  FROM wf WHERE length(word) >= 4
        |)
        |SELECT a.s AS s_a, b.s AS s_b,
        |  levenshtein(a.s, b.s)::BIGINT AS dist
        |FROM vocab a JOIN vocab b
        |  ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 1
        |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin,
    // Viterbi over the exact-grid model (logp = freq − 1e9, integer-
    // valued: path scores exact, ties = longest-final-piece recursively
    // = reversed piece-length list DESC): enumerate every cut mask per
    // DISTINCT word, keep vocab-valid segmentations, rank
    "q_unigram_tokens" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
        |  FROM documents
        |), wf AS (
        |  SELECT word, count(*) AS cnt FROM words
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1
        |), piecesall AS (
        |  SELECT substr(word, i, l) AS piece, sum(cnt)::BIGINT AS freq
        |  FROM wf,
        |    unnest(generate_series(1, length(word))) t(i),
        |    unnest(generate_series(1, 4)) u(l)
        |  WHERE i + l - 1 <= length(word)
        |  GROUP BY 1
        |), vocab AS (
        |  SELECT piece, freq FROM piecesall WHERE length(piece) = 1
        |  UNION ALL
        |  SELECT piece, freq FROM (
        |    SELECT piece, freq FROM piecesall WHERE length(piece) > 1
        |    ORDER BY freq DESC, piece LIMIT 256)
        |), dwords AS (
        |  SELECT DISTINCT word FROM wf
        |), segs AS (
        |  SELECT word, m,
        |    list_concat(list_concat([0],
        |      list_filter(generate_series(1, length(word) - 1),
        |        i -> ((m >> (i - 1)::INT) & 1) = 1)),
        |      [length(word)::BIGINT]) AS bnds
        |  FROM dwords,
        |    unnest(generate_series(0, (1::BIGINT << (length(word) - 1)) - 1)) t(m)
        |), segp AS (
        |  SELECT word, m,
        |    list_transform(generate_series(1, len(bnds) - 1),
        |      k -> substr(word, (bnds[k] + 1)::INT, (bnds[k+1] - bnds[k])::INT)) AS ps
        |  FROM segs
        |), valid AS (
        |  SELECT word, m, ps, list_transform(ps, p -> length(p)) AS lens
        |  FROM segp
        |  WHERE list_aggregate(list_transform(ps, p -> length(p)), 'max') <= 4
        |), exploded AS (
        |  SELECT word, m, unnest(ps) AS p FROM valid
        |), scoredw AS (
        |  SELECT e.word, e.m,
        |    sum(v.freq)::BIGINT - count(*) * 1000000000 AS score
        |  FROM exploded e LEFT JOIN vocab v ON e.p = v.piece
        |  GROUP BY e.word, e.m
        |  HAVING count(*) = count(v.freq)
        |), best AS (
        |  SELECT v.word, v.ps
        |  FROM scoredw s JOIN valid v ON s.word = v.word AND s.m = v.m
        |  QUALIFY row_number() OVER (PARTITION BY v.word
        |    ORDER BY s.score DESC, list_reverse(v.lens) DESC) = 1
        |), docs2 AS (
        |  SELECT doc_id, list_filter(
        |    list_filter(string_split(text, ' '), t -> length(t) > 0),
        |    w -> regexp_matches(w, '^[a-z]+$')) AS lws
        |  FROM documents
        |), docw AS (
        |  SELECT doc_id, i AS widx, lws[i] AS word
        |  FROM docs2, unnest(generate_series(1, len(lws))) t(i)
        |), perdoc AS (
        |  SELECT d.doc_id,
        |    string_agg(array_to_string(b.ps, ' '), ' ' ORDER BY d.widx) AS joined,
        |    sum(len(b.ps))::BIGINT AS n
        |  FROM docw d JOIN best b ON d.word = b.word
        |  GROUP BY d.doc_id
        |)
        |SELECT d.doc_id, coalesce(p.joined, '') AS pieces_joined,
        |  coalesce(p.n, 0)::BIGINT AS n_pieces
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin,
    "q_bpe_pairs" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
        |  FROM documents
        |), wf AS (
        |  SELECT word, count(*) AS cnt FROM words
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1
        |), syms AS (
        |  SELECT list_append(string_split(word, ''), '</w>') AS s, cnt FROM wf
        |), pairs AS (
        |  SELECT s[i] AS a, s[i+1] AS b, cnt
        |  FROM syms, unnest(range(1, len(s))) AS t(i)
        |)
        |SELECT a, b, sum(cnt)::BIGINT AS n FROM pairs GROUP BY 1, 2""".stripMargin,
    "q_wordpiece_scores" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
        |  FROM documents
        |), wf AS (
        |  SELECT word, count(*) AS cnt FROM words
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1
        |), syms AS (
        |  SELECT list_append(string_split(word, ''), '</w>') AS s, cnt FROM wf
        |), sy AS (
        |  SELECT u AS sym, sum(cnt)::BIGINT AS m
        |  FROM (SELECT unnest(s) AS u, cnt FROM syms) GROUP BY 1
        |), pc AS (
        |  SELECT a, b, sum(cnt)::BIGINT AS n FROM (
        |    SELECT s[i] AS a, s[i+1] AS b, cnt
        |    FROM syms, unnest(range(1, len(s))) AS t(i)
        |  ) GROUP BY 1, 2
        |)
        |SELECT a, b, n, sa.m AS na, sb.m AS nb,
        |  floor(n::DOUBLE / (sa.m::DOUBLE * sb.m::DOUBLE) * 1000000 + 0.5)
        |    / 1000000 AS score
        |FROM pc JOIN sy sa ON pc.a = sa.sym JOIN sy sb ON pc.b = sb.sym
        |WHERE n >= 2""".stripMargin,
    "q_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc</title><style>p { color: red; }</style>'
        |    || '<script type="text/javascript">var x = ''<p>not text</p>'';</script></head>'
        |    || '<body><!-- nav --><h1>Doc &amp; title</h1><p class="main">'
        |    || coalesce(text, '')
        |    || ' &lt;end&gt;&nbsp;fin</p></body></html>' AS html
        |  FROM documents
        |)
        |SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(html, '(?is)<script\b.*?</script\s*>', ' ', 'g'),
        |          '(?is)<style\b.*?</style\s*>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |      '(?s)<[^>]*>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&'),
        |  '\s+', ' ', 'g')) AS extracted
        |FROM h""".stripMargin,
    "q_html_main" ->
      (s"""WITH h AS (SELECT doc_id, $duckPage AS html FROM documents)
         |SELECT doc_id, ${duckMain("html")} AS main FROM h""".stripMargin),
    "q_cc_pipeline" ->
      (dupCorpusSql +
        s""", h AS (SELECT doc_id, $duckPage AS html FROM corpus
         |), m AS (
         |  SELECT doc_id, ${duckMain("html")} AS main FROM h
         |), t AS (
         |  SELECT doc_id, main,
         |    len(list_filter(string_split(main, ' '), x -> length(x) > 0))::BIGINT AS n_tokens
         |  FROM m
         |)
         |SELECT min(doc_id) AS doc_id, main, n_tokens, count(*)::BIGINT AS n_dups
         |FROM t WHERE n_tokens >= 5 GROUP BY main, n_tokens""".stripMargin),
    // the two-batch incremental intake must equal the one-shot chain:
    // global min-id per accepted content (batch-1 ids precede batch-2
    // ids, so the digest screen + per-batch min-id compose to this)
    "q_crawl_incremental" ->
      (dupCorpusSql +
        s""", h AS (SELECT doc_id, $duckPage AS html FROM corpus
         |), m AS (
         |  SELECT doc_id, ${duckMain("html")} AS main FROM h
         |), t AS (
         |  SELECT doc_id, main,
         |    len(list_filter(string_split(main, ' '), x -> length(x) > 0))::BIGINT AS n_tokens
         |  FROM m
         |)
         |SELECT min(doc_id) AS doc_id, main, n_tokens
         |FROM t WHERE n_tokens >= 5 GROUP BY main, n_tokens""".stripMargin),
    // two-phase warm-start replay: bootstrap rounds over batch-1 edges,
    // carried/renormalized vector, refresh rounds over the folded set —
    // the host column matches the Spark side's id alias
    "q_authority_incremental" ->
      ("SELECT id AS host, rank FROM (\n" +
        graft.ops.PageRank.oracleSqlWarmStart(
          authorityEdgesCte("doc_id < 250"), iters1 = 2,
          authorityEdgesCte("true"), iters2 = 2) + "\n)"),
    "q_url_normalize" -> (urlChainSql +
      s"""
        |SELECT doc_id, url, host, $domainCaseSql AS domain
        |FROM u7""".stripMargin),
    "q_domain_cap" -> (urlChainSql +
      s""", dom AS (
        |  SELECT doc_id, $domainCaseSql AS domain FROM u7
        |), capped AS (
        |  SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
        |    ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id) AS rn
        |  FROM dom
        |)
        |SELECT doc_id, domain FROM capped WHERE rn <= 50""".stripMargin),
    // full PSL algorithm per row, rule lists inlined from the parsed +
    // punycode-normalized COMPLETE bundled list (exception > longest
    // normal/wildcard > implicit `*`; registered = public suffix + 1
    // label, null when the host IS a public suffix)
    "q_registered_domain" ->
      (pslChainSql + "\nSELECT doc_id, host, domain FROM dom"),
    "q_url_traps" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 5 = 0 THEN 'http://s' || (doc_id % 7)::VARCHAR
        |        || '.example/a/b/page' || doc_id::VARCHAR
        |      WHEN doc_id % 5 = 1 THEN 'http://cal.example/'
        |        || repeat('2026/01/05/', (2 + doc_id % 3)::INT) || 'item'
        |      WHEN doc_id % 5 = 2 THEN 'http://s.example/p?phpsessid=tok'
        |        || doc_id::VARCHAR || '&x=1'
        |      WHEN doc_id % 5 = 3 THEN 'http://f.example/q?a0=1&a1=1&a2=1&a3=1&a4=1&a5=1&a6=1&a7=1&a8=1&a9=1&b='
        |        || doc_id::VARCHAR
        |      ELSE 'http://d.example/' || array_to_string(
        |        string_split('s1,s2,s3,s4,s5,s6,s7,s8,s9,s10,s11,s12', ',')[1:(9 + doc_id % 4)::INT], '/') || '/leaf'
        |    END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, url,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
        |    CASE WHEN contains(regexp_replace(url, '#.*$', ''), '?')
        |      THEN regexp_replace(regexp_replace(url, '#.*$', ''), '^[^?]*\?', '')
        |      ELSE '' END AS query
        |  FROM u
        |), feats AS (
        |  SELECT doc_id, url,
        |    list_filter(string_split(path, '/'), s -> length(s) > 0) AS segs,
        |    list_filter(string_split(query, '&'), p -> length(p) > 0) AS params
        |  FROM parts
        |), scored AS (
        |  SELECT doc_id, url,
        |    len(segs)::BIGINT AS depth,
        |    (len(segs) - len(list_distinct(segs)))::BIGINT AS seg_repeats,
        |    len(params)::BIGINT AS n_params,
        |    len(list_filter(params, p ->
        |      regexp_matches(p, '(?i)^(phpsessid|sid|sessionid|jsessionid|session_id)='))) > 0
        |      AS has_session
        |  FROM feats
        |)
        |SELECT doc_id, url, depth, seg_repeats, n_params, has_session,
        |  (depth > 10 OR seg_repeats >= 3 OR n_params > 8 OR has_session) AS is_trap
        |FROM scored""".stripMargin,
    "q_domain_cap_psl" ->
      (pslChainSql +
        """, capped AS (
          |  SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
          |    ORDER BY ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT, doc_id) AS rn
          |  FROM dom
          |)
          |SELECT doc_id, domain FROM capped WHERE rn <= 50""".stripMargin),

    // independent RFC 9309 replay from the SAME robots body strings:
    // line explode -> comment strip -> key filter -> UA-run grouping
    // (lag marks a group start, cumsum numbers it — split into two CTEs
    // because DuckDB rejects nested window calls) -> exact-over-star
    // group selection -> pattern-to-regex translation -> longest-match
    // ranking with allow beating disallow on ties
    "q_robots_filter" ->
      (robotsChainSql +
        """
          |SELECT doc_id,
          |  'http://' || host || path AS url,
          |  host, path,
          |  (pattern IS NULL OR directive = 'allow') AS allowed,
          |  coalesce(directive, 'none') AS matched_directive,
          |  coalesce(pattern, '') AS matched_pattern
          |FROM win WHERE rn = 1""".stripMargin),

    // the scheduler composition: the robots chain's allowed URLs join
    // host authority (the generated 3-iteration PageRank oracle rides
    // as a parenthesized subquery — its WITH scope is isolated) and
    // gain a per-host politeness slot
    "q_crawl_frontier" ->
      (robotsChainSql +
        s""", decided AS (
           |  SELECT doc_id, host, path,
           |    (pattern IS NULL OR directive = 'allow') AS allowed
           |  FROM win WHERE rn = 1
           |), pr AS (
           |  SELECT * FROM (${graft.ops.PageRank.oracleSql(
                 frontierEdgesCte, iterations = 3)}) t
           |), $crawlDelayChainSql, fr AS (
           |  SELECT d.doc_id,
           |    'http://' || d.host || d.path AS url,
           |    d.host,
           |    p.rank AS host_rank,
           |    row_number() OVER (PARTITION BY d.host ORDER BY d.doc_id)::BIGINT AS slot
           |  FROM decided d LEFT JOIN pr p ON d.host = p.id
           |  WHERE d.allowed
           |)
           |SELECT fr.*,
           |  (fr.slot - 1)::DOUBLE * coalesce(hd.crawl_delay, 0.0::DOUBLE) AS fetch_after
           |FROM fr LEFT JOIN hostdelay hd ON fr.host = hd.host""".stripMargin),

    // the pre-fetch crawl loop, all seven stages replayed: sitemap
    // index + urlset round-trip → URL-grain min-id dedup → trap
    // features → robots decision (selr from the shared chain) → slot
    // window + crawl delays → largest-remainder quotas (budget 12) →
    // anchor votes from the scheduled set only. Every block is the
    // corresponding standalone oracle's machinery spliced on the
    // composed grain.
    "q_crawl_loop_e2e" ->
      (robotsChainSql +
        s""", bkts AS (
           |  SELECT DISTINCT host, (doc_id // 10)::BIGINT AS bucket FROM urls
           |), iblocks AS (
           |  SELECT host,
           |    '<sitemap><loc>http://' || host || '/sitemap-' || bucket::VARCHAR
           |    || '.xml</loc>' ||
           |    CASE WHEN bucket % 2 = 0 THEN '<lastmod>2026-0' ||
           |      (bucket % 9 + 1)::VARCHAR || '-01</lastmod>' ELSE '' END ||
           |    '</sitemap>' AS block
           |  FROM bkts
           |), ixmls AS (
           |  SELECT host, '<?xml version="1.0"?><sitemapindex>' ||
           |    string_agg(block, '') || '</sitemapindex>' AS xml
           |  FROM iblocks GROUP BY 1
           |), ientries AS (
           |  SELECT host, unnest(regexp_extract_all(xml,
           |    '<sitemap>(.*?)</sitemap>', 1)) AS entry
           |  FROM ixmls
           |), ichild AS (
           |  SELECT host, TRY_CAST(regexp_extract(
           |      regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1),
           |      'sitemap-(\\d+)\\.xml', 1) AS BIGINT) AS bucket
           |  FROM ientries
           |  WHERE regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1) <> ''
           |), ublocks AS (
           |  SELECT host, (doc_id // 10)::BIGINT AS bucket,
           |    '<url><loc>http://' || host || path || '</loc>' ||
           |    CASE WHEN doc_id % 2 = 0 THEN '<lastmod>2026-' ||
           |      lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') || '-15</lastmod>'
           |      ELSE '' END ||
           |    '</url>' AS block
           |  FROM urls
           |), uxmls AS (
           |  SELECT host, bucket, '<?xml version="1.0"?><urlset>' ||
           |    string_agg(block, '') || '</urlset>' AS xml
           |  FROM ublocks GROUP BY 1, 2
           |), fetched AS (
           |  SELECT u.xml FROM ichild c
           |  JOIN uxmls u ON c.host = u.host AND c.bucket = u.bucket
           |), uentries AS (
           |  SELECT unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS entry
           |  FROM fetched
           |), disc AS (
           |  SELECT DISTINCT regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1) AS url
           |  FROM uentries
           |  WHERE regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1) <> ''
           |), cand0 AS (
           |  SELECT d.url, min(u.doc_id)::BIGINT AS doc_id
           |  FROM disc d JOIN (
           |    SELECT doc_id, 'http://' || host || path AS url FROM urls) u
           |    ON d.url = u.url
           |  GROUP BY 1
           |), feat AS (
           |  SELECT doc_id, url,
           |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path0,
           |    CASE WHEN contains(regexp_replace(url, '#.*$$', ''), '?')
           |      THEN regexp_replace(regexp_replace(url, '#.*$$', ''), '^[^?]*\\?', '')
           |      ELSE '' END AS query
           |  FROM cand0
           |), featx AS (
           |  SELECT doc_id, url,
           |    list_filter(string_split(path0, '/'), s -> length(s) > 0) AS segs,
           |    list_filter(string_split(query, '&'), p -> length(p) > 0) AS params
           |  FROM feat
           |), trapv AS (
           |  SELECT doc_id, url,
           |    lower(regexp_extract(url,
           |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host,
           |    (len(segs)::BIGINT > 10
           |      OR (len(segs) - len(list_distinct(segs)))::BIGINT >= 3
           |      OR len(params)::BIGINT > 8
           |      OR len(list_filter(params, p ->
           |        regexp_matches(p, '(?i)^(phpsessid|sid|sessionid|jsessionid|session_id)='))) > 0
           |    ) AS is_trap
           |  FROM featx
           |), posttrap AS (
           |  SELECT doc_id, url, host,
           |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$$', 1) AS pathq
           |  FROM trapv WHERE NOT is_trap
           |), candx AS (
           |  SELECT p.doc_id, p.url, p.host, r.rule_no, r.directive, r.pattern
           |  FROM posttrap p LEFT JOIN selr r
           |    ON p.host = r.host AND regexp_matches(p.pathq, r.rx)
           |), winx AS (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY length(pattern) DESC, directive, rule_no) AS rn
           |  FROM candx
           |), decidedx AS (
           |  SELECT doc_id, url, host,
           |    (pattern IS NULL OR directive = 'allow') AS allowed
           |  FROM winx WHERE rn = 1
           |), pr AS (
           |  SELECT * FROM (${graft.ops.PageRank.oracleSql(
                 frontierEdgesCte, iterations = 3)}) t
           |), $crawlDelayChainSql, fr AS (
           |  SELECT d.doc_id, d.url, d.host, p.rank AS host_rank,
           |    row_number() OVER (PARTITION BY d.host ORDER BY d.doc_id)::BIGINT AS slot
           |  FROM decidedx d LEFT JOIN pr p ON d.host = p.id
           |  WHERE d.allowed
           |), frd AS (
           |  SELECT fr.*,
           |    (fr.slot - 1)::DOUBLE * coalesce(hd.crawl_delay, 0.0::DOUBLE) AS fetch_after
           |  FROM fr LEFT JOIN hostdelay hd ON fr.host = hd.host
           |), wsrc AS (
           |  SELECT id AS key, floor(rank * 1000000 + 0.5)::BIGINT AS weight
           |  FROM pr WHERE floor(rank * 1000000 + 0.5) > 0
           |), tot AS (
           |  SELECT sum(weight)::BIGINT AS W FROM wsrc
           |), sc AS (
           |  SELECT key, weight, (weight * 12) // W AS q,
           |    (weight * 12) % W AS rem
           |  FROM wsrc, tot
           |), asum AS (
           |  SELECT sum(q)::BIGINT AS a FROM sc
           |), rankedq AS (
           |  SELECT *, row_number() OVER (ORDER BY rem DESC, key) AS rn FROM sc
           |), quotasx AS (
           |  SELECT key AS host,
           |    (q + CASE WHEN rn <= (12 - (SELECT a FROM asum))
           |      THEN 1 ELSE 0 END)::BIGINT AS quota
           |  FROM rankedq
           |), frq AS (
           |  SELECT f.*, coalesce(qq.quota, 0)::BIGINT AS quota
           |  FROM frd f LEFT JOIN quotasx qq ON f.host = qq.host
           |), schedx AS (
           |  SELECT * FROM frq WHERE slot <= quota
           |), apages AS (
           |  SELECT doc_id, url, $pageHtmlSql AS html FROM schedx
           |), ${anchorChainSql("apages")}, anchorx AS (
           |  SELECT dst_host, term, count(*)::BIGINT AS n FROM aterms GROUP BY 1, 2
           |)
           |SELECT doc_id, url, host, 'trap' AS stage,
           |  NULL::DOUBLE AS host_rank, NULL::BIGINT AS slot,
           |  NULL::BIGINT AS quota, NULL::DOUBLE AS fetch_after,
           |  NULL::VARCHAR AS term, NULL::BIGINT AS n
           |FROM trapv WHERE is_trap
           |UNION ALL
           |SELECT doc_id, url, host, 'denied', NULL::DOUBLE, NULL::BIGINT,
           |  NULL::BIGINT, NULL::DOUBLE, NULL::VARCHAR, NULL::BIGINT
           |FROM decidedx WHERE NOT allowed
           |UNION ALL
           |SELECT doc_id, url, host, 'over_budget', host_rank, slot, quota,
           |  fetch_after, NULL::VARCHAR, NULL::BIGINT
           |FROM frq WHERE slot > quota
           |UNION ALL
           |SELECT doc_id, url, host, 'scheduled', host_rank, slot, quota,
           |  fetch_after, NULL::VARCHAR, NULL::BIGINT
           |FROM schedx
           |UNION ALL
           |SELECT NULL::BIGINT, NULL::VARCHAR, dst_host, 'anchor',
           |  NULL::DOUBLE, NULL::BIGINT, NULL::BIGINT, NULL::DOUBLE, term, n
           |FROM anchorx""".stripMargin),

    // one-shot schedule over ALL discoveries: bare URLs dedup to min
    // doc_id, robots-allowed rows get authority + per-host slots — the
    // two-batch streaming replay must reproduce this exactly (batch-1
    // ids precede batch-2 ids, so continuing slot bases + the seen-index
    // anti join compose to the global window)
    "q_frontier_incremental" ->
      (robotsChainSql +
        s""", decided AS (
           |  SELECT doc_id, host, path,
           |    (pattern IS NULL OR directive = 'allow') AS allowed
           |  FROM win WHERE rn = 1
           |), pr AS (
           |  SELECT * FROM (${graft.ops.PageRank.oracleSql(
                 frontierEdgesCte, iterations = 3)}) t
           |), dedup AS (
           |  SELECT doc_id, 'http://' || host || path AS url, host
           |  FROM decided WHERE allowed
           |  QUALIFY row_number() OVER (
           |    PARTITION BY 'http://' || host || path ORDER BY doc_id) = 1
           |), sched AS (
           |  SELECT doc_id, url, host,
           |    row_number() OVER (PARTITION BY host ORDER BY doc_id)::BIGINT AS slot
           |  FROM dedup
           |)
           |SELECT s.doc_id, s.url, s.host, p.rank AS host_rank, s.slot
           |FROM sched s LEFT JOIN pr p ON s.host = p.id""".stripMargin),

    // link extraction replay: same double-quote href regex (the
    // operator also takes single quotes; the fixture uses one style so
    // both engines see identical matches in document order), then the
    // per-ref resolution CASE inside list_transform — same shape as the
    // engine's transform+filter, so ordering needs no window. Shared
    // prefix (written once — the robotsChainSql rule): both link
    // oracles consume linkResolveSql's `resolved` CTE.
    "q_link_graph" ->
      (linkResolveSql +
        """
          |SELECT doc_id, url,
          |  array_to_string(links, ' ') AS links_joined,
          |  len(links)::BIGINT AS n_links
          |FROM resolved""".stripMargin),

    // edge grain: same chain, then explode + host both ends + count
    "q_host_graph" ->
      (linkResolveSql +
        """, edges AS (
          |  SELECT lower(regexp_extract(url,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS src_host,
          |    lower(regexp_extract(unnest(links),
          |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS dst_host
          |  FROM resolved
          |)
          |SELECT src_host, dst_host, count(*)::BIGINT AS n
          |FROM edges WHERE src_host <> dst_host
          |GROUP BY 1, 2""".stripMargin),
    // sitemapindex round-trip: rebuild each host's index (blocks sorted
    // like the Spark side) and re-extract loc/lastmod at child grain
    "q_sitemap_index" ->
      (s"""WITH urls0 AS (
          |$robotsUrlsSelectSql
          |), bkts AS (
          |  SELECT DISTINCT host, (doc_id // 10)::BIGINT AS bucket FROM urls0
          |), blocks AS (
          |  SELECT host,
          |    '<sitemap><loc>http://' || host || '/sitemap-' || bucket::VARCHAR
          |    || '.xml</loc>' ||
          |    CASE WHEN bucket % 2 = 0 THEN '<lastmod>2026-0' ||
          |      (bucket % 9 + 1)::VARCHAR || '-01</lastmod>' ELSE '' END ||
          |    '</sitemap>' AS block
          |  FROM bkts
          |), xmls AS (
          |  SELECT host, '<?xml version="1.0"?><sitemapindex>' ||
          |    string_agg(block, '') || '</sitemapindex>' AS xml
          |  FROM blocks GROUP BY 1
          |), entries AS (
          |  SELECT host, unnest(regexp_extract_all(xml,
          |    '<sitemap>(.*?)</sitemap>', 1)) AS entry
          |  FROM xmls
          |)
          |SELECT host,
          |  regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1) AS loc,
          |  regexp_extract(entry, '<lastmod>\\s*(.*?)\\s*</lastmod>', 1) AS lastmod
          |FROM entries
          |WHERE regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1) <> ''""".stripMargin),
    // one-pass release summary; distinct-text rate via md5 like the
    // exact-dedup digests
    "q_dataset_card" ->
      """WITH t AS (
        |  SELECT doc_id, source, lang, text,
        |    len(list_filter(string_split(text, ' '), x -> length(x) > 0))::BIGINT AS toks
        |  FROM documents
        |)
        |SELECT count(*)::BIGINT AS n_docs,
        |  count(DISTINCT source)::BIGINT AS n_sources,
        |  count(DISTINCT lang)::BIGINT AS n_langs,
        |  sum(toks)::BIGINT AS total_tokens,
        |  round(avg(toks), 6) AS avg_doc_tokens,
        |  max(toks)::BIGINT AS max_doc_tokens,
        |  round(count(DISTINCT md5(text))::DOUBLE / count(*), 6) AS distinct_text_rate,
        |  round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS frac_en
        |FROM t""".stripMargin,
    // largest-remainder quota arithmetic, pure integers: q = (w·B)//W,
    // the B−Σq largest remainders (ties by key) get one more
    "q_crawl_budget" ->
      (s"""WITH pr AS (
          |  SELECT * FROM (${graft.ops.PageRank.oracleSql(
                frontierEdgesCte, iterations = 3)}) t
          |), wsrc AS (
          |  SELECT id AS key, floor(rank * 1000000 + 0.5)::BIGINT AS weight
          |  FROM pr WHERE floor(rank * 1000000 + 0.5) > 0
          |), tot AS (
          |  SELECT sum(weight)::BIGINT AS W FROM wsrc
          |), sc AS (
          |  SELECT key, weight, (weight * 1000) // W AS q,
          |    (weight * 1000) % W AS rem
          |  FROM wsrc, tot
          |), asum AS (
          |  SELECT sum(q)::BIGINT AS a FROM sc
          |), rankedq AS (
          |  SELECT *, row_number() OVER (ORDER BY rem DESC, key) AS rn FROM sc
          |)
          |SELECT key AS host, weight,
          |  (q + CASE WHEN rn <= (1000 - (SELECT a FROM asum))
          |    THEN 1 ELSE 0 END)::BIGINT AS quota
          |FROM rankedq""".stripMargin),
    "q_budget_sources" ->
      """WITH wsrc AS (
        |  SELECT source AS key, sum(n_chars)::BIGINT AS weight
        |  FROM documents WHERE source IS NOT NULL
        |  GROUP BY 1 HAVING sum(n_chars) > 0
        |), tot AS (
        |  SELECT sum(weight)::BIGINT AS W FROM wsrc
        |), sc AS (
        |  SELECT key, weight, (weight * 10000) // W AS q,
        |    (weight * 10000) % W AS rem
        |  FROM wsrc, tot
        |), asum AS (
        |  SELECT sum(q)::BIGINT AS a FROM sc
        |), rankedq AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, key) AS rn FROM sc
        |)
        |SELECT key AS source, weight,
        |  (q + CASE WHEN rn <= (10000 - (SELECT a FROM asum))
        |    THEN 1 ELSE 0 END)::BIGINT AS quota
        |FROM rankedq""".stripMargin,
    // anchor texts: href[i]/text[i] extracted by the SAME regex align
    // by construction; hrefs resolve through the shared resolve CASE
    "q_anchor_text" ->
      (linkResolveSql + ", " + anchorChainSql("pages") +
        """
          |SELECT dst_host, term, count(*)::BIGINT AS n
          |FROM aterms GROUP BY 1, 2""".stripMargin),
    // digest-grain full-outer diff; every status arm populated by the
    // synthetic re-crawl (removed < 25, changed 25..49, added +30000)
    "q_corpus_diff" ->
      """WITH oldc AS (
        |  SELECT doc_id, text FROM documents
        |), newc AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 50 AND text IS NOT NULL THEN array_to_string(
        |      list_filter(string_split(text, ' '), t -> length(t) > 0)[1:15], ' ')
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id >= 25
        |  UNION ALL
        |  SELECT doc_id + 30000 AS doc_id, text FROM documents WHERE doc_id < 20
        |), od AS (
        |  SELECT doc_id AS id, coalesce(md5(text), '__NULL_TEXT__') AS d FROM oldc
        |), nd AS (
        |  SELECT doc_id AS id, coalesce(md5(text), '__NULL_TEXT__') AS d FROM newc
        |)
        |SELECT coalesce(od.id, nd.id) AS id,
        |  CASE WHEN od.d IS NULL THEN 'added'
        |    WHEN nd.d IS NULL THEN 'removed'
        |    WHEN od.d = nd.d THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |FROM od FULL OUTER JOIN nd ON od.id = nd.id""".stripMargin,
    // undirected label closure over the same edge fixture: component =
    // min reachable host label (string min both engines)
    "q_host_components" ->
      (linkResolveSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, hedges0 AS (
          |  SELECT lower(regexp_extract(url,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS a,
          |    lower(regexp_extract(unnest(links),
          |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS b
          |  FROM resolved
          |), hedges1 AS (
          |  SELECT DISTINCT a, b FROM hedges0 WHERE a <> b
          |), hedges AS (
          |  SELECT a, b FROM hedges1 UNION SELECT b AS a, a AS b FROM hedges1
          |), reach AS (
          |  SELECT a AS id, a AS label FROM hedges
          |  UNION
          |  SELECT e.a AS id, r.label FROM hedges e JOIN reach r ON e.b = r.id
          |)
          |SELECT id AS host, min(label) AS component
          |FROM reach GROUP BY 1""".stripMargin),

    // sitemap round-trip: rebuild the same per-host <urlset> strings
    // (member order is irrelevant — parsing explodes back to a row SET)
    // and re-extract loc/lastmod/priority; '' marks an absent optional
    // field in both engines' regexp_extract convention
    "q_sitemap_entries" ->
      (s"""WITH urls0 AS (
          |$robotsUrlsSelectSql
          |), blocks AS (
          |  SELECT host,
          |    '<url><loc>http://' || host || path || '</loc>' ||
          |    CASE WHEN doc_id % 2 = 0 THEN '<lastmod>2026-' ||
          |      lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') || '-15</lastmod>'
          |      ELSE '' END ||
          |    CASE WHEN doc_id % 3 = 0 THEN '<priority>0.' ||
          |      (doc_id % 10)::VARCHAR || '</priority>' ELSE '' END ||
          |    '</url>' AS block
          |  FROM urls0
          |), xmls AS (
          |  SELECT host, '<?xml version="1.0"?><urlset>' ||
          |    string_agg(block, '') || '</urlset>' AS xml
          |  FROM blocks GROUP BY 1
          |), entries AS (
          |  SELECT host, unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS entry
          |  FROM xmls
          |)
          |SELECT host,
          |  regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1) AS loc,
          |  regexp_extract(entry, '<lastmod>\\s*(.*?)\\s*</lastmod>', 1) AS lastmod,
          |  regexp_extract(entry, '<priority>\\s*(.*?)\\s*</priority>', 1) AS priority
          |FROM entries
          |WHERE regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1) <> ''""".stripMargin),

    "q_quality_lr" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, list_concat(w,
        |    CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])
        |      ELSE [] END) AS gs
        |  FROM toks
        |), buckets AS (
        |  SELECT doc_id,
        |    list_transform(gs, g -> ('0x'||substr(md5(g),1,15))::BIGINT % 512) AS bs
        |  FROM grams
        |), scored AS (
        |  SELECT doc_id, CASE WHEN len(bs) = 0 THEN 0.1
        |    ELSE 0.1 + list_sum(list_transform(bs,
        |      k -> ((k*2654435761) % 1000)/1000.0 - 0.5)) / len(bs) END AS m
        |  FROM buckets
        |)
        |SELECT doc_id, floor(m*1000000 + 0.5)/1000000 AS margin FROM scored""".stripMargin,
    // exact-regime replay of the KMV + bottom-k-value summaries: both
    // sketches are unsaturated at verify scale, so distinct = distinct
    // hash64 count and each quantile is the pinned rank rule over the
    // full per-source multiset. p literals forced ::DOUBLE so ceil sees
    // the SAME IEEE product Spark computes (decimal 0.9*10 = 9 but
    // double 0.9*10 > 9 — the rank differs unless both sides use
    // doubles).
    "q_corpus_sketch" -> corpusSketchSql,
    // the fold of two half-corpus profiles must equal the whole-corpus
    // profile bit-for-bit, so the incremental query shares the
    // whole-corpus oracle verbatim
    "q_profile_fold" -> corpusSketchSql,
    // sequential replay of the next-fit fold: same shard hash, same
    // (len desc, id) order, one open bin advanced row-by-row through a
    // recursive CTE — every (doc, shard, bin) must land identically
    "q_pack_bins" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id,
        |    ('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 8 AS shard,
        |    least(len(list_filter(string_split(text, ' '), t -> length(t) > 0)), 512)::BIGINT AS len
        |  FROM documents
        |), ordered AS (
        |  SELECT doc_id, shard, len,
        |    row_number() OVER (PARTITION BY shard ORDER BY len DESC, doc_id) AS rn
        |  FROM docs
        |), pack AS (
        |  SELECT shard, rn, doc_id, len, 0::BIGINT AS bin_id, len AS fill
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.rn, o.doc_id, o.len,
        |    CASE WHEN p.fill + o.len <= 512 THEN p.bin_id ELSE p.bin_id + 1 END,
        |    CASE WHEN p.fill + o.len <= 512 THEN p.fill + o.len ELSE o.len END
        |  FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT doc_id, shard, bin_id FROM pack""".stripMargin,
    // expected WARC fields per document: three records per synthetic
    // .warc.gz (warcinfo, HTTP 200 response, HTTP 404 response) — the
    // parsed output matches ONLY if the reader split gzip members,
    // record boundaries, and HTTP heads exactly
    "q_warc_roundtrip" ->
      """SELECT doc_id, 0::BIGINT AS record_idx, 'warcinfo' AS warc_type,
        |  '' AS uri, 0::BIGINT AS http_status,
        |  'application/warc-fields' AS content_type,
        |  'software: graft ' || doc_id || chr(13) || chr(10) AS body_text
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 1::BIGINT, 'response',
        |  'http://example.com/doc/' || doc_id, 200::BIGINT,
        |  'text/html; charset=utf-8',
        |  '<html><body><h1>Doc ' || doc_id || '</h1><p>' || coalesce(text, '')
        |    || '</p></body></html>'
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 2::BIGINT, 'response',
        |  'http://example.com/missing/' || doc_id, 404::BIGINT,
        |  'text/plain', 'missing ' || doc_id
        |FROM documents""".stripMargin,
    // independent greedy replay: rebuild the same vocabulary (top-16
    // letter-words + their 2-/3-prefixes; single chars as fallback),
    // pick the LONGEST vocab piece prefixing each word, then single-char
    // '##' continuations — exactly what BERT greedy does under this
    // vocabulary class
    "q_wordpiece_tokens" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
        |  FROM documents
        |), wf AS (
        |  SELECT word, count(*) AS cnt FROM words
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1
        |), topw AS (
        |  SELECT word FROM (
        |    SELECT word, row_number() OVER (ORDER BY cnt DESC, word) AS rn
        |    FROM wf WHERE length(word) >= 2) WHERE rn <= 16
        |), pieces AS (
        |  SELECT DISTINCT p FROM (
        |    SELECT word AS p FROM topw
        |    UNION ALL SELECT substr(word, 1, 2) FROM topw
        |    UNION ALL SELECT substr(word, 1, 3) FROM topw)
        |), docs AS (
        |  SELECT doc_id, list_filter(
        |    list_filter(string_split(text, ' '), t -> length(t) > 0),
        |    w -> regexp_matches(w, '^[a-z]+$')) AS lws
        |  FROM documents
        |), docw AS (
        |  SELECT doc_id, i AS widx, lws[i] AS word
        |  FROM docs, unnest(generate_series(1, len(lws))) t(i)
        |), best AS (
        |  SELECT d.doc_id, d.widx, p.p AS pref
        |  FROM docw d JOIN pieces p ON starts_with(d.word, p.p)
        |  QUALIFY row_number() OVER (PARTITION BY d.doc_id, d.widx
        |    ORDER BY length(p.p) DESC, p.p) = 1
        |), wp AS (
        |  SELECT d.doc_id, d.widx, d.word,
        |    coalesce(b.pref, substr(d.word, 1, 1)) AS head,
        |    coalesce(length(b.pref), 1) AS mlen
        |  FROM docw d LEFT JOIN best b ON d.doc_id = b.doc_id AND d.widx = b.widx
        |), wpieces AS (
        |  SELECT doc_id, widx,
        |    array_to_string(list_concat([head],
        |      list_transform(generate_series(mlen + 1, length(word)),
        |        j -> '##' || substr(word, j, 1))), ' ') AS pw,
        |    (1 + length(word) - mlen)::BIGINT AS np
        |  FROM wp
        |), perdoc AS (
        |  SELECT doc_id, string_agg(pw, ' ' ORDER BY widx) AS joined,
        |    sum(np)::BIGINT AS n
        |  FROM wpieces GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(p.joined, '') AS pieces_joined,
        |  coalesce(p.n, 0)::BIGINT AS n_pieces
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin,
    // independent BPE-apply replay: rebuild the top-12 initial-grain
    // merge list, then run 12 leftmost-first merge PASSES per distinct
    // word via a recursive CTE. list_reduce folds list<list<varchar>>
    // (each symbol wrapped as a singleton so the accumulator seed —
    // DuckDB reduce has no init value — is already list-typed); a pass
    // merges adjacent (a,b) exactly like the engine's per-word scan:
    // after a merge the new symbol becomes the accumulator tail, so an
    // overlapping second occurrence ("aaa" under (a,a)) is NOT re-merged
    // — leftmost-first on both sides.
    "q_bpe_tokens" ->
      """WITH RECURSIVE words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS word
        |  FROM documents
        |), wf AS (
        |  SELECT word, count(*) AS cnt FROM words
        |  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY 1
        |), syms AS (
        |  SELECT list_append(string_split(word, ''), '</w>') AS s, cnt FROM wf
        |), pc AS (
        |  SELECT a, b, sum(cnt)::BIGINT AS n FROM (
        |    SELECT s[i] AS a, s[i+1] AS b, cnt
        |    FROM syms, unnest(range(1, len(s))) AS t(i)
        |  ) GROUP BY 1, 2
        |), merges AS (
        |  SELECT a, b, row_number() OVER (ORDER BY n DESC, a, b) - 1 AS rk
        |  FROM pc QUALIFY rk < 12
        |), rec AS (
        |  SELECT word,
        |    list_transform(list_append(string_split(word, ''), '</w>'), s -> [s]) AS ss,
        |    0 AS step
        |  FROM (SELECT DISTINCT word FROM wf)
        |  UNION ALL
        |  SELECT r.word,
        |    list_transform(
        |      list_reduce(r.ss, (x, y) ->
        |        CASE WHEN x[-1] = m.a AND y[1] = m.b
        |          THEN list_append(array_pop_back(x), m.a || m.b)
        |          ELSE list_concat(x, y) END),
        |      s -> [s]) AS ss,
        |    r.step + 1
        |  FROM rec r JOIN merges m ON m.rk = r.step
        |), toks AS (
        |  SELECT word, list_transform(ss, x -> x[1]) AS tok
        |  FROM rec WHERE step = 12
        |), docw AS (
        |  SELECT d.doc_id, t.i, d.l[t.i] AS word
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '),
        |          w -> length(w) > 0 AND regexp_matches(w, '^[a-z]+$')) AS l
        |        FROM documents) d,
        |       unnest(range(1, len(d.l) + 1)) AS t(i)
        |)
        |SELECT d.doc_id,
        |  coalesce(string_agg(array_to_string(tk.tok, ' '), ' ' ORDER BY w.i), '') AS tokens_joined,
        |  coalesce(sum(len(tk.tok)), 0)::BIGINT AS n_tokens
        |FROM documents d
        |LEFT JOIN docw w ON w.doc_id = d.doc_id
        |LEFT JOIN toks tk ON tk.word = w.word
        |GROUP BY 1""".stripMargin,
    "q_pca_semdedup" ->
      (s"""WITH proj AS (
         |  SELECT vec_id, $pcaPvecSql AS pvec FROM embeddings
         |), cents AS (
         |  SELECT vec_id AS cent_id, pvec AS cv FROM proj WHERE vec_id < 8
         |), assigned AS (
         |  SELECT p.vec_id, p.pvec, c.cent_id,
         |    list_sum(list_transform(list_zip(p.pvec, c.cv),
         |      z -> z[1]::DOUBLE * z[2]::DOUBLE))
         |    / (sqrt(list_sum(list_transform(p.pvec, x -> x::DOUBLE * x::DOUBLE)))
         |       * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE)))) AS ccos
         |  FROM proj p CROSS JOIN cents c
         |), cells AS (
         |  SELECT vec_id, pvec, cent_id AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cent_id) AS r
         |    FROM assigned) WHERE r = 1
         |), drops AS (
         |  SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_sum(list_transform(list_zip(a.pvec, b.pvec),
         |      z -> z[1]::DOUBLE * z[2]::DOUBLE))
         |    / (sqrt(list_sum(list_transform(a.pvec, x -> x::DOUBLE * x::DOUBLE)))
         |       * sqrt(list_sum(list_transform(b.pvec, x -> x::DOUBLE * x::DOUBLE))))
         |    >= 0.7
         |)
         |SELECT p.vec_id FROM proj p ANTI JOIN drops d ON p.vec_id = d.vec_id""".stripMargin),
    "q_corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0)))::BIGINT AS total_tokens,
        |  floor((sum(n_chars::DECIMAL(28,12))::DOUBLE / count(n_chars)) * 1000000 + 0.5) / 1000000 AS avg_chars,
        |  sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_dedup_incremental" ->
      """WITH archive AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 250
        |), snap AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
        |), idx AS (
        |  SELECT DISTINCT md5(text) AS content_hash FROM archive
        |), filtered AS (
        |  SELECT s.doc_id, s.text FROM snap s
        |  ANTI JOIN idx a ON md5(s.text) = a.content_hash
        |)
        |SELECT min(doc_id) AS doc_id FROM filtered GROUP BY md5(text)""".stripMargin,
    "q_top_ngrams" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), grams AS (
        |  SELECT unnest(CASE WHEN len(w) >= 2
        |    THEN list_transform(generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])
        |    ELSE [] END) AS gram
        |  FROM toks
        |)
        |SELECT gram, count(*) AS n FROM grams
        |GROUP BY 1 ORDER BY n DESC, gram LIMIT 20""".stripMargin,
    "q_token_histogram" ->
      """SELECT (len(list_filter(string_split(text, ' '), t -> length(t) > 0)) // 10 * 10)::BIGINT AS bucket,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "q_kmeans_step" ->
      """WITH cents AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
        |), assigned AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(list_zip(e.embedding, c.cv),
        |      p -> p[1]::DOUBLE * p[2]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |       * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE)))) AS ccos
        |  FROM embeddings e CROSS JOIN cents c
        |), cells AS (
        |  SELECT vec_id, cid + 1 AS cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, cid) AS r
        |    FROM assigned) WHERE r = 1
        |), comps AS (
        |  SELECT c.cell, i - 1 AS dim, e.embedding[i]::DOUBLE AS x
        |  FROM cells c JOIN embeddings e USING (vec_id),
        |    unnest(generate_series(1, len(e.embedding))) AS t(i)
        |)
        |SELECT cell, dim,
        |  floor((sum(x::DECIMAL(28,12))::DOUBLE / count(x)) * 1000000 + 0.5) / 1000000 AS c
        |FROM comps GROUP BY 1, 2""".stripMargin,
    "q_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), ucnt AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY 1
        |), tot AS (
        |  SELECT sum(c) AS n_total FROM ucnt
        |), gcnt AS (
        |  SELECT gram, count(*) AS n_pair FROM (
        |    SELECT unnest(CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])
        |      ELSE [] END) AS gram
        |    FROM toks
        |  ) GROUP BY 1 HAVING count(*) >= 5
        |)
        |SELECT g.gram, g.n_pair, a.c AS n_left, b.c AS n_right,
        |  floor((g.n_pair::DOUBLE / a.c) * (t.n_total::DOUBLE / b.c) * 1e6 + 0.5) / 1e6 AS lift
        |FROM gcnt g
        |CROSS JOIN tot t
        |JOIN ucnt a ON a.tok = string_split(g.gram, ' ')[1]
        |JOIN ucnt b ON b.tok = string_split(g.gram, ' ')[2]
        |ORDER BY lift DESC, gram LIMIT 30""".stripMargin,
    "q_source_prior" ->
      s"""WITH toks AS (
        |  SELECT source,
        |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS w,
        |    list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS wl
        |  FROM documents
        |), sc AS (
        |  SELECT source,
        |    round((least(len(w)/50.0, 1.0) +
        |      least((CASE WHEN len(wl) > 0
        |        THEN len(list_filter(wl, t -> list_contains($enList, t)))::DOUBLE / len(wl)
        |        ELSE 0.0 END) * 5.0, 1.0)) / 2.0, 6) AS score
        |  FROM toks
        |), g AS (
        |  SELECT source, count(*) AS n_group,
        |    sum(CAST(score AS DECIMAL(28,12))) AS sum_g
        |  FROM sc GROUP BY 1
        |), p AS (
        |  SELECT floor(sum(sum_g)::DOUBLE / sum(n_group) * 1e6 + 0.5) / 1e6 AS prior
        |  FROM g
        |)
        |SELECT g.source, g.n_group,
        |  floor(g.sum_g::DOUBLE / g.n_group * 1e6 + 0.5) / 1e6 AS group_mean,
        |  p.prior,
        |  floor((g.sum_g::DOUBLE + 20.0 * p.prior) / (g.n_group + 20.0) * 1e6 + 0.5) / 1e6
        |    AS smoothed_quality
        |FROM g CROSS JOIN p""".stripMargin,
    "q_corpus_overlap" ->
      """WITH toks AS (
        |  SELECT source, list_filter(string_split(text, ' '), t -> length(t) > 0) AS w
        |  FROM documents
        |), sh AS (
        |  SELECT source, CASE WHEN len(w) >= 3
        |    THEN list_transform(generate_series(1, len(w)-2), i -> w[i]||' '||w[i+1]||' '||w[i+2])
        |    ELSE [] END AS shingles
        |  FROM toks
        |), hs AS (
        |  SELECT DISTINCT source, ('0x'||substr(md5(s),1,15))::BIGINT AS h
        |  FROM (SELECT source, unnest(shingles) AS s FROM sh)
        |)
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "q_embed_covariance" ->
      """WITH e AS (
        |  SELECT vec_id, (i - 1)::BIGINT AS d, embedding[i]::DOUBLE AS x
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        |), m AS (
        |  SELECT d,
        |    floor((sum(x::DECIMAL(28,12))::DOUBLE / count(x)) * 1000000 + 0.5)
        |      / 1000000 AS mx
        |  FROM e GROUP BY d
        |), p AS (
        |  SELECT a.d AS i, b.d AS j,
        |    floor(a.x * b.x * 1000000 + 0.5) / 1000000 AS pr
        |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d <= b.d
        |), mp AS (
        |  SELECT i, j,
        |    floor((sum(pr::DECIMAL(28,12))::DOUBLE / count(pr)) * 1000000000 + 0.5)
        |      / 1000000000 AS mxy
        |  FROM p GROUP BY i, j
        |)
        |SELECT mp.i, mp.j,
        |  floor((mp.mxy - mi.mx * mj.mx) * 1000000000 + 0.5) / 1000000000 AS cov
        |FROM mp JOIN m mi ON mp.i = mi.d JOIN m mj ON mp.j = mj.d""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE ('0x'||substr(md5(text||'sample'),1,15))::BIGINT % 1000000 <
        |  CASE source WHEN 'src0' THEN 50000 WHEN 'src1' THEN 1000000
        |    ELSE 200000 END""".stripMargin,
    "q_dedup_verify" -> (
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
        |)""".stripMargin + minhashSql +
      """, cross_cand AS (
        |  SELECT DISTINCT s.doc_id AS snap_id, a.doc_id AS archive_id
        |  FROM bands0 s JOIN bands0 a ON s.band = a.band AND s.bk = a.bk
        |  WHERE s.doc_id >= 250 AND a.doc_id < 250
        |), shd AS (
        |  SELECT doc_id, list_distinct(hs) AS ds FROM hashes
        |), dropped AS (
        |  SELECT DISTINCT c.snap_id AS doc_id
        |  FROM cross_cand c
        |  JOIN shd s ON c.snap_id = s.doc_id
        |  JOIN shd a ON c.archive_id = a.doc_id
        |  WHERE round(CASE WHEN len(list_distinct(s.ds || a.ds)) > 0
        |      THEN len(list_intersect(s.ds, a.ds))::DOUBLE / len(list_distinct(s.ds || a.ds))
        |      ELSE 0.0 END, 6) >= 0.9
        |)
        |SELECT c.doc_id FROM corpus c
        |ANTI JOIN dropped d ON c.doc_id = d.doc_id
        |WHERE c.doc_id >= 250""".stripMargin),
    "q_shard_assign" ->
      """WITH keyed AS (
        |  SELECT doc_id,
        |    ('0x'||substr(md5(doc_id::VARCHAR||'shuffle'),1,15))::BIGINT % 8 AS shard,
        |    ('0x'||substr(md5(doc_id::VARCHAR||'shuffle'),18,15))::BIGINT AS shuffle_order
        |  FROM documents
        |)
        |SELECT doc_id, shard, shuffle_order,
        |  row_number() OVER (PARTITION BY shard
        |    ORDER BY shuffle_order, doc_id)::BIGINT AS position
        |FROM keyed""".stripMargin,
    "q_mixture_plan" ->
      """WITH agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))::DECIMAL(28,0))::DOUBLE AS total_tokens
        |  FROM documents GROUP BY 1
        |), weighted AS (
        |  SELECT source, n_docs, total_tokens,
        |    floor(CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
        |      WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1 ELSE 0.0 END::DOUBLE
        |      / 1.0 * 1000000 + 0.5) / 1000000 AS weight
        |  FROM agg
        |), t AS (
        |  SELECT *, floor(weight * 50000 * 1000000 + 0.5) / 1000000 AS target_tokens
        |  FROM weighted
        |), e AS (
        |  SELECT *, floor(least(2.5, CASE WHEN total_tokens > 0
        |      THEN target_tokens / total_tokens ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS epochs
        |  FROM t
        |), p AS (
        |  SELECT *, floor(epochs * total_tokens * 1000000 + 0.5) / 1000000 AS planned_tokens
        |  FROM e
        |)
        |SELECT source, n_docs, total_tokens, weight, target_tokens, epochs,
        |  planned_tokens,
        |  floor((target_tokens - planned_tokens) * 1000000 + 0.5) / 1000000 AS shortfall_tokens
        |FROM p""".stripMargin,
    // temperature weights: decimal token sums, round6 share BEFORE the
    // pow so both engines exponentiate the identical double, round9'd
    // libm pow, decimal-normalized round6 weight (1/T = 0.5 literal)
    "q_mixture_temperature" ->
      """WITH agg AS (
        |  SELECT source,
        |    sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))::DECIMAL(28,0))::DOUBLE AS total_tokens
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT sum(total_tokens::DECIMAL(38,6))::DOUBLE AS t FROM agg
        |), sh AS (
        |  SELECT source, total_tokens,
        |    floor(total_tokens / (SELECT t FROM tot) * 1000000 + 0.5) / 1000000 AS share
        |  FROM agg
        |), tw AS (
        |  SELECT *, floor(pow(share, 0.5) * 1000000000 + 0.5) / 1000000000 AS w0
        |  FROM sh
        |), ws AS (
        |  SELECT sum(w0::DECIMAL(38,18))::DOUBLE AS s FROM tw
        |)
        |SELECT source, total_tokens, share,
        |  floor(w0 / (SELECT s FROM ws) * 1000000 + 0.5) / 1000000 AS weight
        |FROM tw""".stripMargin,
    // the tempered composition: q_mixture_temperature's chain spliced
    // into q_mixture_plan's, the plan-side normalizer the decimal-18
    // sum of the round6 temperature weights (mixturePlan's totalW)
    "q_mixture_plan_tempered" ->
      """WITH agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(list_filter(string_split(text, ' '), t -> length(t) > 0))::DECIMAL(28,0))::DOUBLE AS total_tokens
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT sum(total_tokens::DECIMAL(38,6))::DOUBLE AS t FROM agg
        |), sh AS (
        |  SELECT source, n_docs, total_tokens,
        |    floor(total_tokens / (SELECT t FROM tot) * 1000000 + 0.5) / 1000000 AS share
        |  FROM agg
        |), tw AS (
        |  SELECT *, floor(pow(share, 0.5) * 1000000000 + 0.5) / 1000000000 AS w0
        |  FROM sh
        |), ws AS (
        |  SELECT sum(w0::DECIMAL(38,18))::DOUBLE AS s FROM tw
        |), tempered AS (
        |  SELECT source, n_docs, total_tokens,
        |    floor(w0 / (SELECT s FROM ws) * 1000000 + 0.5) / 1000000 AS tw6
        |  FROM tw
        |), wsum AS (
        |  SELECT sum(tw6::DECIMAL(38,18))::DOUBLE AS s FROM tempered
        |), weighted AS (
        |  SELECT source, n_docs, total_tokens,
        |    floor(tw6 / (SELECT s FROM wsum) * 1000000 + 0.5) / 1000000 AS weight
        |  FROM tempered
        |), t AS (
        |  SELECT *, floor(weight * 50000 * 1000000 + 0.5) / 1000000 AS target_tokens
        |  FROM weighted
        |), e AS (
        |  SELECT *, floor(least(2.5, CASE WHEN total_tokens > 0
        |      THEN target_tokens / total_tokens ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS epochs
        |  FROM t
        |), p AS (
        |  SELECT *, floor(epochs * total_tokens * 1000000 + 0.5) / 1000000 AS planned_tokens
        |  FROM e
        |)
        |SELECT source, n_docs, total_tokens, weight, target_tokens, epochs,
        |  planned_tokens,
        |  floor((target_tokens - planned_tokens) * 1000000 + 0.5) / 1000000 AS shortfall_tokens
        |FROM p""".stripMargin,
    "q_kn_model" -> (knModelSql +
      """ SELECT u, v, w, c::BIGINT AS c,
        |  floor(p3 * 1000000 + 0.5) / 1000000 AS p
        |FROM tri""".stripMargin),
    "q_kn_score" -> (knModelSql +
      """, sc AS (
        |  SELECT tg.doc_id,
        |    CASE WHEN tri.p3 IS NOT NULL THEN tri.p3
        |         WHEN ctx3.bow3 IS NOT NULL
        |           THEN ctx3.bow3 * coalesce(bi.p2, ctx2.bow2 * uni.p1)
        |         ELSE coalesce(bi.p2, ctx2.bow2 * uni.p1, uni.p1) END AS p
        |  FROM tg
        |  LEFT JOIN tri ON tg.u = tri.u AND tg.v = tri.v AND tg.w = tri.w
        |  LEFT JOIN ctx3 ON tg.u = ctx3.u AND tg.v = ctx3.v
        |  LEFT JOIN bi ON tg.v = bi.v AND tg.w = bi.w
        |  LEFT JOIN ctx2 ON tg.v = ctx2.v
        |  LEFT JOIN uni ON tg.w = uni.w
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_terms,
        |  sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  floor(-(sum((floor(ln(p) * 1000000000 + 0.5) / 1000000000)::DECIMAL(28,12))::DOUBLE
        |        / count(p)) * 1000000 + 0.5) / 1000000 AS nll
        |FROM sc GROUP BY doc_id""".stripMargin),
    "q_ppl_split" -> (knModelSql +
      """, sc AS (
        |  SELECT tg.doc_id,
        |    CASE WHEN tri.p3 IS NOT NULL THEN tri.p3
        |         WHEN ctx3.bow3 IS NOT NULL
        |           THEN ctx3.bow3 * coalesce(bi.p2, ctx2.bow2 * uni.p1)
        |         ELSE coalesce(bi.p2, ctx2.bow2 * uni.p1, uni.p1) END AS p
        |  FROM tg
        |  LEFT JOIN tri ON tg.u = tri.u AND tg.v = tri.v AND tg.w = tri.w
        |  LEFT JOIN ctx3 ON tg.u = ctx3.u AND tg.v = ctx3.v
        |  LEFT JOIN bi ON tg.v = bi.v AND tg.w = bi.w
        |  LEFT JOIN ctx2 ON tg.v = ctx2.v
        |  LEFT JOIN uni ON tg.w = uni.w
        |), scored AS (
        |  SELECT doc_id,
        |    floor(-(sum((floor(ln(p) * 1000000000 + 0.5) / 1000000000)::DECIMAL(28,12))::DOUBLE
        |          / count(p)) * 1000000 + 0.5) / 1000000 AS nll
        |  FROM sc GROUP BY doc_id
        |), t AS (
        |  SELECT quantile_cont(nll, 0.3333333333333333) AS t1,
        |         quantile_cont(nll, 0.6666666666666666) AS t2
        |  FROM scored
        |)
        |SELECT CASE WHEN nll IS NULL THEN 'oov'
        |            WHEN nll <= t1 THEN 'head'
        |            WHEN nll <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  count(*)::BIGINT AS n, min(nll) AS min_nll, max(nll) AS max_nll,
        |  floor((sum(nll::DECIMAL(28,12))::DOUBLE / count(nll)) * 1000000 + 0.5)
        |    / 1000000 AS mean_nll
        |FROM scored, t GROUP BY 1""".stripMargin),
    "q_mixture_expand" ->
      """WITH micro AS (
        |  SELECT source, doc_id,
        |    CASE source WHEN 'src0' THEN 2250000 WHEN 'src1' THEN 500000
        |      WHEN 'src2' THEN 1000000 ELSE 0 END AS m
        |  FROM documents
        |), copies AS (
        |  SELECT source, doc_id, m // 1000000 +
        |    CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR||'mix'),1,15))::BIGINT % 1000000 < m % 1000000
        |      THEN 1 ELSE 0 END AS c
        |  FROM micro
        |), expanded AS (
        |  SELECT source, doc_id, unnest(generate_series(0, c - 1)) AS epoch
        |  FROM copies WHERE c > 0
        |)
        |SELECT source, epoch::BIGINT AS epoch, count(*) AS n_docs
        |FROM expanded GROUP BY 1, 2""".stripMargin,
  )

  // the indexed search path must return byte-identical rankings to the
  // one-call rebuild form — same oracle SQL, checked independently;
  // likewise the Bloom-prescreened contamination (exact by construction)
  // and the MG-sketch n-gram report (exact while capacity >= distinct)
  val oracles: Map[String, String] =
    oracles0 +
      ("q_bm25_indexed" -> oracles0("q_bm25_topk")) +
      ("q_bm25_incremental" -> oracles0("q_bm25_topk")) +
      // real-stream maintain + mid-stream fold + pruned serve == build
      // on the union (VERDICT r19 #3)
      ("q_bm25_stream" -> oracles0("q_bm25_topk")) +
      // additive counts: stream-fold-then-train == train-on-union
      ("q_lm_incremental" -> oracles0("q_kn_model")) +
      // row-stateless encode: stream-fold-then-search == one-shot build
      ("q_similarity_incremental" -> oracles0("q_ann_ivfpq")) +
      ("q_bm25_pruned" -> oracles0("q_bm25_topk")) +
      ("q_semdedup_table" -> oracles0("q_semdedup")) +
      ("q_contamination_bloom" -> oracles0("q_contamination")) +
      ("q_top_ngrams_sketch" -> oracles0("q_top_ngrams"))
}
