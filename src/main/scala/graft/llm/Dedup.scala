package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions._

/** Corpus deduplication at training-data scale: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the 100 TB contract):
  *   - Exact dedup is one hash-shuffle on the content digest (map-side
  *     partial aggregation applies; the digest — not the document text —
  *     is the shuffle key, so shuffled bytes are ~48B/doc + the kept id).
  *   - Near-dup NEVER goes all-pairs: MinHash signatures are per-document
  *     map-only work; LSH banding buckets candidates so the only shuffle is
  *     a groupBy on (band, bandHash), and pair generation happens within
  *     buckets. Expected bucket sizes are tiny under uniform hashing;
  *     pathological buckets (boilerplate) are capped at 1000 members.
  *   - Verification (exact Jaccard / cosine) runs only on candidate pairs.
  */
object Dedup {

  // Defaults the near-dup operators share: word 3-grams, 16 MinHash
  // seeds in 4 bands, LSH buckets capped at 1000 members.
  private val ShingleSize = 3
  private val NumHashes = 16
  private val Bands = 4
  private val MaxBucket = 1000

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact duplicate groups by content digest: one row per distinct text
    * with the canonical (minimum) id and the duplicate count.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Deduplicated corpus: keep one row (minimum id) per distinct text —
    * a semi-join of the corpus against its canonical ids, so document
    * payloads never shuffle with the digest.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(
      exactGroups(df, idCol, textCol).select(col("canonical_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Corpus-wide paragraph-level exact dedup (the boilerplate-removal
    * pass of CCNet/RefinedWeb-style pipelines): split every document on
    * blank lines, keep only the globally-FIRST occurrence of each distinct
    * paragraph (ordered by (id, position) — deterministic under any
    * partitioning), and reassemble each document from its surviving
    * paragraphs in original order. Documents whose every paragraph
    * already appeared elsewhere come back as empty strings (callers
    * typically filter on a min-length gate afterwards).
    *
    * Scale shape: ONE shuffle (the window that picks first occurrences —
    * paragraphs must meet their duplicates somewhere) and one
    * aggregation shuffle by id to reassemble. The window keys on the
    * paragraph's md5 DIGEST, not the text: partitioner hashing and the
    * window-group comparator touch 32 chars instead of arbitrary-length
    * paragraphs (the rows still carry the text — reassembly needs it).
    * The documents themselves never join doc x doc; cost is linear in
    * corpus paragraphs. Reassembly sorts the collected (position,
    * paragraph) structs per document — in-memory per doc, no extra
    * exchange.
    */
  def paragraphDedup(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val sep = "\n\n"
    val parts = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__i", "__p")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("__p"))).orderBy(col(idCol), col("__i"))
    val kept = parts
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__i"), col("__p")))),
          x => x.getField("__p")),
        sep).as(textCol))
    // left join back onto the full frame: every other column survives
    // (exactDedup's row-preserving contract); fully-deduplicated
    // documents keep their row with an empty text
    df.drop(textCol)
      .join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col(textCol), lit("")))
  }

  /** Cross-document duplicate n-gram SPANS — the relational version of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): find every word position whose
    * n-gram also occurs in ANOTHER document, and merge overlapping or
    * abutting positions into (start, end) token spans per document.
    * Callers cut or down-weight the reported spans.
    *
    * Relational shape instead of a suffix array: positions explode with
    * their fused shingle hashes (map-only), ONE shuffle by gram hash
    * computes both the total and the within-document occurrence counts
    * (two windows, same exchange — "occurs elsewhere" is total > own),
    * and the surviving duplicate positions shuffle once by document
    * where the ETD gap-grouping pattern (lag + running sum) merges them
    * into spans. Every shuffled row is (id, pos, hash) longs — document
    * text never shuffles.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleHashes(col(textCol), n)
    val wh = Window.partitionBy("__h")
    val whd = Window.partitionBy(col("__h"), col(idCol))
    val wDoc = Window.partitionBy(idCol).orderBy("pos")
    df.select(col(idCol), posexplode(sh).as(Seq("pos", "__h")))
      .withColumn("__ch", count(lit(1)).over(wh))
      .withColumn("__chd", count(lit(1)).over(whd))
      .filter(col("__ch") > col("__chd"))
      .withColumn("__bump",
        when(col("pos") - lag("pos", 1).over(wDoc) > n, 1).otherwise(0))
      .withColumn("__span", sum("__bump").over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__span"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + n - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .drop("__span")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Universal-hash parameters for seed i: h_i(x) = (a_i*x + b_i) mod p.
    * p = 2^31-1 (Mersenne prime); a,b fixed odd constants per seed so
    * signatures are deterministic and reproducible anywhere.
    */
  val lshPrime: Long = 2147483647L
  def seedA(i: Int): Long = 2L * i + 131L
  def seedB(i: Int): Long = 7L * i + 87L

  /** (id, signature) via the relational MinHash shape: one native fused
    * tokenize→shingle→hash pass per document ([[TextFunctions.shingleHashes]]),
    * explode_outer the hash array (outer keeps empty docs, and — unlike
    * inner explode — infers no extra filter that would re-evaluate the
    * array expression), then numHashes `min` aggregates in codegen'd hash
    * agg with map-side partial combine — the shuffle carries one row per
    * document. This is the 100 TB path: array-lambda formulations evaluate
    * the md5 pass once per seed (lambda bodies get no common-subexpression
    * elimination — measured 16x at sf0.1), and a projection boundary does
    * not protect it because CollapseProject counts a lambda-bound
    * reference as one use.
    * Docs with no shingles get p everywhere (never colliding by accident).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, shingleSize: Int = 3,
                        fast: Boolean = false): DataFrame = {
    val sh = if (fast) shingleHashesFast(col(textCol), shingleSize)
             else shingleHashes(col(textCol), shingleSize)
    val hs = df
      .select(col(idCol), explode_outer(sh).as("__h0"))
      .select(col(idCol), pmod(col("__h0"), lit(lshPrime)).as("__h"))
    val aggs = (0 until numHashes).map(i =>
      min(pmod(col("__h") * seedA(i) + seedB(i), lit(lshPrime))).as(s"__m$i"))
    hs.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i =>
          coalesce(col(s"__m$i"), lit(lshPrime))): _*).as("sig"))
  }

  /** LSH band keys: split the signature into `bands` bands of
    * signatureLength/bands rows each; each band's key is the md5 of its
    * joined values. Output: array<string> of length `bands`.
    */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("_", slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)))))

  /** LSH band PLAN: the (bands, rowsPerBand) with bands·rows ≤
    * `numHashes` whose S-curve crossover (1/bands)^(1/rows) sits
    * closest to `threshold` WITHOUT exceeding it. Below-threshold
    * crossover errs toward EXTRA candidates — false positives the
    * exact Jaccard verify stage already removes — never toward missed
    * true pairs, the unrecoverable direction (banding misses are the
    * one error the verify can't repair). When even (numHashes, 1)
    * crosses above the threshold (very low thresholds), that
    * highest-recall plan is returned. The module's 16/4 default is
    * exactly `lshPlan(0.8, 16)` — right for near-dup thresholds,
    * needlessly recall-lossy at e.g. 0.2, which plans to (16, 1).
    */
  def lshPlan(threshold: Double, numHashes: Int = 16): (Int, Int) = {
    require(threshold > 0 && threshold < 1,
      s"lshPlan: threshold must be in (0, 1): $threshold")
    require(numHashes >= 1, s"lshPlan: numHashes must be >= 1: $numHashes")
    val plans = (1 to numHashes).map { r =>
      val b = numHashes / r
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }.filter(_._1 >= 1)
    val safe = plans.filter(_._3 <= threshold)
    val pick =
      if (safe.nonEmpty) safe.maxBy(p => (p._3, p._1)) // closest under t
      else plans.minBy(_._3)                           // highest recall
    (pick._1, pick._2)
  }

  /** Candidate pairs from LSH banding: documents sharing any band key.
    * The only shuffle is the groupBy on (band index, band key); pairs are
    * generated within buckets and deduplicated. Buckets over 1000
    * members (identical boilerplate) are dropped — their members are
    * already exact-dup candidates by band collision.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        fast: Boolean = false): DataFrame =
    lshCandidatePairsFromSigs(
      minhashSignatures(df, idCol, textCol, NumHashes, ShingleSize, fast),
      idCol, Bands, NumHashes / Bands)

  /** [[lshCandidatePairs]] over PRECOMPUTED signatures (column `sig`) —
    * the sharing entry for pipelines that consume both the signatures
    * and the pairs (e.g. `q_minhash_fast`): one signature pass instead
    * of a recompute per consumer.
    */
  def lshCandidatePairsFromSigs(sigs: DataFrame, idCol: String,
                                bands: Int = 4,
                                rowsPerBand: Int = 4): DataFrame = {
    // bands × rowsPerBand must tile the signature exactly: a short slice
    // past the end would silently yield md5("") — ONE band key shared by
    // every document (an all-pairs explosion or a capped-and-dropped
    // bucket, both wrong). Signature length is data, not schema, so the
    // guard is a per-row raise_error rather than a require().
    val expectedLen = bands * rowsPerBand
    val sigType = sigs.schema(sigs.schema.fieldIndex("sig")).dataType
    val checked = sigs.withColumn("sig",
      when(size(col("sig")) === expectedLen, col("sig"))
        .otherwise(raise_error(concat(
          lit("lshCandidatePairsFromSigs: signature length "),
          size(col("sig")).cast("string"),
          lit(s" != bands*rowsPerBand = $expectedLen"))).cast(sigType)))
    val banded = checked
      .select(col(idCol).as("doc_a"),
        posexplode_outer(lshBandKeys(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "band_key")))
    val buckets = banded
      .groupBy("band", "band_key")
      .agg(sort_array(collect_list("doc_a")).as("ids"))
      .filter(size(col("ids")) between (2, MaxBucket))
    buckets
      .select(explode(candidatePairsFromBucket(col("ids"))).as("pair"))
      .select(col("pair.a").as("id_a"), col("pair.b").as("id_b"))
      .distinct()
  }

  /** All ordered pairs (a < b) from a bucket's sorted id list, as an
    * array<struct<a,b>> built with nested transforms + flatten (no
    * cartesian join).
    */
  private def candidatePairsFromBucket(ids: Column): Column =
    flatten(transform(sequence(lit(1), size(ids) - 1), i =>
      transform(sequence(lit(0), i - 1), j =>
        struct(element_at(ids, j + 1).as("a"), element_at(ids, i + 1).as("b")))))

  /** Cluster near-dup pairs into duplicate groups: min-label propagation
    * with pointer doubling — per round each node takes the minimum label
    * among itself, its neighbors, AND its label's label. Returns
    * (id, cluster_id) with cluster_id = the minimum member id.
    *
    * The doubling step rides the SAME propagation join: the per-round
    * edge set is the graph edges plus one (id -> label(id)) pointer edge
    * per node, so the neighbor-min aggregation picks up
    * label(label(id)) without a second self-join — and because labels
    * are always member ids, the pointer edge's endpoint always has a
    * labels row. One join + one aggregation + one left-join per round
    * (the old form ran the propagation subtree twice through a separate
    * doubling self-join, plus a shuffle join just to count changes; the
    * change count now reads the checkpointed result with a filter —
    * no shuffle. Isolated q_curation_e2e bench: 4.45 -> 4.11 s median;
    * the bigger effect is structural — 2 shuffles/round instead of 4,
    * which is what compounds on a cluster).
    *
    * Convergence: plain neighbor-min propagation needs O(diameter) rounds
    * and a long boilerplate chain can exceed any fixed cap; the fused
    * doubling step at least doubles each node's label reach per round, so
    * fixpoint is reached in O(log diameter) rounds (a path of 2^40 nodes
    * converges in ~40; ClusterSpec pins a 150-node path). The 40-round
    * cap is a safety valve only — if it is ever hit without
    * convergence the method THROWS rather than returning silently wrong
    * cluster ids (the documented contract is exact agreement with
    * transitive closure).
    *
    * Scale: per round one join + one aggregation, all hash-partitioned on
    * id; lineage is cut with localCheckpoint per round so plans stay
    * bounded, and each SUPERSEDED generation's blocks are unpersisted the
    * moment the next one is materialized — the loop's block-manager
    * footprint is one labels generation plus the edge set, independent of
    * round count (r10's leak: every generation lived for the JVM's life).
    * The returned frame is itself a checkpoint; the caller frees it with
    * [[graft.Checkpoints.free]] after its consumers have run.
    *
    * Memory auto-sizing (VERDICT r19 #8): the per-round join + min
    * aggregation has the same shuffle-partition-vs-edges memory shape
    * as the PageRank/HITS rounds, so the rounds now run under
    * [[graft.ops.GraphMemory.sizedFrom]] levers — edge-proportional
    * partitions with the AQE coalescing floor pinned above the trigger
    * (restored in the finally); below it (every fixture/bench path)
    * nothing is touched and the plan is byte-identical. Results cannot
    * move: min-label propagation is partitioning-independent by
    * construction.
    */
  def clusterPairs(pairs: DataFrame): DataFrame = {
    val maxIter = 40
    // the edge build is map-only (no collapse aggregation), so unlike
    // PageRank/HITS there is nothing to protect BEFORE materialization:
    // checkpoint first, then size the rounds from the materialized
    // count — a count over checkpointed blocks, not an extra pass over
    // the (often derived) candidate-pair plan
    val edges = pairs.select(col("id_a"), col("id_b"))
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint()
    val restoreConf =
      graft.ops.GraphMemory.sizedFrom(edges.sparkSession, edges.count())
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    try {
      while (!converged && i < maxIter) {
        // pointer edges fold the doubling lookup into this round's join:
        // neighbor b = label(id) contributes label(label(id)) to the min
        val dynEdges = edges.unionByName(
          labels.select(col("id").as("id_a"), col("label").as("id_b")))
        val neighborMin = dynEdges.join(labels, dynEdges("id_b") === labels("id"))
          .groupBy(dynEdges("id_a").as("nid")).agg(min("label").as("nlabel"))
        // LAZY checkpoint + the convergence count in ONE action (r21):
        // the count scans every partition, so it materializes the cut
        // exactly like the old eager checkpoint did, and the separate
        // materialization job disappears — one job per round instead
        // of two (the rounds are driver-latency-bound at bench scale).
        val updated = labels.join(neighborMin, labels("id") === col("nid"), "left")
          .select(labels("id"), labels("label").as("old"),
            least(labels("label"), coalesce(col("nlabel"), labels("label")))
              .as("label"))
          .localCheckpoint(eager = false)
        // the old label rode along through the checkpoint, so convergence
        // is a filter over materialized blocks — no join, no shuffle
        val changed = updated.filter(col("label") =!= col("old")).count()
        graft.Checkpoints.free(labels) // new generation is live; old is dead
        labels = updated.drop("old")
        converged = changed == 0
        i += 1
      }
    } finally {
      restoreConf()
      graft.Checkpoints.free(edges)
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs did not converge within $maxIter rounds — component " +
          "diameter exceeds 2^" + maxIter + "; raise maxIter")
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Near-dup dedup endgame: drop every clustered document except each
    * cluster's canonical (minimum id) member.
    */
  def nearDedupKeep(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = clusterPairs(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Keep each near-dup cluster's BEST member by `priority` (descending,
    * ties broken by lower id) instead of its lowest id — production
    * pipelines keep the longest / highest-quality representative, not
    * the first-seen one. Untouched documents (absent from `pairs`)
    * always survive.
    *
    * The keep decision runs ONLY over cluster members (inner join to the
    * CC labels): at corpus scale the overwhelming majority of documents
    * appear in no pair, and they must not pay a window exchange just to
    * be ranked alone in a singleton partition. The members' NARROW
    * (id, priority, label) frame — three columns, cluster rows only —
    * is ranked per label, losers become the drop set, and the payload
    * survives via left_anti exactly like [[nearDedupKeep]], keeping the
    * document text out of every shuffle.
    */
  def nearDedupKeepBy(df: DataFrame, idCol: String, pairs: DataFrame,
                      priority: Column): DataFrame = {
    val clusters = clusterPairs(pairs).withColumnRenamed("id", idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("__pri").desc, col(idCol))
    val drop = df.select(col(idCol), priority.as("__pri"))
      .join(clusters, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Exact shingle-set Jaccard verification of a CANDIDATE pair set —
    * [[nearDedup]]'s verify stage written once, exposed (r17) so
    * compositions that need both the candidates and the verified pairs
    * (cluster-keyed split assignment riding an audit ledger) reuse one
    * candidate frame instead of re-running the banding. Semi-join
    * restricts the shingle-set build to documents that appear in pairs.
    */
  def verifyCandidates(df: DataFrame, idCol: String, textCol: String,
                       candidates: DataFrame, jaccardThreshold: Double,
                       fast: Boolean = false): DataFrame = {
    val inPairs = candidates.select(col("id_a").as(idCol))
      .unionByName(candidates.select(col("id_b").as(idCol)))
      .distinct()
    val sh = if (fast) shingleHashesFast(col(textCol), ShingleSize)
             else shingleHashes(col(textCol), ShingleSize)
    val sets = df.join(inPairs, Seq(idCol), "left_semi")
      .select(col(idCol), array_distinct(sh).as("__set"))
    candidates
      .join(sets.select(col(idCol).as("id_a"), col("__set").as("__sa")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__set").as("__sb")), Seq("id_b"))
      .filter(jaccardBySets(col("__sa"), col("__sb")) >= jaccardThreshold)
      .select("id_a", "id_b")
  }

  /** The full near-dedup pipeline in one call — what a corpus run
    * actually executes: MinHash+LSH candidates (banded, never all-pairs)
    * -> exact shingle-set Jaccard verification of ONLY the candidates ->
    * connected-components clustering -> keep each cluster's minimum-id
    * member plus every untouched document.
    *
    * Scale shape: candidate generation is the §minhash path (one fused
    * hash pass, banded buckets); verification computes each candidate
    * document's distinct shingle-hash set ONCE (semi-join restricts the
    * set build to documents that appear in pairs — at corpus scale the
    * overwhelming majority never does) and scores pairs with one
    * native set kernel; clustering is O(log diameter) rounds. `fast`
    * swaps md5 for XXH64 in both phases. Candidates band over
    * pmod-reduced signature hashes while verification compares raw
    * 64-bit shingle sets — verification is exact in the raw domain
    * regardless of how candidates were bucketed. The candidate documents'
    * shingle hashes are deliberately recomputed here rather than carried
    * through the signature pass: re-hashing the (small) candidate subset
    * is cheaper at scale than shuffling every document's full shingle
    * array through the banding join.
    */
  def nearDedup(df: DataFrame, idCol: String, textCol: String,
                jaccardThreshold: Double = 0.8, fast: Boolean = false,
                priority: Option[Column] = None): DataFrame = {
    val candidates = lshCandidatePairs(df, idCol, textCol, fast)
    val verified = verifyCandidates(df, idCol, textCol, candidates,
      jaccardThreshold, fast)
    // keep rule: lowest id by default; highest caller-supplied priority
    // (e.g. a quality score) when given — the production keep rule
    priority.fold(nearDedupKeep(df, idCol, verified))(
      p => nearDedupKeepBy(df, idCol, verified, p))
  }

  /** EXACT threshold similarity join via prefix filtering (the
    * SSJoin/AllPairs family — Chaudhuri et al. ICDE'06, Bayardo et al.
    * WWW'07, Xiao et al. PPJoin): every pair of documents whose
    * distinct word-shingle-hash sets have Jaccard >= `threshold`, with
    * the completeness GUARANTEE the MinHash/LSH path trades away — no
    * banding probability, no missed pair, at any threshold.
    *
    * Why it's not all-pairs: order every set by one global total order
    * (document frequency ascending, hash ascending — rarest first) and
    * take each document's length-(n - ceil(t*n) + 1) prefix. If
    * J(A,B) >= t then |A∩B| >= ceil(t*max(|A|,|B|)), so the
    * order-smallest common element sits within BOTH prefixes
    * (pigeonhole on its position: <= n - ceil(t*n) + 1 in each) — the
    * prefix-prefix equi-join finds every qualifying pair. Everything
    * after is exact verification of candidates only, like [[nearDedup]].
    *
    * Scale shape: one fused shingle pass; df is one hash-agg on the
    * exchange the inverted index needs anyway; the join explodes
    * PREFIXES only (~(1-t) of each set — at t=0.8, 5x less than a full
    * inverted index); candidates pre-prune with the size filter
    * t*|A| <= |B| <= |A|/t before the verify join; the df-ascending
    * order keeps boilerplate shingles out of prefixes, which is what
    * bounds bucket fan-out (a stop-phrase lands in a prefix only for a
    * document whose every shingle is frequent). Verification joins the
    * candidate ids back to full sets semi-join-restricted, one native
    * set kernel per pair. Use this when the contract is "ALL pairs
    * >= t" (legal dedup, eval decontamination); use [[nearDedup]] when
    * a banding miss-rate is acceptable and thresholds are high.
    *
    * Ceil guards subtract 1e-9 before ceiling so an exactly-integer
    * t*n cannot round UP through fp representation error (a too-short
    * prefix or too-strict size filter would break completeness; 1e-9
    * of slack only ever lengthens a prefix by one element).
    *
    * Empty shingle sets (docs shorter than the shingle size) cannot
    * reach any positive threshold and are excluded, matching
    * [[jaccard]]'s empty-set-scores-0 contract.
    */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double): DataFrame = {
    // sets feeds four divergent subtrees (df table, prefix build, both
    // verify sides) that shuffle on different keys — exchange reuse
    // cannot collapse them, so without this lineage cut the fused
    // shingle pass (the dominant corpus-scale cost) would run 4x. Lazy
    // checkpoint: materialized once by the first action, reused by the
    // rest; the result frame depends on it, so the CALLER frees it
    // ([[graft.Checkpoints.free]]) after its consumers have run — the
    // clusterPairs ownership contract.
    val sets = jaccardSets(df, idCol, textCol)
      .localCheckpoint(false)
    val prefixes = jaccardPrefixes(sets, threshold)
    val pa = prefixes.select(col("__id").as("id_a"), col("__n").as("__na"),
      posexplode(col("__prefix")).as(Seq("__pa", "__h")))
    val pb = prefixes.select(col("__id").as("id_b"), col("__n").as("__nb"),
      posexplode(col("__prefix")).as(Seq("__pb", "__h")))
    val candidates = candidatePairsPositional(pa, pb, threshold,
      col("id_a") < col("id_b"))
    candidates
      .join(sets.select(col("__id").as("id_a"), col("__set").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__set").as("__sb")),
        Seq("id_b"))
      // completeness is derived for TRUE Jaccard >= t (prefix length,
      // size filter, positional bound all use exact t), so the emitted
      // set must be filtered on the UNROUNDED value — filtering on the
      // display-rounded jac would emit near-threshold pairs the
      // candidate stage is entitled to prune (round-up in [t-5e-7, t))
      .withColumn("__jx", jaccardBySets(col("__sa"), col("__sb")))
      .filter(col("__jx") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__jx"), 6).as("jac"))
  }

  /** EXACT threshold CONTAINMENT join: all ORDERED pairs (a, b), a ≠ b,
    * with |A ∩ B| / |A| >= `threshold` — the asymmetric near-dup the
    * symmetric [[jaccardJoin]] structurally misses: a document quoted
    * or truncated inside a much larger one has containment ≈ 1 while
    * its Jaccard collapses toward |A|/|B|. Training corpora are full of
    * exactly this shape (snippet pages, quote aggregators, partial
    * mirrors), and a Jaccard-only dedup keeps both copies.
    *
    * Same SSJoin machinery as [[jaccardJoin]], with the asymmetric
    * bounds: required overlap o = ceil(t·|A|) depends on the CONTAINED
    * side only, so A contributes its pigeonhole prefix
    * (|A| − o + 1 shingles — the SAME length formula as Jaccard's) but
    * the container side has no derivable length bound and is indexed
    * in FULL ([[orderedFull]]). The size filter keeps only
    * |B| >= t·|A|; the positional prune is [[candidatePairsBounded]]'s
    * least(na − ia, nb − ib) >= o under the shared (df, hash) global
    * order. Verification is one native [[containmentBySets]] kernel
    * per candidate (intersect cardinality / |A|), filtered on the
    * UNROUNDED value (the jaccardJoin near-threshold discipline).
    *
    * Scale shape: the contained side explodes prefixes only; the
    * container side's full index is the same (shingle → id) inverted
    * index the corpus needs for any exact screen, df-ascending so
    * boilerplate shingles sit LAST in every list and enter prefixes
    * only for documents that are all-boilerplate. Emitting ordered
    * pairs means a doc contained in k others emits k rows — cluster
    * consumers collapse them with the usual min-per-id rule.
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double): DataFrame =
    containmentPairsSized(
        jaccardSets(df, idCol, textCol).localCheckpoint(false),
        threshold)
      .select(col("id_a"), col("id_b"),
        round(col("__cx"), 6).as("containment"))

  /** [[containmentJoin]]'s full-fidelity core over a pre-built
    * [[jaccardSets]] frame: qualifying ordered pairs with the UNROUNDED
    * containment and both set cardinalities — [[containmentDedup]]'s
    * keep rule needs the sizes, the public join only the rounded score.
    */
  private[graft] def containmentPairsSized(sets: DataFrame,
                                           threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentJoin: threshold must be in (0, 1], got $threshold")
    val dfT = jaccardDf(sets)
    val pa = jaccardPrefixesWithOrder(sets, dfT, threshold)
      .select(col("__id").as("id_a"), col("__n").as("__na"),
        posexplode(col("__prefix")).as(Seq("__pa", "__h")))
    val pb = orderedFull(sets, dfT)
      .select(col("__id").as("id_b"), col("__n").as("__nb"),
        posexplode(col("__full")).as(Seq("__pb", "__h")))
    val candidates = candidatePairsBounded(pa, pb,
      pairCond = col("id_a") =!= col("id_b"),
      sizeOk = col("__nb") >= lit(threshold) * col("__na") - lit(1e-9),
      overlapBound = ceil(lit(threshold) * col("__na") - lit(1e-9)))
    candidates
      .join(sets.select(col("__id").as("id_a"), col("__set").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__set").as("__sb")),
        Seq("id_b"))
      .withColumn("__cx", containmentBySets(col("__sa"), col("__sb")))
      .filter(col("__cx") >= threshold)
      .select(col("id_a"), col("id_b"), col("__cx"),
        size(col("__sa")).cast("long").as("__na"),
        size(col("__sb")).cast("long").as("__nb"))
  }

  /** CONTAINMENT dedup — the keep rule over [[containmentJoin]] pairs:
    * drop every document contained (≥ `threshold`) in a LARGER one
    * (strictly more distinct shingles; equal sizes keep the smaller
    * id). The quote/truncation/partial-mirror cleanup: stubs collapse
    * into their sources while the sources — never contained in
    * anything bigger — survive. Greedy, not transitive: a document is
    * dropped if ANY larger document contains it, kept or not
    * (containment does not compose along chains, so transitive-closure
    * keeping would re-admit stubs whose source was itself absorbed).
    * Returns `df`'s kept rows; the drop set never touches the payload
    * (id-only anti join, the [[exactDedup]] discipline).
    */
  def containmentDedup(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double): DataFrame = {
    val pairs = containmentPairsSized(
      jaccardSets(df, idCol, textCol).localCheckpoint(false),
      threshold)
    val drops = pairs
      .filter(col("__nb") > col("__na") ||
        (col("__nb") === col("__na") && col("id_b") < col("id_a")))
      .select(col("id_a")).distinct()
    df.join(drops, df(idCol) === drops("id_a"), "left_anti")
  }

  /** Containment |sa ∩ sb| / |sa| over two pre-computed [[shingleSet]]
    * columns — one native intersect-cardinality kernel per pair, one
    * double division. Empty or null `sa` scores 0.0 (an empty set is
    * contained in everything vacuously, but a zero-signal document
    * must never reach a dedup threshold — the [[jaccardBySets]]
    * empty-set contract).
    */
  def containmentBySets(sa: Column, sb: Column): Column =
    coalesce(
      when(size(sa) > 0,
        org.apache.spark.sql.graft.TextHashExpressions
          .longSetIntersectCard(sa, sb).cast("double") /
          size(sa).cast("double")),
      lit(0.0))

  /** Prefix-join candidate pairs with the size filter and PPJoin's
    * POSITIONAL filter (Xiao et al., WWW'08). Inputs are posexploded
    * prefix frames (id, n, 0-based position, hash). J >= t forces
    * overlap o >= ceil(t/(1+t) * (na+nb)); every intersection element
    * sits at global-order position >= the FIRST shared element's, so
    * with that element at (0-based) positions (i*, j*),
    * o <= min(na - i*, nb - j*). Prefix positions are monotone in the
    * SAME global order on both sides, so min(i) and min(j) over the
    * pair's shared prefix tokens are BOTH attained at the first shared
    * element — one groupBy computes the bound exactly where the old
    * code ran `.distinct()`, same exchange, and pairs whose bound
    * cannot reach o are pruned before the verify join ever sees them.
    * For a qualifying pair the bound >= o >= alpha (1e-9 fp slack on
    * alpha's ceil only loosens it), so completeness is untouched —
    * JaccardJoinSpec's brute-force equality pins it.
    */
  private[graft] def candidatePairsPositional(pa: DataFrame, pb: DataFrame,
                                              threshold: Double,
                                              pairCond: Column): DataFrame =
    candidatePairsBounded(pa, pb, pairCond,
      sizeOk =
        col("__nb") >= lit(threshold) * col("__na") - lit(1e-9) &&
          col("__na") >= lit(threshold) * col("__nb") - lit(1e-9),
      overlapBound =
        ceil(lit(threshold / (1.0 + threshold)) *
          (col("__na") + col("__nb")) - lit(1e-9)))

  /** The shared positional-filter candidate core ([[jaccardJoin]] and
    * [[containmentJoin]] differ ONLY in their size filter and required-
    * overlap bound, so the join/groupBy/positional-prune machinery is
    * written once): `sizeOk` prunes on (__na, __nb) before the pair
    * agg; `overlapBound` is the minimum |A∩B| a qualifying pair needs,
    * as an expression over __na/__nb. The positional prune
    * least(na - ia, nb - ib) >= bound is valid for EITHER predicate
    * because min position over the pair's shared prefix tokens is
    * attained at the first shared element on both sides (one global
    * order — see [[candidatePairsPositional]]'s derivation).
    */
  private[graft] def candidatePairsBounded(pa: DataFrame, pb: DataFrame,
                                           pairCond: Column, sizeOk: Column,
                                           overlapBound: Column): DataFrame = {
    val idA = pa.columns.head
    val idB = pb.columns.head
    pa.join(pb, Seq("__h"))
      .filter(pairCond && sizeOk)
      .groupBy(col(idA), col(idB))
      .agg(max("__na").as("__na"), max("__nb").as("__nb"),
        min("__pa").as("__ia"), min("__pb").as("__ib"))
      .filter(
        least(col("__na") - col("__ia"), col("__nb") - col("__ib")) >=
          overlapBound)
      .select(col(idA), col(idB))
  }

  /** GUARANTEED-complete near-dedup: [[nearDedup]]'s pipeline with
    * [[jaccardJoin]]'s exact pair generation in place of LSH banding —
    * every pair at Jaccard >= `threshold` enters the cluster graph, so
    * the kept set is the true transitive-closure minimum per cluster
    * with NO banding miss-rate. The tool when dedup is a compliance
    * contract rather than a statistical cleanup; costs the prefix-join
    * candidate bill (round 11, PERFNOTES "Exact prefix-filtered Jaccard
    * join at 100k docs") instead of the banded one.
    */
  def nearDedupComplete(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame =
    nearDedupKeep(df, idCol,
      jaccardJoin(df, idCol, textCol, threshold)
        .select("id_a", "id_b"))

  /** [[jaccardJoin]]'s set build: (__id, __set) distinct shingle-hash
    * sets, empty sets excluded. Split out so scale harnesses measure
    * the SAME code path the operator runs.
    */
  def jaccardSets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        array_distinct(shingleHashes(col(textCol), ShingleSize)).as("__set"))
      .filter(size(col("__set")) > 0)

  /** [[jaccardJoin]]'s prefix build over a [[jaccardSets]] frame:
    * (__id, __n, __prefix) with the df-ascending order and the fp-safe
    * prefix length. This is also the exact-join INDEX: persist it and
    * a later snapshot's prefixes join against it without re-reading
    * archived text (the [[bandIndexWithIds]] pattern, but with a
    * completeness guarantee).
    */
  def jaccardPrefixes(sets: DataFrame, threshold: Double): DataFrame =
    jaccardPrefixesWithOrder(sets, jaccardDf(sets), threshold)

  /** Shingle document frequencies of a [[jaccardSets]] frame:
    * (__h, __df) — the global-order statistic of the prefix builders.
    */
  def jaccardDf(sets: DataFrame): DataFrame =
    sets.select(explode(col("__set")).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__df"))

  /** Prefix frame under the order (df from `dfTable`, hash) — shingles
    * ABSENT from the table order as df 0 (rarest; conservative AND
    * right, since a never-seen shingle is maximally selective). The
    * order is a pure function of the table, so two corpora ordered by
    * the SAME table satisfy the cross-corpus pigeonhole bound.
    */
  def jaccardPrefixesWithOrder(sets: DataFrame, dfTable: DataFrame,
                               threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardPrefixesWithOrder: threshold must be in (0, 1], got $threshold")
    val prefixLen =
      (col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1)
        .cast("int")
    orderedFull(sets, dfTable).select(col("__id"), col("__n"),
      slice(col("__full"), lit(1), prefixLen).as("__prefix"))
  }

  /** The FULL ordered shingle list under the (df, hash) global order —
    * [[jaccardPrefixesWithOrder]] is this frame sliced to the prefix
    * bound. [[containmentJoin]] indexes the container side with it: a
    * contained set's required overlap gives NO length bound on the
    * container, so the container contributes every shingle (the
    * contained side still contributes only its prefix — that side's
    * pigeonhole is what keeps the join sub-quadratic).
    */
  private[graft] def orderedFull(sets: DataFrame,
                                 dfTable: DataFrame): DataFrame = {
    val tok = sets.select(col("__id"), explode(col("__set")).as("__h"))
    tok.join(dfTable, Seq("__h"), "left")
      .select(col("__id"), col("__h"), coalesce(col("__df"), lit(0L)).as("__df"))
      .groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__df"), col("__h"))))
          .as("__ord"),
        count(lit(1)).as("__n"))
      .select(col("__id"), col("__n"),
        transform(col("__ord"), s => s("__h")).as("__full"))
  }

  /** Prefix frame under HASH-ascending order — the cross-corpus form
    * of [[jaccardPrefixes]]. The prefix bound holds for ANY global
    * total order, but completeness across two corpora requires the
    * SAME order on both sides: df-ascending is corpus-DEPENDENT (the
    * archive's df and a later snapshot's df disagree), so an
    * incremental index orders by the hash value alone — fixed forever,
    * no df table to version. The price is average-case rather than
    * df-optimized pruning; the batch [[jaccardJoin]] keeps df order
    * because both sides come from one corpus.
    */
  def jaccardPrefixesFixedOrder(sets: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardPrefixesFixedOrder: threshold must be in (0, 1], got $threshold")
    val n = size(col("__set"))
    val prefixLen =
      (n - ceil(lit(threshold) * n - lit(1e-9)) + 1).cast("int")
    sets.select(col("__id"), n.cast("long").as("__n"),
      slice(sort_array(col("__set")), lit(1), prefixLen).as("__prefix"))
  }

  /** Archive prefix index for the incremental EXACT-Jaccard screen:
    * (archive_id, n, prefix, t_build) rows under the fixed hash order
    * — [[bandIndexWithIds]]'s analogue with a completeness guarantee.
    * Persist it once per accepted snapshot (union new rows in); the
    * index is valid for screens at any threshold >= `threshold` (a
    * higher-t screen needs a prefix no longer than this one).
    * `t_build` rides every row so the screen can ENFORCE that
    * direction — a lower-t screen against a higher-t index would be a
    * silent completeness hole, which is the one failure mode this
    * operator exists to rule out.
    */
  def jaccardIndex(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame =
    jaccardPrefixesFixedOrder(jaccardSets(df, idCol, textCol),
        threshold)
      .select(col("__id").as("archive_id"), col("__n").as("n"),
        col("__prefix").as("prefix"), lit(threshold).as("t_build"))

  /** Incremental EXACT near-dup screen: drop every snapshot document
    * whose shingle-set Jaccard against SOME archived document clears
    * `threshold` — complete (no banding miss-rate) and
    * false-positive-free (exact verify, like [[nearDupVerifyAgainst]])
    * in one call. Candidates come from
    * the snapshot's fixed-order prefixes joined to the persisted
    * [[jaccardIndex]] plus the size filter; the archive PAYLOAD is
    * touched only through a semi join on the candidates' archive ids,
    * and only those documents are re-shingled — the `incdedup`
    * scale shape with a guarantee. Within-snapshot pairs are
    * [[jaccardJoin]]'s job; this screens against the archive only.
    */
  def jaccardDedupAgainst(df: DataFrame, idCol: String, textCol: String,
                          index: DataFrame, archiveText: DataFrame,
                          archiveIdCol: String, archiveTextCol: String,
                          threshold: Double): DataFrame = {
    // a screen BELOW the index's build threshold needs prefixes the
    // index does not carry — candidates would silently go missing, so
    // refuse. One tiny max() job over the index's stamp column; indexes
    // from before the stamp (no t_build) are waved through with a
    // warning burden on the caller rather than a hard failure.
    if (index.columns.contains("t_build")) {
      val tb = index.agg(max(col("t_build"))).collect().head
      if (!tb.isNullAt(0)) {
        val built = tb.getDouble(0)
        require(threshold >= built - 1e-12,
          s"jaccard screen at t=$threshold against an index built at " +
            s"t=$built: prefixes are too short for completeness below " +
            "the build threshold - rebuild the index at the lower t")
      }
    }
    // the snapshot re-shingles twice (prefix build + verify side)
    // without a cut; lazy checkpoint, caller frees via Checkpoints.free
    val snapSets = jaccardSets(df, idCol, textCol)
      .localCheckpoint(false)
    val snapPref = jaccardPrefixesFixedOrder(snapSets, threshold)
      .select(col("__id"), col("__n").as("__na"),
        posexplode(col("__prefix")).as(Seq("__pa", "__h")))
    val archPref = index.select(col("archive_id"), col("n").as("__nb"),
      posexplode(col("prefix")).as(Seq("__pb", "__h")))
    val candidates =
      candidatePairsPositional(snapPref, archPref, threshold, lit(true))
    val snapCand = snapSets
      .join(candidates.select(col("__id")).distinct(), Seq("__id"), "left_semi")
      .select(col("__id"), col("__set").as("__sa"))
    val archCand = jaccardSets(
        archiveText.join(
          candidates.select(col("archive_id").as(archiveIdCol)).distinct(),
          Seq(archiveIdCol), "left_semi"),
        archiveIdCol, archiveTextCol)
      .select(col("__id").as("archive_id"), col("__set").as("__sb"))
    val dropped = candidates
      .join(snapCand, Seq("__id"))
      .join(archCand, Seq("archive_id"))
      // unrounded, like jaccardJoin: completeness is derived for true
      // J >= t, so the drop decision must use the same boundary
      .filter(jaccardBySets(col("__sa"), col("__sb")) >= threshold)
      .select(col("__id").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Archive index for the incremental CONTAINMENT screen (VERDICT r18
    * #3 — the [[jaccardIndex]]/[[jaccardDedupAgainst]] contract for the
    * asymmetric detector): (archive_id, n, full) rows, each archive
    * document's FULL hash-ascending shingle list. Full, not a prefix,
    * because containment's required overlap o = ceil(t·|A|) bounds only
    * the CONTAINED (snapshot) side — the container side has no
    * derivable length bound (the [[containmentJoin]] asymmetry), so
    * completeness needs every container shingle indexed. The upside of
    * paying full width: the index is THRESHOLD-INDEPENDENT — one build
    * serves screens at ANY t (no `t_build` guard needed — the
    * jaccardIndex failure mode cannot exist here) — and APPEND-ONLY by
    * construction (rows are per-document facts under the fixed hash
    * order; no corpus statistic to go stale), so re-crawl acceptance
    * unions new rows in, never rebuilds.
    */
  def containmentIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    jaccardSets(df, idCol, textCol)
      .select(col("__id").as("archive_id"),
        size(col("__set")).cast("long").as("n"),
        sort_array(col("__set")).as("full"))

  /** Incremental CONTAINMENT screen — the re-crawl use case
    * [[containmentJoin]] was built for, against a PERSISTED archive:
    * drop every snapshot document whose shingle set is contained
    * (|A ∩ B| / |A| >= `threshold`) in SOME archived document — the
    * truncation/quote/partial-mirror arriving AFTER its source was
    * archived, which the symmetric [[jaccardDedupAgainst]] structurally
    * misses (the stub's Jaccard against its source collapses toward
    * |A|/|B|). Same completeness bound as the batch form: the
    * snapshot's pigeonhole prefix (|A| − ceil(t·|A|) + 1 shingles,
    * fixed hash order) against the index's FULL lists plus the
    * one-sided size filter |B| >= t·|A| and the positional prune; exact
    * [[containmentBySets]] verify on candidates only, unrounded at the
    * boundary. Archive PAYLOAD is touched only through a semi join on
    * candidate ids (the [[jaccardDedupAgainst]] scale shape). A
    * snapshot doc with an EMPTY shingle set survives (empty scores 0 —
    * the [[jaccardBySets]] contract); within-snapshot containment is
    * [[containmentJoin]]'s job.
    */
  def containmentDedupAgainst(df: DataFrame, idCol: String, textCol: String,
                              index: DataFrame, archiveText: DataFrame,
                              archiveIdCol: String, archiveTextCol: String,
                              threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment screen: threshold must be in (0, 1], got $threshold")
    // the snapshot re-shingles twice (prefix build + verify side)
    // without a cut; lazy checkpoint, caller frees via Checkpoints.free
    val snapSets = jaccardSets(df, idCol, textCol)
      .localCheckpoint(false)
    val snapPref = jaccardPrefixesFixedOrder(snapSets, threshold)
      .select(col("__id"), col("__n").as("__na"),
        posexplode(col("__prefix")).as(Seq("__pa", "__h")))
    val archFull = index.select(col("archive_id"), col("n").as("__nb"),
      posexplode(col("full")).as(Seq("__pb", "__h")))
    val candidates = candidatePairsBounded(snapPref, archFull,
      pairCond = lit(true),
      sizeOk = col("__nb") >= lit(threshold) * col("__na") - lit(1e-9),
      overlapBound = ceil(lit(threshold) * col("__na") - lit(1e-9)))
    val snapCand = snapSets
      .join(candidates.select(col("__id")).distinct(), Seq("__id"), "left_semi")
      .select(col("__id"), col("__set").as("__sa"))
    val archCand = jaccardSets(
        archiveText.join(
          candidates.select(col("archive_id").as(archiveIdCol)).distinct(),
          Seq(archiveIdCol), "left_semi"),
        archiveIdCol, archiveTextCol)
      .select(col("__id").as("archive_id"), col("__set").as("__sb"))
    val dropped = candidates
      .join(snapCand, Seq("__id"))
      .join(archCand, Seq("archive_id"))
      // unrounded at the boundary, the jaccardDedupAgainst discipline
      .filter(containmentBySets(col("__sa"), col("__sb")) >= threshold)
      .select(col("__id").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------------
  // Benchmark decontamination
  // ------------------------------------------------------------------

  /** n-gram contamination scores of corpus documents against a benchmark
    * set — the decontamination pass a training-data pipeline runs before
    * training: for every (corpus doc, benchmark doc) pair sharing at
    * least one word-n-gram, the fraction of the BENCHMARK doc's distinct
    * n-grams found in the corpus doc. Score 1.0 = the benchmark document
    * is fully contained; drop or flag corpus docs above `threshold`.
    *
    * Scale shape: both sides explode to (id, shingle-hash-set) rows and
    * meet in an inverted-index equi-join on the 60-bit hash — never a
    * doc x doc comparison; the benchmark side is tiny by nature, so the
    * join broadcasts under AQE. `maxDf` optionally drops n-grams that
    * occur in more than that many corpus documents (stop-phrase guard:
    * a boilerplate n-gram would otherwise fan out into every pair).
    */
  def contaminationScores(corpus: DataFrame, corpusId: String, corpusText: String,
                          bench: DataFrame, benchId: String, benchText: String,
                          threshold: Double = 0.0,
                          maxDf: Option[Long] = None): DataFrame = {
    val c0 = corpus.select(col(corpusId).as("corpus_id"),
      explode(array_distinct(shingleHashes(col(corpusText), ShingleSize))).as("__h"))
    val c = maxDf.fold(c0) { cap =>
      val wh = org.apache.spark.sql.expressions.Window.partitionBy("__h")
      c0.withColumn("__df", count(lit(1)).over(wh))
        .filter(col("__df") <= cap).drop("__df")
    }
    val b = bench.select(col(benchId).as("bench_id"),
      explode(array_distinct(shingleHashes(col(benchText), ShingleSize))).as("__h"))
    contaminationFromGrams(c, b, threshold)
  }

  /** [[contaminationScores]] with a broadcast Bloom pre-screen — the
    * 100 TB form. The plain shape explodes EVERY corpus n-gram into the
    * `maxDf` window / join exchange; at corpus scale that shuffle is
    * (tokens x corpus)-sized while the benchmark side is a few MB. Here
    * the benchmark's distinct gram hashes build one Bloom filter
    * (`fpp` default 1%) that rides into the corpus scan as a native
    * codegen'd `mightContainLong` — non-colliding grams die map-side
    * and the exchange carries only (actual overlap + fpp x corpus
    * grams).
    *
    * Results are EXACTLY [[contaminationScores]]'s (spec-pinned):
    * false negatives are impossible, false positives are eliminated by
    * the same exact hash join, and the `maxDf` document-frequency of a
    * surviving gram is unchanged because screening drops whole gram
    * groups (the screen is a function of `__h`), never part of one.
    */
  def contaminationScoresBloom(corpus: DataFrame, corpusId: String, corpusText: String,
                               bench: DataFrame, benchId: String, benchText: String,
                               threshold: Double = 0.0,
                               maxDf: Option[Long] = None,
                               fpp: Double = 0.01): DataFrame = {
    val b = bench.select(col(benchId).as("bench_id"),
      explode(array_distinct(shingleHashes(col(benchText), ShingleSize))).as("__h"))
    val bGrams = b.select("__h").distinct()
    val nGrams = math.max(bGrams.count(), 1L) // benchmark side is small by contract
    val bloom = org.apache.spark.sql.graft.BloomExpressions.serialize(
      bGrams.stat.bloomFilter("__h", nGrams, fpp))
    val c0 = corpus.select(col(corpusId).as("corpus_id"),
        explode(array_distinct(shingleHashes(col(corpusText), ShingleSize))).as("__h"))
      .filter(org.apache.spark.sql.graft.BloomExpressions
        .mightContainLong(col("__h"), bloom))
    val c = maxDf.fold(c0) { cap =>
      val wh = org.apache.spark.sql.expressions.Window.partitionBy("__h")
      c0.withColumn("__df", count(lit(1)).over(wh))
        .filter(col("__df") <= cap).drop("__df")
    }
    contaminationFromGrams(c, b, threshold)
  }


  /** Shared scoring tail of the two contamination forms: inverted-index
    * join on the gram hash, per-(corpus, bench) overlap counts,
    * floor-rounded containment fraction, threshold filter.
    */
  private def contaminationFromGrams(c: DataFrame, b: DataFrame,
                                     threshold: Double): DataFrame = {
    val bSizes = b.groupBy("bench_id").agg(count(lit(1)).as("__bn"))
    val f = 1e6
    c.join(b, Seq("__h"))
      .groupBy("corpus_id", "bench_id").agg(count(lit(1)).as("overlap"))
      .join(bSizes, Seq("bench_id"))
      .withColumn("contamination",
        floor(col("overlap").cast("double") / col("__bn") * f + 0.5) / f)
      .filter(col("contamination") >= threshold)
      .select("corpus_id", "bench_id", "overlap", "contamination")
  }

  // ------------------------------------------------------------------
  // Verification measures
  // ------------------------------------------------------------------

  /** Exact Jaccard similarity of the two docs' word-shingle sets. */
  def jaccard(textA: Column, textB: Column): Column = {
    val sa = array_distinct(wordShingles(textA, ShingleSize))
    val sb = array_distinct(wordShingles(textB, ShingleSize))
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** A document's distinct shingle-hash set — compute ONCE per document
    * (native fused pass), then verify many candidate pairs against it.
    * Hash collisions are deterministic, so set comparisons agree across
    * engines computing the same hashes.
    */
  def shingleSet(text: Column): Column =
    array_distinct(shingleHashes(text, ShingleSize))

  /** Jaccard over two pre-computed [[shingleSet]] columns. The pair-verify
    * hot path: one native set kernel per pair (not a re-shingling of both
    * texts — docs in many candidate pairs would re-tokenize per pair).
    */
  def jaccardBySets(sa: Column, sb: Column): Column =
    // coalesce preserves the composed form's null contract (a null set
    // scored 0.0, not null — the native BinaryExpression is null-out)
    coalesce(
      org.apache.spark.sql.graft.TextHashExpressions.longSetJaccard(sa, sb),
      lit(0.0))

  /** SimHash (64-bit here 32 to stay engine-portable): sign-sum of token
    * hash bits. Two near-identical documents differ in few bits; dedup
    * buckets on bit-prefixes or compares hamming distance on candidates.
    */
  def simhashFromHashes(hs: Column, bits: Int = 32): Column =
    (0 until bits).map { j =>
      val bitSum = aggregate(hs, lit(0L),
        (s, h) => s + shiftright(h, j).bitwiseAND(1L) * 2 - 1)
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Single-expression simhash (tests / small inputs). */
  def simhash(textCol: Column): Column =
    simhashFromHashes(transform(tokens(textCol), t => hash64(t)))

  /** (id, simhash) via the relational shape (same pattern as
    * [[minhashSignatures]]): explode the native token-hash array, compute
    * the 32 sign-sums as codegen'd hash aggregates with map-side
    * combine, fold the sign bits into the signature in one projection.
    * The array-column formulation runs 32 interpreted folds per
    * document (one aggregate() lambda per bit); here every bit is a
    * column of ONE aggregation pass and the shuffle carries one row per
    * document. Docs with no tokens get simhash 0 (empty sign-sum).
    */
  def simhashSignatures(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val bits = 32
    val hs = df.select(col(idCol),
      explode_outer(shingleHashes(col(textCol), 1)).as("__h"))
    val aggs = (0 until bits).map(j =>
      sum(shiftright(col("__h"), j).bitwiseAND(1L) * 2 - 1).as(s"__b$j"))
    hs.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Cosine similarity of two float vectors, computed in double precision
    * with left-to-right accumulation (deterministic summation order — the
    * property that makes results reproducible across engines). Backed by
    * the native codegen'd dot product.
    */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = l2norm(a)
    val nb = l2norm(b)
    when(na > 0 && nb > 0, d / (na * nb))
  }

  /** L2 norm of a float vector, in double precision — native codegen'd
    * expression (see [[graft.functions.DotProductFloat]]).
    */
  def l2norm(v: Column): Column = org.apache.spark.sql.graft.VectorExpressions.l2normF(v)

  /** Dot product of two float vectors, in double precision. Left-to-right
    * accumulation — deterministic summation order, bit-identical to the
    * lambda formulation it replaced.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotF(a, b)

  /** Embedding-cosine near-duplicate pairs above `threshold` among rows of
    * `df` (id, embedding). Brute-force within — intended for candidate
    * sets or small partitions; the scale path buckets by
    * [[Similarity.ivfAssign]] first and runs this within cells. Norms are
    * precomputed per vector (once per row, not once per pair — 3x less
    * per-pair arithmetic on the O(n^2) path).
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .withColumn("na", l2norm(col("va")))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      .withColumn("nb", l2norm(col("vb")))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos",
        when(col("na") > 0 && col("nb") > 0,
          dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** The IVF-bucketed SCALE path for embedding near-dup: assign every
    * vector to its nearest centroid cell (map-only — the codebook is a
    * plan literal), then pair-generate WITHIN cells. One shuffle by cell
    * id replaces the all-pairs cross join: expected per-cell work is
    * (n/nlist)^2, so nlist is the lever that keeps the quadratic local
    * (size it so a cell's vectors fit one executor; sub-bucket or cap any
    * boilerplate-hot cell the way LSH buckets are capped).
    *
    * Recall: same-cell pairs only at `nprobe = 1`; boundary pairs whose
    * members straddle cells are recovered by probing — one side joins on
    * its `nprobe` nearest cells ([[Similarity.ivfProbeCells]]), the other on
    * its home cell, and orientations are normalized + deduplicated
    * (cosine is bit-symmetric, so distinct is exact). nprobe = nlist
    * degenerates to exact brute force (property-tested).
    */
  def embeddingNearDupsBucketed(df: DataFrame, idCol: String, vecCol: String,
                                threshold: Double, centroids: Column,
                                nprobe: Int = 1): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .withColumn("na", l2norm(col("va")))
      // nprobe=1 takes the native CosineArgmax assignment (codegen'd
      // tight loop) — identical cell (both 1-based, equivalence pinned in
      // LlmSpec) without ivfRanking's interpreted per-row score-and-sort
      // over all nlist centroids, which dominates wall time once nlist
      // scales with the corpus (measured: 100k x nlist=256 semDedup
      // 220 s -> see PERFNOTES). A null cell (zero-norm vector) drops in
      // the inner join exactly like the empty probe slice did. Multi-probe
      // takes the native top-cells selection for the same reason.
      .withColumn("__cell",
        if (nprobe == 1) Similarity.ivfAssign(col("va"), centroids)
        else explode(Similarity.ivfProbeCells(col("va"), centroids, nprobe)))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      .withColumn("nb", l2norm(col("vb")))
      .withColumn("__cell", Similarity.ivfAssign(col("vb"), centroids))
    a.join(b, Seq("__cell")).filter(col("id_a") =!= col("id_b"))
      .withColumn("cos",
        when(col("na") > 0 && col("nb") > 0,
          dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
      .distinct()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — cluster the corpus into IVF cells and, within each
    * cell, keep exactly one representative of every near-duplicate
    * relation: a row is DROPPED iff some lower-id row in a shared cell is
    * cosine-similar above `threshold` ("keep lowest id", the deterministic
    * analogue of the paper's keep-one-per-clique; transitive chains thin
    * to their minimum like [[clusterPairs]] canonicalization, except
    * cell-locally).
    *
    * Scale shape: the pair join is cell-bounded
    * ([[embeddingNearDupsBucketed]]); the drop set shuffles bare ids; the
    * final filter is a left_anti hash join on the id — the payload
    * columns never fan out through the pair generation.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, centroids: Column,
               nprobe: Int = 1): DataFrame = {
    val drops = embeddingNearDupsBucketed(df, idCol, vecCol, threshold,
        centroids, nprobe)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** [[semDedup]] with an exact-duplicate pre-collapse — the
    * duplicate-heavy corpus path. Identical vectors collapse to their
    * min-id representative in ONE linear hash-agg; only DISTINCT vectors
    * enter the cell-local quadratic. The kept set is IDENTICAL to
    * semDedup's (LlmSpec pins it): exact twins share every cosine
    * relation and every cell, so (a) a non-representative twin always
    * has its representative as a lower-id cos-1 neighbor — dropped both
    * ways; (b) any lower-id row that would drop a representative implies
    * its own representative (even lower id, same vector, same cosines)
    * drops it in the reduced problem too. Zero-norm vectors bypass the
    * collapse wholesale: they carry a null cell and are never dropped,
    * including exact zero twins — collapsing them would change results.
    *
    * Scale: cell-local pair work goes from (rows/cell)^2 to
    * (distinct-vectors/cell)^2. Measured on the 100k-image flagship
    * corpus (16 distinct feature vectors): 239 s -> seconds; on a
    * twin-free corpus the extra hash-agg is one linear pass of the
    * vectors it would have shuffled anyway.
    */
  def semDedupDistinct(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, centroids: Column,
                       nprobe: Int = 1): DataFrame = {
    val nonzero = df.filter(l2norm(col(vecCol)) > 0)
    val zero = df.filter(!(l2norm(col(vecCol)) > 0))
    val reps = nonzero.groupBy(col(vecCol)).agg(min(col(idCol)).as(idCol))
    val keptReps = semDedup(reps, idCol, vecCol, threshold, centroids, nprobe)
    nonzero.join(keptReps.select(col(idCol)), Seq(idCol), "left_semi")
      .unionByName(zero)
  }

  /** [[semDedupDistinct]] with the nlist ∝ N sizing rule applied for the
    * caller: nlist = max(8, ceil(sqrt(corpus rows))), centroids =
    * the first nlist nonzero vectors by id (the same deterministic
    * "collected like a trained codebook would be" convention the
    * registry queries use). This exists because a FIXED nlist is the one
    * semDedup parameter that silently goes quadratic as the corpus
    * grows — measured at 100k distinct vectors: nlist 8 = 95 s, nlist
    * 128 = 6.3 s (PERFNOTES r10). sqrt(N) keeps expected rows/cell =
    * sqrt(N), i.e. cell-local pair work linear in N, the FAISS sizing
    * convention.
    *
    * `maxNlist` (default 4096) is the LITERAL-codebook threshold, not a
    * cap on nlist: up to it, centroids ride the plan as a literal array
    * (nlist × dim floats) into the codegen'd assignment expression — the
    * fastest form, fine to a few thousand cells. Past it, the sqrt-N
    * rule keeps going and the codebook switches to the broadcast-joined
    * centroid TABLE ([[semDedupDistinctTable]]), whose plan stays O(1)
    * size at any nlist — a 16 M-row corpus sizes to 4 k cells and stays
    * literal; a 1 B-row corpus sizes to ~32 k cells and takes the table
    * path instead of silently going quadratic at a clamped 4096. The
    * kept set is identical either side of the threshold
    * (SemDedupTableSpec pins both modes equal on the same nlist). The
    * exact-twin pre-collapse comes free via either semDedupDistinct
    * form (a linear pass; provably identical kept set).
    *
    * Both routes keep the FLAT row×nlist assignment (so the kept set
    * never depends on which side of the threshold a corpus lands on);
    * past ~10k cells that argmax itself dominates (measured 31 s at
    * 100k×16k, PERFNOTES "Round 15 — SemDeDup past the literal codebook
    * cap") — call [[semDedupTwoLevel]]
    * explicitly there (2.8× faster assignment, a DIFFERENT
    * deterministic bucketing with its own oracle).
    */
  def semDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, maxNlist: Int = 4096): DataFrame = {
    val n = df.count()
    val nlist = math.max(8L,
      math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    val nonzero = df.filter(l2norm(col(vecCol)) > 0)
    if (nlist <= maxNlist) {
      val cents = nonzero
        .orderBy(col(idCol)).limit(nlist)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).toArray)
      val centsLit = array(cents.toIndexedSeq.map(v =>
        array(v.toIndexedSeq.map(lit(_)): _*)): _*)
      semDedupDistinct(df, idCol, vecCol, threshold, centsLit)
    } else {
      // the nlist-row seed frame is tiny relative to the corpus that
      // sized it past the literal threshold; the single-partition
      // row_number window over it is nlist rows, not a corpus sort
      val cents = nonzero.orderBy(col(idCol)).limit(nlist)
        .select(row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col(idCol)))
          .cast("int").as("cell"), col(vecCol).as("cvec"))
      semDedupDistinctTable(df, idCol, vecCol, threshold, cents)
    }
  }

  /** [[embeddingNearDupsBucketed]] with the codebook as a TABLE of
    * (`cell`: 1-based int, `cvec`: float vector) rows — the
    * past-the-literal-cap mode ([[Similarity.ivfAssignTable]]): a
    * literal codebook is nlist×dim `lit` nodes in the plan, fine to a
    * few thousand cells and plan-bloat beyond; the broadcast-joined
    * table is O(1) plan size at any nlist. Pair semantics are
    * IDENTICAL (SemDedupTableSpec pins pairs bit-for-bit, nprobe 1 and
    * >1): same native cosine doubles, same first-max cell, same
    * orientation normalization. The cell assignments join back to the
    * payload by id — one extra bare-(id, cell) shuffle per side vs the
    * literal's fused map, the price of escaping the literal.
    */
  def embeddingNearDupsBucketedTable(df: DataFrame, idCol: String,
                                     vecCol: String, threshold: Double,
                                     centroids: DataFrame,
                                     nprobe: Int = 1): DataFrame = {
    val aCells = (if (nprobe == 1)
        Similarity.ivfAssignTable(df, idCol, vecCol, centroids)
      else Similarity.ivfProbeCellsTable(df, idCol, vecCol, centroids, nprobe))
      .withColumnRenamed(idCol, "id_a")
    val bCells = Similarity.ivfAssignTable(df, idCol, vecCol, centroids)
      .withColumnRenamed(idCol, "id_b")
    nearDupsFromCells(df, idCol, vecCol, threshold, aCells, bCells)
  }

  /** The shared cell-local pair join behind the table-mode and
    * two-level near-dup forms: payloads join their (id, `__cell`)
    * assignments back by id, pairs meet on `__cell`, exact cosine
    * filters, orientation normalizes. The a-side and b-side assignment
    * subtrees are plan-identical at nprobe 1, so Spark's exchange reuse
    * collapses them at runtime (ReusedExchange in the executed plan —
    * verified) — the expensive codebook fan-out runs once, not twice.
    */
  private def nearDupsFromCells(df: DataFrame, idCol: String,
                                vecCol: String, threshold: Double,
                                aCells: DataFrame,
                                bCells: DataFrame): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .withColumn("na", l2norm(col("va")))
      .join(aCells, Seq("id_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      .withColumn("nb", l2norm(col("vb")))
      .join(bCells, Seq("id_b"))
    a.join(b, Seq("__cell")).filter(col("id_a") =!= col("id_b"))
      .withColumn("cos",
        when(col("na") > 0 && col("nb") > 0,
          dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
      .distinct()
  }

  /** [[embeddingNearDupsBucketedTable]] through the TWO-LEVEL
    * (coarse → refine) assignment ([[Similarity.ivfAssignTwoLevel]]) —
    * the very-large-nlist form: assignment costs m + nlist/m cosines
    * per row instead of nlist (measured 37 s → sub-second argmax at
    * 100k × 16k, PERFNOTES "Round 15 — SemDeDup past the literal
    * codebook cap"). The cells are a DIFFERENT
    * (deterministic, oracle-replayable) partitioning than the flat
    * argmax's, which is fine for dedup — cells are a bucketing
    * heuristic; with m = 1 the partitioning (and so the pair set) is
    * exactly the flat table mode's.
    */
  def embeddingNearDupsBucketedTwoLevel(df: DataFrame, idCol: String,
                                        vecCol: String, threshold: Double,
                                        coarse: org.apache.spark.sql.Column,
                                        fine: DataFrame): DataFrame = {
    val aCells = Similarity.ivfAssignTwoLevel(df, idCol, vecCol, coarse, fine)
      .withColumnRenamed(idCol, "id_a")
    val bCells = Similarity.ivfAssignTwoLevel(df, idCol, vecCol, coarse, fine)
      .withColumnRenamed(idCol, "id_b")
    nearDupsFromCells(df, idCol, vecCol, threshold, aCells, bCells)
  }

  /** [[semDedup]] over a two-level codebook — keep the lowest id of
    * each cell-local near-dup set, cells from the coarse→refine
    * assignment. Unassigned rows (zero-norm, or a coarse group owning
    * no fine cells) always survive — the conservative direction.
    */
  def semDedupTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double,
                       coarse: org.apache.spark.sql.Column,
                       fine: DataFrame): DataFrame = {
    val drops = embeddingNearDupsBucketedTwoLevel(df, idCol, vecCol,
        threshold, coarse, fine)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** [[semDedup]] over a centroid TABLE — identical kept set to the
    * literal form at any nlist the literal could express, and the only
    * form past the literal cap.
    */
  def semDedupTable(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, centroids: DataFrame,
                    nprobe: Int = 1): DataFrame = {
    val drops = embeddingNearDupsBucketedTable(df, idCol, vecCol, threshold,
        centroids, nprobe)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** [[semDedupDistinct]] over a centroid TABLE: the same exact-twin
    * pre-collapse (one linear hash-agg; provably identical kept set),
    * with only DISTINCT vectors entering the cell-bounded quadratic.
    */
  private[llm] def semDedupDistinctTable(df: DataFrame, idCol: String,
                                         vecCol: String, threshold: Double,
                                         centroids: DataFrame,
                                         nprobe: Int = 1): DataFrame = {
    val nonzero = df.filter(l2norm(col(vecCol)) > 0)
    val zero = df.filter(!(l2norm(col(vecCol)) > 0))
    val reps = nonzero.groupBy(col(vecCol)).agg(min(col(idCol)).as(idCol))
    val keptReps = semDedupTable(reps, idCol, vecCol, threshold, centroids,
      nprobe)
    nonzero.join(keptReps.select(col(idCol)), Seq(idCol), "left_semi")
      .unionByName(zero)
  }

  // ------------------------------------------------------------------
  // Incremental (snapshot-over-archive) dedup
  // ------------------------------------------------------------------

  /** Archive digest index for incremental exact dedup: one row per
    * distinct content digest in the archive — 16 bytes/distinct-doc,
    * independent of payload size. Persist it (e.g.
    * `Sources.writeBucketed(_, _, _, n, Seq("content_hash"),
    * Seq("content_hash"))`) and every new snapshot dedups against ALL
    * prior snapshots without re-reading a single archived document —
    * the monthly-crawl pattern. Union each accepted snapshot's index in
    * afterwards to keep the archive current.
    *
    * Null text gets a sentinel digest (ADVICE r10): md5(null) is null,
    * and a null key never equals anything in a join — a null-text
    * archive row would otherwise silently vanish from the index and
    * null-text snapshot rows would bypass the archive screen. The
    * sentinel (not a coalesce of the TEXT to '') keeps null distinct
    * from the empty string, exactly matching [[exactGroups]]'s groupBy
    * semantics (nulls group together, '' is its own md5 group) — so the
    * archive ∪ snapshot equivalence the incremental spec pins holds
    * even on corpora containing both null and empty documents.
    */
  private val NullDigest = "__NULL_TEXT__" // non-hex: can't collide with an md5

  private def digestOf(textCol: String) =
    coalesce(md5(col(textCol)), lit(NullDigest))

  def digestIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(digestOf(textCol).as("content_hash")).distinct()

  /** Exact dedup of a NEW snapshot: rows whose digest exists in the
    * archive index drop (anti join on the 16-byte digest — the payload
    * never shuffles against the archive), then the within-snapshot
    * min-id dedup runs as usual. With archive ids ordered before
    * snapshot ids this equals running [[exactDedup]] over
    * archive ∪ snapshot and keeping the snapshot's survivors
    * (IncrementalDedupSpec pins the equivalence).
    */
  def exactDedupAgainst(df: DataFrame, idCol: String, textCol: String,
                        index: DataFrame): DataFrame =
    exactDedup(
      df.join(index,
        digestOf(textCol) === index("content_hash"), "left_anti"),
      idCol, textCol)

  /** Id-carrying archive band index: distinct (band, band_key,
    * archive_id) rows, so a collision resolves to WHICH archived
    * documents to verify against, not just that one exists. Still
    * signature-scale (ids ride along, never payload).
    */
  def bandIndexWithIds(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    minhashSignatures(df, idCol, textCol, NumHashes, ShingleSize)
      .select(col(idCol).as("archive_id"),
        posexplode(lshBandKeys(col("sig"), Bands, NumHashes / Bands))
          .as(Seq("band", "band_key")))
      .distinct()

  /** The EXACT-verify batch job over band collisions (membership
    * alone would treat any collision as a duplicate; this is the
    * false-positive-free form). A
    * snapshot document drops iff exact shingle-set Jaccard against some
    * band-colliding archive partner clears `jaccardThreshold`; screen
    * false positives (collision but low Jaccard) are recovered.
    *
    * Scale shape — measured in round 11 (PERFNOTES "Incremental
    * near-dup: the exact-verify batch, implemented and measured"): candidate
    * pairs come from the snapshot's band keys joined to the id-carrying
    * index (signature-scale); the archive PAYLOAD (`archiveText`) is
    * touched only through a semi join on the candidates' archive ids —
    * the collision subset — and only those documents are re-shingled.
    * Both sides' shingle sets are built once per involved document
    * (the [[nearDedup]] candidate-subset pattern), and the verify join
    * moves |candidate pairs| rows.
    */
  def nearDupVerifyAgainst(df: DataFrame, idCol: String, textCol: String,
                           index: DataFrame, archiveText: DataFrame,
                           archiveIdCol: String, archiveTextCol: String,
                           jaccardThreshold: Double = 0.8): DataFrame = {
    val candidates = minhashSignatures(df, idCol, textCol, NumHashes,
        ShingleSize)
      .select(col(idCol),
        posexplode(lshBandKeys(col("sig"), Bands, NumHashes / Bands))
          .as(Seq("band", "band_key")))
      .join(index, Seq("band", "band_key"))
      .select(col(idCol), col("archive_id")).distinct()
    def sh(c: Column) = shingleHashes(c, ShingleSize)
    val snapSets = df
      .join(candidates.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol), array_distinct(sh(col(textCol))).as("__sa"))
    val archSets = archiveText
      .join(candidates.select(col("archive_id").as(archiveIdCol)).distinct(),
        Seq(archiveIdCol), "left_semi")
      .select(col(archiveIdCol).as("archive_id"),
        array_distinct(sh(col(archiveTextCol))).as("__sb"))
    val dropped = candidates
      .join(snapSets, Seq(idCol))
      .join(archSets, Seq("archive_id"))
      .filter(jaccardBySets(col("__sa"), col("__sb")) >= jaccardThreshold)
      .select(col(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }
}
