package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch corpus curation — the composed chain a pretraining-data run
  * executes, as ONE lazy DataFrame (the batch analogue of
  * [[graft.streaming.StreamingCuration.curateStream]]):
  *
  *   1. quality gate ([[TextFunctions.qualityScore]] >= minQuality),
  *      scored on the raw text;
  *   2. PII redaction ([[TextFunctions.redactPii]]) — BEFORE any dedup,
  *      so documents identical up to contact details collapse in step 3;
  *   3. exact dedup on the redacted text (keep lowest id,
  *      [[Dedup.exactDedup]]);
  *   4. MinHash/LSH near-dedup of the survivors
  *      ([[Dedup.nearDedup]]: banded candidates -> exact shingle-set
  *      Jaccard verify -> connected components -> keep cluster minima).
  *
  * Output: the kept rows, `textCol` redacted, plus a `quality` column.
  *
  * Scale shape is the sum of its parts, each individually audited
  * (PERFNOTES): the gate and redaction are map-only; exact dedup
  * shuffles digests; near-dedup is banded and verifies candidates only.
  *
  * Lineage cut: near-dedup consumes its input three times (candidate
  * generation, shingle-set build, the final anti-join), and because
  * each consumer prunes different columns, Catalyst plans three
  * DIFFERENT exchanges — exchange reuse
  * never fires, so without a cut the full corpus scan + quality gate +
  * 3-regex redaction + exact-dedup shuffle all execute once PER
  * CONSUMER (measured: 6 scans, 18 regex sites, 0 reused exchanges in
  * the final AQE plan). The cut materializes the gated/redacted/
  * exact-deduped survivors ONCE (same trade [[graft.etd.Pipeline.run]]
  * makes for the 13-column impute, see PERFNOTES) — that repeated map
  * work is what grows with corpus size at 100 TB.
  */
object Curation {

  /** `keepBestQuality = true` switches the near-dedup keep rule from
    * lowest-id to highest-quality-score (id tie-break) — each cluster
    * keeps its best-written member. The default stays lowest-id, the
    * deterministic rule `q_curation_e2e` pins.
    *
    * Banding recall note (r16): the chain uses [[Dedup.nearDedup]]'s
    * fixed 16-hash/4-band signature — exactly the `lshPlan(0.8, 16)`
    * S-curve, pinned so the DuckDB oracles replay it. At LOW
    * `jaccardThreshold` that banding under-generates candidates (a
    * true pair at s = 0.2 is found with p ≈ 0.006 vs 0.97 under the
    * planned (16, 1)); production runs targeting loose thresholds
    * should band per [[Dedup.lshPlan]] instead, accepting that the kept
    * set is then banding-dependent and not replayed by the fixed-band
    * oracles.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             minQuality: Double = 0.25,
             jaccardThreshold: Double = 0.8,
             keepBestQuality: Boolean = false): DataFrame = {
    val gated = docs
      .withColumn("__q", TextFunctions.qualityScore(col(textCol)))
      .filter(col("__q") >= minQuality)
      .withColumn(textCol, TextFunctions.redactPii(col(textCol)))
    // lazy cut: materializes on the first action, not at plan build.
    // Its blocks outlive this call by design (the result references
    // them); the CALLER frees them with Checkpoints.free(result) once
    // the result's actions have run (harnesses: Checkpoints.sweep).
    val exact = Dedup.exactDedup(gated, idCol, textCol)
      .localCheckpoint(eager = false)
    Dedup.nearDedup(exact, idCol, textCol, jaccardThreshold,
        priority = if (keepBestQuality) Some(col("__q")) else None)
      .withColumnRenamed("__q", "quality")
  }

  /** The DROP LEDGER for the same chain: one row per INPUT document with
    * the stage that eliminated it — `stage` ∈ `kept` / `gate` (quality
    * below `minQuality`) / `exact_dup` (an identical redacted text with
    * a lower id exists) / `near_dup` (clustered under a lower-id
    * near-duplicate) — plus its quality score. `kept` rows are exactly
    * [[curate]]'s output ids (spec-pinned), so this is the audit twin,
    * not a second semantics: at 100 TB the thing a curation run needs
    * beyond the survivors is per-stage drop attribution (drop-rate by
    * stage × source is the dashboard that catches a filter regression
    * before a training run does), and a ledger the driver can
    * hash-check is the difference between "the chain ran" and "the
    * chain dropped each document for the stated reason".
    *
    * Cost over [[curate]]: the chain itself plus two id-only left joins
    * (the exact-kept and final-kept id sets back onto the scored
    * input) — id-width shuffles, nothing document-sized. Same lineage
    * cut and caller-frees contract as [[curate]].
    */
  def curateAudit(docs: DataFrame, idCol: String, textCol: String,
                  minQuality: Double = 0.25,
                  jaccardThreshold: Double = 0.8): DataFrame = {
    val scored = docs
      .withColumn("__q", TextFunctions.qualityScore(col(textCol)))
    val gated = scored.filter(col("__q") >= minQuality)
      .withColumn(textCol, TextFunctions.redactPii(col(textCol)))
    val exact = Dedup.exactDedup(gated, idCol, textCol)
      .localCheckpoint(eager = false)
    val kept = Dedup.nearDedup(exact, idCol, textCol, jaccardThreshold)
    scored.select(col(idCol), col("__q").as("quality"))
      .join(exact.select(col(idCol), lit(1).as("__ex")), Seq(idCol), "left")
      .join(kept.select(col(idCol), lit(1).as("__kp")), Seq(idCol), "left")
      .select(col(idCol),
        when(col("quality") < minQuality, "gate")
          .when(col("__ex").isNull, "exact_dup")
          .when(col("__kp").isNull, "near_dup")
          .otherwise("kept").as("stage"),
        col("quality"))
  }

  /** [[curateAudit]] plus the SPLIT KEY each document's train/val/test
    * assignment must ride (r17, VERDICT r16 next #3): output gains
    * `split_key` — for `kept` rows, the connected-component label of
    * the document's LSH CANDIDATE cluster (its own id when no
    * candidate pairs it); null for dropped rows. Keying splits on the
    * CANDIDATE clusters rather than the verified ones is deliberate
    * twice over ([[graft.queries.QueriesLLM.q_split_leakage_safe]]'s
    * argument): candidates ⊇ verified, so over-grouping only makes
    * splits MORE leak-proof; and after near-dedup every kept document
    * is its verified cluster's own minimum — verified-keyed splits
    * would degenerate to document-keyed exactly where leakage-safety
    * matters (two kept docs that are near-ish duplicates below the
    * dedup threshold must still land in one split).
    *
    * `stage`/`quality` are bit-identical to [[curateAudit]] (the keep
    * semantics come from the same verified-pair clustering); the
    * additions are one lazy cut on the candidate frame (three
    * consumers: verify, split clusters, nothing else re-runs the
    * banding) and one id-grain CC over the candidates.
    */
  def curateAuditKeyed(docs: DataFrame, idCol: String, textCol: String,
                       minQuality: Double = 0.25,
                       jaccardThreshold: Double = 0.8): DataFrame = {
    val scored = docs
      .withColumn("__q", TextFunctions.qualityScore(col(textCol)))
    val gated = scored.filter(col("__q") >= minQuality)
      .withColumn(textCol, TextFunctions.redactPii(col(textCol)))
    val exact = Dedup.exactDedup(gated, idCol, textCol)
      .localCheckpoint(eager = false)
    val cands = Dedup.lshCandidatePairs(exact, idCol, textCol)
      .localCheckpoint(eager = false)
    val verified = Dedup.verifyCandidates(exact, idCol, textCol, cands,
      jaccardThreshold)
    // near-dup drop set: the same CC + min-id rule nearDedupKeep applies
    val drops = Dedup.clusterPairs(verified)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol), lit(1).as("__nd"))
    val splitClusters = Dedup.clusterPairs(cands)
      .select(col("id").as(idCol), col("cluster_id").as("__ck"))
    scored.select(col(idCol), col("__q").as("quality"))
      .join(exact.select(col(idCol), lit(1).as("__ex")), Seq(idCol), "left")
      .join(drops, Seq(idCol), "left")
      .join(splitClusters, Seq(idCol), "left")
      .withColumn("stage",
        when(col("quality") < minQuality, "gate")
          .when(col("__ex").isNull, "exact_dup")
          .when(col("__nd").isNotNull, "near_dup")
          .otherwise("kept"))
      .select(col(idCol), col("stage"), col("quality"),
        when(col("stage") === "kept",
          coalesce(col("__ck"), col(idCol))).as("split_key"))
  }

  /** Per-group quality reputation under m-estimate smoothing (Cestnik,
    * ECAI 1990) — the domain/source-level curation prior: a group seen
    * only a handful of times should sit near the corpus mean, not swing
    * to "great" or "garbage" on its few samples;
    * `smoothed = (sum_g + m·prior) / (n_g + m)` with `prior` the corpus
    * mean and `m` the pseudo-count weight converges to the group mean
    * as n_g grows. One row per group: `n_group`, `group_mean`, `prior`,
    * `smoothed_quality` — broadcast-join it back per document for gates
    * that mix a document's own score with its group's reputation.
    *
    * Arithmetic is the engine-portable contract ([[graft.etd
    * .Aggregates.exactMean]]'s): `qualityCol` is a rounded-at-
    * definition artifact, so the DECIMAL sums are exact and order-
    * independent; the exact sums cast to double (identical everywhere)
    * before double division; every output floor-rounds at 1e-6.
    *
    * Null contract (ADVICE r15): rows with a NULL `qualityCol` are
    * EXCLUDED from the statistic entirely — `n_group`/`__n_all` count
    * with `count(qualityCol)`, matching the null-skipping `sum`, so an
    * unscored row neither deflates its group's mean (as a phantom 0)
    * nor adds pseudo-count mass. A group whose every row is unscored
    * keeps its row (n_group = 0, group_mean null, smoothed = prior).
    *
    * Scale shape: one hash-agg on the group key (map-side combined —
    * the group table is domain-cardinality, tiny next to the corpus)
    * plus a 1-row corpus aggregate broadcast into it; the documents
    * themselves shuffle zero times, here and in the join-back.
    */
  def groupQualityPrior(docs: DataFrame, groupCol: String,
                        qualityCol: String, m: Double): DataFrame = {
    val r6 = TextFunctions.round6 _
    val q = col(qualityCol).cast("decimal(28,12)")
    val corpus = docs.agg(sum(q).as("__sum_all"), count(q).as("__n_all"))
    docs.groupBy(col(groupCol))
      .agg(count(q).as("n_group"), sum(q).as("__sum_g"))
      .crossJoin(broadcast(corpus))
      .withColumn("prior", r6(col("__sum_all").cast("double") / col("__n_all")))
      .withColumn("group_mean",
        r6(col("__sum_g").cast("double") / col("n_group")))
      .withColumn("smoothed_quality",
        r6((coalesce(col("__sum_g"), lit(0)).cast("double") +
            lit(m) * col("prior")) /
          (col("n_group") + lit(m))))
      .select(groupCol, "n_group", "group_mean", "prior", "smoothed_quality")
  }

  /** Token-exact blocklist gate (the UT1/"bad words" filter every
    * curation stack runs ahead of model-based quality): per document,
    * the number of token occurrences that hit `terms` plus the sorted
    * distinct hit list, and `keep = n_blocked <= maxHits`.
    *
    * Shape: explode tokens → inner-join the term table → one doc-grain
    * agg → id-only join back onto the corpus. RELATIONAL ON PURPOSE —
    * a regex alternation over N terms rebuilds the automaton per row
    * and stops scaling past a few hundred terms, while a join takes a
    * million-term list (UT1 URL lists) unchanged: Spark broadcasts it
    * while it fits and falls back to a shuffle join when it doesn't,
    * and only MATCHING (doc, term) pairs ever reach the aggregation,
    * so the join-back is id-width. Matching is exact on whitespace
    * tokens, lowercased; substring/normalized variants belong to the
    * fuzzy-join machinery ([[graft.ops.FuzzyJoin]]).
    */
  def blocklistGate(docs: DataFrame, idCol: String, textCol: String,
                    terms: DataFrame, termCol: String,
                    maxHits: Long = 0L): DataFrame = {
    val t = terms.select(lower(col(termCol)).as("__term")).distinct()
    val hits = docs
      .select(col(idCol), explode(TextFunctions.tokens(lower(col(textCol))))
        .as("__tok"))
      .join(t, col("__tok") === col("__term"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocked"),
        array_sort(collect_set(col("__term"))).as("blocked_terms"))
    docs.join(hits, Seq(idCol), "left")
      .withColumn("n_blocked", coalesce(col("n_blocked"), lit(0L)))
      .withColumn("blocked_terms",
        coalesce(col("blocked_terms"), array().cast("array<string>")))
      .withColumn("keep", col("n_blocked") <= maxHits)
  }
}
