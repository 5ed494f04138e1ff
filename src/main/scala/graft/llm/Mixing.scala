package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus ordering and mixture planning — the two operations that sit
  * between a curated corpus and a training run.
  *
  * Reference scope note: the reference pipeline (etdtransform) ends at
  * analysis tables; these operators are part of the beyond-reference
  * training-data surface (SURVEY.md §2.12), built on the repo's
  * engine-portable hash convention ([[TextFunctions.hash64]] — md5
  * prefix/suffix bits, so every decision is reproducible in ANY engine,
  * not just a Spark version with matching murmur internals).
  *
  * Scale shape: everything here is map-side expressions plus at most
  * one aggregation keyed by source — at 100 TB the shard assignment
  * rides the curation pipeline's existing pass, and the plan
  * aggregation moves one row per (source, mapper).
  */
object Mixing {

  /** Deterministic global shuffle + sharding for training
    * reproducibility: every document gets a `shard` (stable hash-bucket
    * — the training-file grain) and a `shuffle_order` (an INDEPENDENT
    * hash stream — the read order within a shard). Two properties
    * training infra needs and ad-hoc `orderBy(rand())` loses:
    * re-running the pipeline yields byte-identical shard files, and a
    * document's position depends only on (id, salt) — adding documents
    * never reorders the survivors within their shards. Changing `salt`
    * is a fresh permutation (new training run, new order).
    *
    * Map-only: two native hash expressions, no shuffle here. A sink
    * that materializes training files repartitions by `shard` and sorts
    * within partitions by (`shuffle_order`, id) — ONE exchange for the
    * whole corpus.
    */
  def shuffleKeys(df: DataFrame, idCol: String, nShards: Int,
                  salt: String = "shuffle"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    val keyed = concat(col(idCol).cast("string"), lit(salt))
    df.withColumn("shard", pmod(TextFunctions.hash64(keyed), lit(nShards.toLong)))
      .withColumn("shuffle_order", TextFunctions.hash64b(keyed))
  }

  /** Token-budget mixture plan (the Pile/Llama-recipe step): given
    * per-source mixture `weights` and a total token `budget`, compute
    * how many EPOCHS of each source the training run reads, capped at
    * `maxEpochs` (repeating a small source past a few epochs degrades
    * models faster than dropping the tokens — the cap is the knob).
    * One aggregation over the corpus: per source, document and token
    * totals; then pure arithmetic:
    *
    *   target_s  = weight_s / Σweights * budget
    *   epochs_s  = min(maxEpochs, target_s / tokens_s)
    *   planned_s = epochs_s * tokens_s
    *
    * Sources missing from `weights` get weight 0 (excluded — the
    * curation decision already happened); the output reports the
    * shortfall per capped source so the caller sees exactly where the
    * budget went unfilled. Doubles are round6'd (the repo's oracle
    * convention); token sums are decimal-exact.
    */
  def mixturePlan(df: DataFrame, sourceCol: String, tokensCol: String,
                  weights: Map[String, Double], budget: Double,
                  maxEpochs: Double = 4.0): DataFrame = {
    require(weights.nonEmpty, "mixturePlan: weights must be non-empty")
    require(budget > 0 && maxEpochs > 0, "budget and maxEpochs must be > 0")
    // Σweights through DECIMAL-18 arithmetic, not an IEEE fold: a Map's
    // iteration order is not deterministic across Scala collection
    // sizes, and an order-dependent ulp in the normalizer would leak
    // into every round6 boundary. This is the same sum DuckDB computes
    // for sum(w::DECIMAL(38,18))::DOUBLE, which is what lets the
    // TEMPERED composition ([[temperatureWeights]] → here) replay the
    // normalizer cross-engine (r19).
    val totalW = weights.values
      .map(v => new java.math.BigDecimal(v)
        .setScale(18, java.math.RoundingMode.HALF_EVEN))
      .reduce(_ add _).doubleValue()
    val weightExpr = coalesce(
      element_at(
        map(weights.toSeq.sortBy(_._1).flatMap { case (k, w) =>
          Seq(lit(k), lit(w)) }: _*),
        col(sourceCol)),
      lit(0.0))
    df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("decimal(28,0)")).cast("double")
          .as("total_tokens"))
      // round6: Σweights in driver-side fp (0.4+0.3+0.2+0.1 != 1.0) must
      // not leak last-ulp noise into the oracle-compared plan
      .withColumn("weight", TextFunctions.round6(weightExpr / lit(totalW)))
      .withColumn("target_tokens",
        TextFunctions.round6(col("weight") * lit(budget)))
      .withColumn("epochs",
        TextFunctions.round6(
          least(lit(maxEpochs),
            when(col("total_tokens") > 0,
              col("target_tokens") / col("total_tokens")).otherwise(lit(0.0)))))
      .withColumn("planned_tokens",
        TextFunctions.round6(col("epochs") * col("total_tokens")))
      .withColumn("shortfall_tokens",
        TextFunctions.round6(col("target_tokens") - col("planned_tokens")))
  }

  /** TEMPERATURE-scaled mixture weights from the corpus itself (the
    * multilingual/data-recipe standard: mBERT/XLM-R exponentiated
    * sampling) — per source, w_s ∝ p_s^(1/T) where p_s is the source's
    * token share. T = 1 reproduces natural proportions; T → ∞ flattens
    * toward uniform — the knob that keeps low-resource sources from
    * vanishing without hand-written weights. Output: (source,
    * total_tokens, share, weight), weights normalized to 1 on the
    * round6 grid; feed `weight` straight into [[mixturePlan]] (it
    * re-normalizes, so the round6 grid is harmless).
    *
    * Portability discipline: token sums are decimal-exact; `share` is
    * round6'd BEFORE the power so both engines exponentiate the
    * identical double; the libm `pow` output lands on the round9 grid
    * (the round9(ln) convention); the normalizing sum is decimal. One
    * corpus aggregation; everything after is source-cardinality with
    * two one-row broadcasts.
    */
  def temperatureWeights(df: DataFrame, sourceCol: String,
                         tokensCol: String,
                         temperature: Double): DataFrame = {
    require(temperature > 0.0,
      "temperatureWeights: temperature must be > 0")
    val inv = 1.0 / temperature
    // materialized BEFORE the guard aggregate (ADVICE r19): the
    // driver-side grand-total collect and the returned plan both
    // consume `perSource`, so an un-cut subtree would aggregate the
    // full corpus twice. Source-cardinality rows — the checkpoint is
    // a handful of blocks; the caller/harness sweeps them (the
    // lazily-checkpointed-result ownership rule in graft.Checkpoints).
    val perSource = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(col(tokensCol).cast("decimal(28,0)")).cast("double")
        .as("total_tokens"))
      .localCheckpoint()
    // loud-failure guard (ADVICE r18, the Apportion/Hits discipline):
    // a negative per-source total makes share negative and
    // pow(share, 1/T) NaN, which would silently poison the normalizing
    // sum and every weight. Same one-row aggregate the broadcast
    // carried, resolved on the driver; lit(tot) is the identical double.
    val grandRow = perSource.agg(
      coalesce(sum(col("total_tokens").cast("decimal(38,6)"))
        .cast("double"), lit(0.0)),
      coalesce(min(col("total_tokens")), lit(0.0))).collect().head
    val (tot, mn) = (grandRow.getDouble(0), grandRow.getDouble(1))
    require(mn >= 0.0,
      s"temperatureWeights: per-source token totals must be >= 0 " +
        s"(min $mn) — a negative share would exponentiate to NaN")
    require(tot > 0.0,
      s"temperatureWeights: corpus token total must be > 0 (got $tot)")
    val scaled = perSource
      .withColumn("share",
        TextFunctions.round6(col("total_tokens") / lit(tot)))
      .withColumn("__tw",
        TextFunctions.round9(pow(col("share"), lit(inv))))
    val wsum = scaled.agg(
      sum(col("__tw").cast("decimal(38,18)")).cast("double").as("__ws"))
    scaled.crossJoin(broadcast(wsum))
      .select(col("source"), col("total_tokens"), col("share"),
        TextFunctions.round6(col("__tw") / col("__ws")).as("weight"))
  }

  /** Expand a corpus to its planned epochs WITHOUT a shuffle: each
    * document emits floor(epochs_s) full copies plus one more iff its
    * hash falls under the fractional remainder — so the expanded corpus
    * hits `planned_tokens` in expectation with deterministic,
    * engine-portable membership (same convention as
    * [[TextFunctions.stratifiedSamplePredicate]]). `epoch` (0-based)
    * rides along so downstream shuffling can salt per epoch — repeats
    * of a document land at different shuffle positions.
    *
    * posexplode over a per-row sequence: map-side, no join against the
    * plan (the per-source epoch map ships as a literal — plans are a
    * handful of sources, never data-scale).
    */
  def mixtureExpand(df: DataFrame, idCol: String, sourceCol: String,
                    epochsBySource: Map[String, Double]): DataFrame = {
    epochsBySource.values.foreach(e =>
      require(e >= 0, s"epochs must be >= 0: $e"))
    val epochExpr = coalesce(
      element_at(
        map(epochsBySource.toSeq.sortBy(_._1).flatMap { case (k, e) =>
          // micro-epoch integers: exact fractional comparison, no fp
          Seq(lit(k), lit(math.round(e * 1000000))) }: _*),
        col(sourceCol)),
      lit(0L))
    val fullCopies = (epochExpr / lit(1000000L)).cast("long")
    val fracMicro = epochExpr % lit(1000000L)
    // fractional-tail membership is PER-DOCUMENT (hash of id + "mix") —
    // hashing the source would flip whole sources at once
    val keep = pmod(
      TextFunctions.hash64(concat(col(idCol).cast("string"), lit("mix"))),
      lit(1000000L)) < fracMicro
    df.withColumn("__copies",
        fullCopies + when(keep, lit(1L)).otherwise(lit(0L)))
      .filter(col("__copies") > 0)
      .select(col("*"),
        posexplode(sequence(lit(0L), col("__copies") - 1)).as(Seq("epoch", "__e")))
      .drop("__e", "__copies")
  }
}
