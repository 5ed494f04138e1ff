package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextFunctions.hash64

/** Token-budget sequence packing — the corpus-assembly step between
  * curation and training: concatenate documents in a deterministic order
  * and chunk the stream into fixed-budget training sequences, assigning
  * each document its (sequence id, token offset).
  *
  * This is the standard concat-then-chunk packing (documents may straddle
  * a sequence boundary; the trainer splits on the recorded offset), not
  * bin packing — assignment is a pure prefix-sum, so it distributes.
  *
  * Scale shape: a GLOBAL pack order would serialize through one
  * partition, so the corpus is sharded by a content-stable hash of the id
  * and packed independently per shard — each shard's prefix sum is a
  * windowed cumsum over its own partition, and shards scale with the
  * cluster. Deterministic: same corpus -> same shards -> same sequences,
  * on any cluster size or partitioning.
  */
object Packing {

  /** Assign (shard, seq_id, seq_offset) per document: shard = hash(id) mod
    * `shards`; within a shard, documents pack in id order; seq_id/seq_offset
    * locate the document's first token in the chunked token stream of its
    * shard. `tokenCol` is the document's token count.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0)
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("shard", pmod(hash64(col(idCol).cast("string")), lit(shards.toLong)))
      .withColumn("__cum", sum(col(tokenCol).cast("long")).over(w))
      .withColumn("__before", col("__cum") - col(tokenCol).cast("long"))
      .withColumn("seq_id", expr(s"__before div $budget"))
      .withColumn("seq_offset", pmod(col("__before"), lit(budget)))
      .drop("__cum", "__before")
  }

  /** No-straddle bin packing, next-fit discipline: each document lands
    * whole in exactly one bin of capacity `budget` (trainers that cannot
    * split a document across sequences pad the bin tail). Documents
    * shard by a content-stable id hash, order (length desc, id) within
    * a shard, and fill ONE open bin — a document that does not fit
    * closes the bin and opens the next. The assignment is a pure left
    * fold over the ordered stream, which makes it the
    * CROSS-ENGINE-CHECKABLE packer: an independent sequential replay
    * (the driver's DuckDB recursive CTE) must reproduce every (doc,
    * shard, bin) exactly. Shard-parallel (the hash repartition keeps
    * each shard whole inside one partition; the local sort makes shards
    * contiguous), O(1) state, one local sort. Documents longer than
    * `budget` are rejected (truncate or chunk upstream — silently
    * overflowing a bin would corrupt the training shape).
    *
    * Output: input columns + (shard, bin_id) with bin_id shard-local.
    */
  def packBinsNextFit(df: DataFrame, idCol: String, tokenCol: String,
                      budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0)
    val sharded = df
      .withColumn("shard", pmod(hash64(col(idCol).cast("string")), lit(shards.toLong)))
      .withColumn("__len", col(tokenCol).cast("long"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__len").desc, col(idCol))
    val outSchema = org.apache.spark.sql.types.StructType(
      sharded.schema.fields.toSeq :+ org.apache.spark.sql.types.StructField(
        "bin_id", org.apache.spark.sql.types.LongType, nullable = false))
    val shardIdx = sharded.schema.fieldIndex("shard")
    val lenIdx = sharded.schema.fieldIndex("__len")
    val packed = sharded.mapPartitions { it =>
      var curShard = Long.MinValue
      var bin = -1L // -1 = no open bin yet
      var fill = 0L
      it.map { row =>
        val shard = row.getLong(shardIdx)
        if (shard != curShard) {
          curShard = shard; bin = -1L; fill = 0L
        }
        val len = row.getLong(lenIdx)
        require(len <= budget,
          s"packBinsNextFit: document of $len tokens exceeds budget $budget")
        if (bin >= 0 && fill + len <= budget) fill += len
        else { bin += 1; fill = len }
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ bin)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    packed.drop("__len")
  }

  /** Overlapping token-window chunking — the within-document counterpart
    * of [[packSequences]] (RAG passage extraction, long-doc context
    * windows): each document splits into windows of `size` whitespace
    * tokens starting every `stride` tokens, each chunk re-joined with
    * single spaces. The final window may be shorter (never empty); a
    * document shorter than `size` yields exactly one chunk; stride <
    * size gives overlap. Map-only + one explode — chunk starts enumerate
    * with `sequence`, windows slice the token array, nothing shuffles
    * (chunk counts grow the row count, not the plan).
    *
    * Output: the input row (minus `textCol`) + chunk_idx (0-based),
    * chunk_text, n_chunk_tokens.
    */
  def chunkTokenWindows(df: DataFrame, idCol: String, textCol: String,
                        size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, s"size/stride must be positive")
    val arrSize = org.apache.spark.sql.functions.size _
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val n = arrSize(toks)
    // last window start: the largest multiple of stride < n (so a short
    // tail still chunks); a doc with no tokens yields no rows
    val starts = when(n > 0,
      sequence(lit(0), greatest(
        (ceil((n - size).cast("double") / stride) * stride).cast("int"),
        lit(0)), lit(stride)))
    df
      .withColumn("__toks", toks)
      .select(col("*"), posexplode(starts).as(Seq("chunk_idx", "__start")))
      .withColumn("chunk_text",
        array_join(slice(col("__toks"), col("__start") + 1, lit(size)), " "))
      .withColumn("n_chunk_tokens",
        least(arrSize(col("__toks")) - col("__start"), lit(size)).cast("long"))
      .drop("__toks", "__start", textCol)
  }

  /** Per-(document × sequence) OCCUPANCY manifest over
    * [[packSequences]]' layout — what a trainer actually consumes when
    * documents straddle sequence boundaries (loss masks, attention
    * resets, "which docs does sequence s contain"): one row per
    * sequence a document occupies, with the in-sequence start offset
    * and the token count landing there. A document at global shard
    * position `bef` with `n` tokens occupies sequences
    * `bef div B .. (bef+n−1) div B`; in sequence `s` it starts at
    * `max(bef, s·B) − s·B` and carries
    * `min(bef+n, (s+1)·B) − max(bef, s·B)` tokens. Zero-token
    * documents occupy no sequence (they have a [[packSequences]]
    * coordinate but no mass — emitting a zero-count row would corrupt
    * mask construction). Map-side from the pack assignment (bef is
    * recomputed as seq_id·B + seq_offset; the straddle explode emits
    * ≤ ⌈n/B⌉+1 rows per doc) — no extra shuffle beyond
    * [[packSequences]]' own window.
    *
    * Output: idCol, `shard`, `seq_id`, `seq_start` (offset of the
    * doc's first token IN this sequence), `n_in_seq`.
    */
  def sequenceManifest(df: DataFrame, idCol: String, tokenCol: String,
                       budget: Long, shards: Int): DataFrame =
    manifestFromPacked(
        packSequences(df, idCol, tokenCol, budget, shards), tokenCol, budget)
      .select(col(idCol), col("shard"), col("seq_id"),
        col("seq_start"), col("n_in_seq"))

  /** [[sequenceManifest]]'s straddle decomposition over an EXISTING
    * [[packSequences]] output (r17): a composition that already holds
    * the packed frame (the training-data flagship cuts it once and
    * derives both the packed rows and the manifest) must not re-run the
    * pack windows. Input requires (`shard`, `seq_id`, `seq_offset`,
    * `tokenCol`); output keeps every OTHER input column and replaces
    * (`seq_id`, `seq_offset`, `tokenCol`) with the per-sequence
    * (`seq_id`, `seq_start`, `n_in_seq`) rows. Map-side only.
    */
  def manifestFromPacked(packed: DataFrame, tokenCol: String,
                         budget: Long): DataFrame = {
    val n = col(tokenCol).cast("long")
    val bef = col("seq_id") * budget + col("seq_offset")
    val firstSeq = col("seq_id")
    // integer division (Column `/` is double): exact below 2^53 — the
    // same contract packSequences' `div` expression carries
    val lastSeq = floor((bef + n - 1) / budget).cast("long")
    val carried = packed.columns
      .filterNot(Set("seq_id", "seq_offset", tokenCol)).map(col)
    packed
      .filter(n > 0)
      .select(carried ++ Seq(n.as("__n"), bef.as("__bef"),
        explode(sequence(firstSeq, lastSeq)).as("seq_id")): _*)
      .withColumn("__seqbase", col("seq_id") * budget)
      .withColumn("seq_start",
        greatest(col("__bef"), col("__seqbase")) - col("__seqbase"))
      .withColumn("n_in_seq",
        least(col("__bef") + col("__n"), col("__seqbase") + budget) -
          greatest(col("__bef"), col("__seqbase")))
      .drop("__n", "__bef", "__seqbase")
  }
}
