package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.llm.Dedup

/** Streaming near-duplicate candidate generation: MinHash + LSH banding
  * over a live document stream, with per-bucket state.
  *
  * Batch/stream parity: signatures and band keys use the SAME portable
  * formulas as the batch path ([[Dedup.minhashSignatures]] /
  * [[Dedup.lshBandKeys]] — md5 60-bit shingle hashes, seeded universal
  * hashes, md5 band keys), so a pair the stream flags is exactly a pair
  * the batch LSH would flag. The per-document signature is map-only,
  * computed in a typed map with ONE fused shingle pass (see
  * [[bandedStream]]); the only shuffle is the groupByKey on (band, band
  * key), the same key the batch bucket groupBy uses.
  *
  * State per bucket is the member id list, capped at 1000 members (a
  * capped bucket's members are already exact-dup candidates by band
  * collision — same policy as the batch path). Each arriving document
  * emits pairs against the bucket's existing members only, so output is
  * incremental and never all-pairs. [[candidatePairs]] bounds state by
  * the run scope (like a batch job's); long-running deployments use
  * [[candidatePairsExpiring]], whose event-time TTL evicts buckets the
  * watermark has passed — total state is then buckets-in-horizon x
  * 1000 ids, independent of stream lifetime.
  */
object StreamingNearDup {

  case class BandedDoc(bucket: String, docId: Long)
  case class BucketState(ids: List[Long])

  /** Members a bucket keeps before it stops pairing new documents. */
  private val MaxBucket = 1000
  case class CandidatePair(idA: Long, idB: Long)

  /** (bucket, doc) stream: signature -> band keys, exploded.
    *
    * Computed in a TYPED map (pure JVM, one fused shingle pass per
    * document) rather than nested Catalyst HOFs: a withColumn-bound hash
    * array referenced once collapses back into the signature expression
    * (CollapseProject counts a lambda-bound alias as one use), and lambda
    * bodies get no common-subexpression elimination — the tokenize/md5
    * pass would re-run once per seed, the exact 16x blowup
    * measured at sf0.1 on the lambda formulation. The arithmetic is the
    * SAME portable formulas (md5-60-bit shingle hash, seeded universal
    * hashes, md5 band keys), so stream pairs == batch pairs
    * (StreamingNearDupSpec pins it).
    */
  def bandedStream(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    // the batch path's fixed plan: word 3-grams, 16 hashes in 4 bands
    val (numHashes, bands, shingleSize) = (16, 4, 3)
    val rowsPerBand = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        val hsRaw = org.apache.spark.sql.graft.Md5Util.shingleHashes(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            if (text == null) "" else text), shingleSize).toLongArray
        val sig = Array.tabulate(numHashes) { i =>
          if (hsRaw.isEmpty) Dedup.lshPrime
          else {
            var best = Long.MaxValue
            var j = 0
            while (j < hsRaw.length) {
              val h = java.lang.Math.floorMod(hsRaw(j), Dedup.lshPrime)
              val v = java.lang.Math.floorMod(
                Dedup.seedA(i) * h + Dedup.seedB(i), Dedup.lshPrime)
              if (v < best) best = v
              j += 1
            }
            best
          }
        }
        val md = java.security.MessageDigest.getInstance("MD5")
        (0 until bands).map { b =>
          val joined = sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
            .mkString("_")
          md.reset()
          val key = md.digest(joined.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (s"$b|$key", id)
        }
      }
      .toDF("bucket", "docId")
  }

  /** Candidate pairs as they become known: each new document pairs with
    * the bucket's previous members (dedup of repeated pairs across bands
    * belongs to the downstream sink/compaction, as in the batch path's
    * final distinct).
    */
  def candidatePairs(banded: Dataset[BandedDoc]): Dataset[CandidatePair] = {
    implicit val pairEnc = Encoders.product[CandidatePair]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val keyEnc = Encoders.STRING
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          var ids = state.getOption.map(_.ids).getOrElse(Nil)
          val out = Seq.newBuilder[CandidatePair]
          rows.toSeq.sortBy(_.docId).foreach { r =>
            if (!ids.contains(r.docId) && ids.size < MaxBucket) {
              ids.foreach { seen =>
                out += (if (seen < r.docId) CandidatePair(seen, r.docId)
                        else CandidatePair(r.docId, seen))
              }
              ids = r.docId :: ids
            }
          }
          state.update(BucketState(ids))
          out.result().iterator
      }
  }

  /** A banded document carrying its event time (for TTL eviction). */
  case class BandedDocTs(bucket: String, docId: Long,
                         eventTime: java.sql.Timestamp)

  /** [[candidatePairs]] with event-time bucket eviction — the
    * LONG-RUNNING deployment shape: [[candidatePairs]]' per-bucket state
    * is capped, but the NUMBER of bucket keys grows with every distinct
    * band key ever seen, unbounded over an infinite stream. Here each
    * bucket arms an event-time timeout `ttl` past its newest member;
    * when the watermark passes it, the bucket's state evicts — documents
    * further apart than the TTL no longer pair in-stream (the batch
    * compaction over the sink owns cross-epoch duplicates, exactly as
    * for [[StreamingDedup]]'s horizon). The input MUST carry a watermark
    * on `eventTime`.
    */
  def candidatePairsExpiring(banded: Dataset[BandedDocTs],
                             ttlMs: Long = 24L * 3600 * 1000)
      : Dataset[CandidatePair] = {
    implicit val pairEnc = Encoders.product[CandidatePair]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val keyEnc = Encoders.STRING
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[BandedDocTs],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var ids = state.getOption.map(_.ids).getOrElse(Nil)
            val out = Seq.newBuilder[CandidatePair]
            var maxTs = Long.MinValue
            rows.toSeq.sortBy(r => (r.eventTime.getTime, r.docId)).foreach { r =>
              maxTs = math.max(maxTs, r.eventTime.getTime)
              if (!ids.contains(r.docId) && ids.size < MaxBucket) {
                ids.foreach { seen =>
                  out += (if (seen < r.docId) CandidatePair(seen, r.docId)
                          else CandidatePair(r.docId, seen))
                }
                ids = r.docId :: ids
              }
            }
            state.update(BucketState(ids))
            if (maxTs > Long.MinValue)
              state.setTimeoutTimestamp(maxTs + ttlMs)
            out.result().iterator
          }
      }
  }
}
