package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.{Dedup, TextFunctions, Warc}

/** Streaming crawl ingestion — the intake chain a continuously-arriving
  * crawl runs (WARC segments landing → HTML main-content extraction →
  * minimum-content gate → exact dedup against EVERYTHING already
  * accepted), as a `foreachBatch` query so the archive digest index
  * persists ACROSS batches and restarts (micro-batch state like
  * [[StreamingDedup.dedupStream]] only covers the watermark horizon;
  * a crawl must never re-accept a page it archived last month).
  *
  * Per micro-batch the chain is the BATCH operators verbatim
  * ([[TextFunctions.htmlMainText]], [[Dedup.exactDedupAgainst]] over
  * [[Dedup.digestIndex]]) — stream == batch agreement is by
  * construction, StreamingCrawlSpec pins it on a two-batch fixture.
  *
  * Two scale levers:
  *
  *   - '''Archive bytes.''' [[parseWarcFiles]] maps whole file images
  *     (binary rows) for sources that deliver bytes (a message bus
  *     carrying small segments); its per-row footprint is the file
  *     size.
  *   - '''Index size.''' The index the screen joins against is 16
  *     bytes per distinct accepted document (digest-only — archive
  *     payloads are never re-read, the monthly-crawl property the
  *     batch incremental dedup measures flat across 2×–20× archives).
  *     [[DirIndex]] stores it as plain partitioned parquet — right
  *     while the index broadcasts. Past the broadcast threshold,
  *     [[BucketedIndex]] keeps it as an external table bucketed on
  *     `content_hash`, so the per-batch anti join co-locates WITHOUT
  *     exchanging the index side: only the micro-batch (small by
  *     definition) shuffles to the bucket count, and the index —
  *     the side that grows with the archive — is read in place
  *     (StreamingCrawlSpec pins the plan shape).
  */
object StreamingCrawl {

  /** Where the cross-batch digest index lives. Implementations must be
    * replay-exact: Structured Streaming commits source offsets only
    * AFTER `foreachBatch` returns, so a crash inside the batch replays
    * it — [[committed]] must expose exactly the pre-batch state
    * (batches `< N` are immutable once batch N starts; batch N's own
    * failed-attempt rows are excluded) and [[write]] must leave one
    * copy of batch N's rows no matter how many attempts ran.
    */
  sealed trait IndexStore {
    /** `content_hash` rows committed by batches OTHER than `batchId` —
      * the screen a replayed batch decides acceptance against.
      */
    def committed(spark: SparkSession, batchId: Long): DataFrame

    /** Persist batch `batchId`'s digest rows (`content_hash` column),
      * replacing any rows a failed earlier attempt of the SAME batch
      * left behind.
      */
    def write(digests: DataFrame, batchId: Long): Unit

    /** True iff batch `batchId`'s rows were FOLDED into a compacted
      * partition, so its own replay unit (its partition directory) no
      * longer holds them. A folded batch is — by [[BucketedIndex
      * .compact]]'s precondition — durably committed, so the only
      * correct replay of it is a NO-OP: re-running would both
      * duplicate the index (its digests live under `batch_id = -1`
      * now) and empty its sink partition (the screen would reject the
      * batch's own documents against their already-archived digests).
      * Stores that never fold (e.g. [[DirIndex]]) always answer false.
      */
    def folded(spark: SparkSession, batchId: Long): Boolean = false

    /** Fold the store in-band once `everyBatches` unfolded per-batch
      * partitions have accumulated (VERDICT r15 #6 — manual-only folds
      * let a 10,000-batch stream pay 1,600+ file opens per read).
      * Called by [[StreamingCrawl.runBatch]] AFTER the batch's sink
      * and digest writes completed, so folding the just-appended batch
      * is safe: a post-fold replay is detected by [[folded]] and
      * no-ops, with the rows already in the `-1` generation. No-op for
      * stores that never fold and when `everyBatches` ≤ 0 (default —
      * folds stay out-of-band).
      */
    def autoCompact(spark: SparkSession, everyBatches: Int): Unit = ()
  }

  /** Plain parquet index dir, one `batch_id=<N>` partition per batch,
    * replay handled by DYNAMIC partition overwrite (a replayed batch
    * REWRITES its own partition instead of appending next to a failed
    * attempt's rows). The probe is Hadoop-FS ([[BatchState]]), so the
    * dir can live on any Spark-visible storage — a driver-local probe
    * would read a remote index as empty every batch and silently
    * disable cross-batch dedup. Right while the index is small enough
    * to broadcast into the anti join; past that, [[BucketedIndex]].
    */
  final case class DirIndex(dir: String) extends IndexStore {
    def committed(spark: SparkSession, batchId: Long): DataFrame =
      loadIndex(spark, dir)
        .filter(col("batch_id") =!= lit(batchId))
        .select("content_hash")

    def write(digests: DataFrame, batchId: Long): Unit =
      digests.withColumn("batch_id", lit(batchId))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(dir)
  }

  /** The past-broadcast-threshold index: an external table at `path`
    * registered under `table`, partitioned by `batch_id` and BUCKETED
    * (+ sorted) on `content_hash`. The per-batch anti join then reads
    * the index side in place — its bucketing already satisfies the
    * join's distribution requirement, so only the micro-batch side
    * exchanges (to `buckets` partitions), however large the archive
    * grows. Size `buckets` for the TARGET archive (digests are 16
    * bytes/doc: 1 B docs / 512 buckets ≈ 31 MB a bucket) — the count
    * is fixed at table creation like any bucketed table's.
    *
    * Each batch APPENDS its partition (bucket files accumulate per
    * batch; bucket pruning/co-location is per-file, so reads stay
    * exchange-free — at most the merge sort loses the single-file
    * sortedness, costing a local Sort, never an Exchange). Replay: a
    * failed attempt's partition DIRECTORY is deleted (+ `REFRESH
    * TABLE` so the file listing cache drops the dead files) before the
    * re-append — exactly one copy of batch N's rows survives any crash
    * point, same contract as [[DirIndex]]'s dynamic overwrite.
    */
  final case class BucketedIndex(table: String, path: String, buckets: Int)
      extends IndexStore {
    private def quoted = s"`${table.replace("`", "``")}`"

    /** Finish a [[compact]] that crashed mid-swap (r17): promote a
      * complete `_compacting` candidate when the live dir is missing
      * ([[BatchState.recoverSwap]] — the retire runs strictly after the
      * candidate write, so a missing live dir implies a complete
      * candidate), and re-register the table DDL when the data survived
      * but the catalog entry did not (compact drops it just before the
      * renames). Without this, [[committed]] reads an existing archive
      * as EMPTY — every digest ever ingested re-enters the corpus as
      * "new" — and the next [[write]]'s saveAsTable orphans the
      * candidate holding the folded history. Idempotent; two driver-side
      * probes on the happy path.
      */
    private def recover(spark: SparkSession): Unit = {
      BatchState.recoverSwap(spark, path)
      if (!spark.catalog.tableExists(table) &&
          BatchState.hasData(spark, path)) {
        spark.sql(
          s"""CREATE TABLE $quoted (content_hash STRING, batch_id BIGINT)
             |USING parquet PARTITIONED BY (batch_id)
             |CLUSTERED BY (content_hash) SORTED BY (content_hash)
             |INTO $buckets BUCKETS LOCATION '$path'""".stripMargin)
        spark.sql(s"MSCK REPAIR TABLE $quoted")
        ()
      }
    }

    def committed(spark: SparkSession, batchId: Long): DataFrame = {
      recover(spark)
      if (spark.catalog.tableExists(table))
        spark.table(table)
          // partition-column filter: batch N's failed-attempt partition
          // (if any) is PRUNED at the scan, never read
          .filter(col("batch_id") =!= lit(batchId))
          .select("content_hash")
      else {
        import spark.implicits._
        Seq.empty[String].toDF("content_hash")
      }
    }

    def write(digests: DataFrame, batchId: Long): Unit = {
      val spark = digests.sparkSession
      recover(spark)
      // replay-after-fold guard: once compact() moved this batch's rows
      // under batch_id = -1, deleting/re-appending its own partition
      // would leave a SECOND copy next to the folded one — the ledger
      // makes the hazard the scaladoc used to merely document a no-op
      if (folded(spark, batchId)) return
      if (spark.catalog.tableExists(table)) {
        val (f, p) = BatchState.fs(spark, s"$path/batch_id=$batchId")
        if (f.exists(p)) {
          f.delete(p, true)
          spark.sql(s"REFRESH TABLE $quoted")
        }
      }
      digests.withColumn("batch_id", lit(batchId))
        .write.mode("append").format("parquet").option("path", path)
        .partitionBy("batch_id")
        .bucketBy(buckets, "content_hash").sortBy("content_hash")
        .saveAsTable(table)
    }

    /** The batch ids whose rows live under `batch_id = -1` — every id
      * [[compact]] has ever folded, read from the `_folded_batches`
      * ledger the compaction swap carries (underscore-prefixed, so
      * Spark's file listing never treats it as data). Empty before the
      * first compaction.
      */
    def foldedBatches(spark: SparkSession): Set[Long] =
      BatchState.readFolded(spark, path)

    override def folded(spark: SparkSession, batchId: Long): Boolean =
      foldedBatches(spark).contains(batchId)

    /** Out-of-band compaction: fold every committed batch partition
      * into ONE `batch_id = -1` partition with exactly one sorted file
      * per bucket — per-batch appends otherwise accumulate a bucket-file
      * set per batch, and at thousands of batches the file count (not
      * the 16 bytes/doc data) becomes the scan's cost. The rewrite is
      * SHUFFLE-FREE: with auto-bucketed-scan pinned on for it (see the
      * body comment), the source reads one partition per bucket (all
      * batches' files of that bucket merged) and each task writes that
      * bucket's single sorted file.
      *
      * Run it like [[StreamingRetrieval.compactIndex]]: OUT-OF-BAND,
      * with the stream stopped or all folded batches durably committed.
      * The folded batch ids are RECORDED in a `_folded_batches` ledger
      * the swap carries, so the contract is enforced, not just
      * documented: a batch that replays AFTER its rows were folded into
      * -1 (its own partition directory, the replay unit, no longer
      * holds them) is detected by [[folded]] and [[write]]/[[runBatch]]
      * make the replay the no-op it must be — a folded batch is by this
      * method's precondition durably committed, so re-running it could
      * only duplicate index rows and empty its sink partition. The swap
      * is Hadoop-FS rename (promote-then-retire), and the table is
      * re-registered with the same bucket DDL at the same path, so
      * [[committed]] (the -1 partition never equals a real batch id)
      * and [[write]] (appends target untouched per-batch directories)
      * keep their contracts.
      */
    def compact(spark: SparkSession): Unit = {
      recover(spark)
      if (spark.catalog.tableExists(table)) {
        val scratch = s"${table}__compacting"
        val scratchQ = s"`${scratch.replace("`", "``")}`"
        val (f, live) = BatchState.fs(spark, path)
        val tmp = new org.apache.hadoop.fs.Path(s"${path}_compacting")
        val old = new org.apache.hadoop.fs.Path(s"${path}_old")
        // every id being folded this pass: the live per-batch partition
        // dirs, plus everything an earlier pass already folded (the -1
        // partition carries no ids of its own)
        val foldedNow = foldedBatches(spark) ++
          f.listStatus(live).toSeq.filter(_.isDirectory)
            .map(_.getPath.getName)
            .filter(_.startsWith("batch_id="))
            .map(_.stripPrefix("batch_id=").toLong)
            .filter(_ != -1L)
        spark.sql(s"DROP TABLE IF EXISTS $scratchQ")
        if (f.exists(tmp)) f.delete(tmp, true)
        // keep the SOURCE scan bucketed for the rewrite: the optimizer
        // removes the repartition as redundant against the bucketed
        // table's partitioning, and with nothing left requiring that
        // distribution the planner then DISABLES bucketed reading —
        // leaving no exchange at all and one output file per *read
        // split* instead of per bucket (measured: 29 files for 8
        // buckets). Pinning auto-bucketed-scan off keeps one read
        // partition per bucket, so the rewrite is SHUFFLE-FREE and
        // writes exactly one sorted file per non-empty bucket.
        val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        val savedAutoScan = spark.conf.getOption(autoScanKey)
        spark.conf.set(autoScanKey, "false")
        try spark.table(table).select(col("content_hash"))
          .repartition(buckets, col("content_hash"))
          .withColumn("batch_id", lit(-1L))
          .write.format("parquet").option("path", tmp.toString)
          .partitionBy("batch_id")
          .bucketBy(buckets, "content_hash").sortBy("content_hash")
          .saveAsTable(scratch)
        finally savedAutoScan.fold(spark.conf.unset(autoScanKey))(
          spark.conf.set(autoScanKey, _))
        // the ledger rides the swap: written into the candidate dir
        // BEFORE the promote, so a crash between the renames never
        // leaves a live index whose ledger is missing its folds
        BatchState.writeFolded(spark, tmp.toString, foldedNow)
        spark.sql(s"DROP TABLE IF EXISTS $scratchQ") // registration only
        spark.sql(s"DROP TABLE IF EXISTS $quoted")
        if (f.exists(old)) f.delete(old, true)
        if (!f.rename(live, old))
          sys.error(s"BucketedIndex.compact: cannot retire $live")
        if (!f.rename(tmp, live))
          sys.error(s"BucketedIndex.compact: cannot promote $tmp")
        f.delete(old, true)
        spark.sql(
          s"""CREATE TABLE $quoted (content_hash STRING, batch_id BIGINT)
             |USING parquet PARTITIONED BY (batch_id)
             |CLUSTERED BY (content_hash) SORTED BY (content_hash)
             |INTO $buckets BUCKETS LOCATION '$path'""".stripMargin)
        spark.sql(s"MSCK REPAIR TABLE $quoted")
        ()
      }
    }

    override def autoCompact(spark: SparkSession, everyBatches: Int): Unit =
      if (everyBatches > 0 &&
          BatchState.unfoldedBatches(spark, path) >= everyBatches)
        compact(spark)
  }

  /** One micro-batch through the intake chain: extract main content
    * from `htmlCol`, gate on `minTokens` whitespace tokens, drop
    * everything whose digest is in `index` (plus within-batch min-id
    * dedup). Returns (accepted rows incl. `main`/`n_tokens`, their
    * digest rows to append to the index). Pure batch operators — also
    * the replay path for backfills and the `q_crawl_incremental`
    * oracle's unit.
    */
  def acceptBatch(batch: DataFrame, idCol: String, htmlCol: String,
                  index: DataFrame, minTokens: Int = 5)
      : (DataFrame, DataFrame) = {
    val extracted = batch
      .withColumn("main", TextFunctions.htmlMainText(col(htmlCol)))
      .drop(htmlCol)
      .withColumn("n_tokens",
        size(TextFunctions.tokens(col("main"))).cast("long"))
      .filter(col("n_tokens") >= minTokens)
    val accepted = Dedup.exactDedupAgainst(extracted, idCol, "main", index)
    (accepted, Dedup.digestIndex(accepted, "main"))
  }

  /** The [[DirIndex]] archive as stored — (content_hash, batch_id)
    * rows; empty on first start.
    */
  def loadIndex(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    if (BatchState.hasData(spark, indexDir)) spark.read.parquet(indexDir)
    else Seq.empty[(String, Long)].toDF("content_hash", "batch_id")
  }

  /** Start the intake query over a STREAMING frame of (id, html) rows
    * (e.g. parsed WARC responses). Each batch writes survivors to
    * `sinkDir` (a `batch_id=<N>` partition via dynamic overwrite — the
    * sink cannot accumulate duplicates however the batch dies) and
    * their digests to `index`; `checkpointDir` carries the source
    * offsets. The dedup screen excludes the current batch's own index
    * rows, so a replay decides acceptance from exactly the committed
    * pre-batch state.
    */
  def ingest(stream: DataFrame, idCol: String, htmlCol: String,
             sinkDir: String, index: IndexStore, checkpointDir: String,
             minTokens: Int = 5, autoCompactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatch(batch, batchId, idCol, htmlCol, sinkDir, index, minTokens,
          autoCompactEvery)
      }
      .start()

  /** [[ingest]] with the index as a plain parquet dir ([[DirIndex]]). */
  def ingest(stream: DataFrame, idCol: String, htmlCol: String,
             sinkDir: String, indexDir: String, checkpointDir: String,
             minTokens: Int): StreamingQuery =
    ingest(stream, idCol, htmlCol, sinkDir, DirIndex(indexDir),
      checkpointDir, minTokens)

  /** The shared `foreachBatch` body: screen against the committed
    * index, write survivors and their digests replay-exactly.
    */
  private def runBatch(batch: DataFrame, batchId: Long, idCol: String,
                       htmlCol: String, sinkDir: String, index: IndexStore,
                       minTokens: Int, autoCompactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    // a batch whose rows were already FOLDED by an out-of-band
    // compaction is durably committed by compaction's precondition —
    // if it replays anyway (checkpoint loss), re-running would screen
    // the batch's documents against their own archived digests and
    // dynamic-overwrite its sink partition with the empty remainder;
    // the only replay that keeps both stores exact is the no-op
    if (index.folded(spark, batchId)) return
    val (accepted, _) = acceptBatch(batch, idCol, htmlCol,
      index.committed(spark, batchId), minTokens)
    // accepted is consumed twice (sink + digests) in one batch:
    // cut once so the chain runs once
    val cut = accepted.withColumn("batch_id", lit(batchId))
      .localCheckpoint(true)
    cut.write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(sinkDir)
    index.write(Dedup.digestIndex(cut.drop("batch_id"), "main"), batchId)
    graft.Checkpoints.free(cut)
    index.autoCompact(spark, autoCompactEvery)
  }

  /** Map a streaming frame of whole WARC file images (`fileCol`:
    * name, `bytesCol`: binary, gzipped iff the name ends `.gz`) to
    * parsed `response` rows with the body decoded as UTF-8 html.
    * Map-only (flatMap over rows), so it composes with any streaming
    * source that delivers file images — but each row's footprint is
    * the whole file, so this is for SMALL segments (a message bus
    * carrying pages or mini-batches).
    */
  def parseWarcFiles(files: DataFrame, fileCol: String,
                     bytesCol: String): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(fileCol).cast("string"), col(bytesCol))
      .as[(String, Array[Byte])]
      .flatMap { case (name, bytes) =>
        Warc.parseWarcBytes(name, bytes, gunzip = name.endsWith(".gz"))
          .filter(_.warc_type == "response")
      }
      .toDF()
      .withColumn("html", decode(col("body"), "UTF-8"))
  }
}
