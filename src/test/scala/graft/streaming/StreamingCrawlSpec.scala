package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.llm.{Dedup, TextFunctions, Warc}

/** Streaming crawl ingestion: WARC file images arriving as a stream →
  * parse → extract → gate → dedup against the PERSISTED digest index.
  * The pins: cross-batch dedup actually crosses batches (a batch-2
  * re-crawl of a batch-1 page drops), and the two-batch stream result
  * equals the one-shot batch chain over the union — the foreachBatch
  * composition adds nothing beyond persistence.
  */
class StreamingCrawlSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  // a page whose main block survives htmlMainText and the 5-token gate
  private def page(body: String): String =
    "<html><head><title>t</title></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home page link</a> <a href=\"/a\">About page link</a></div>" +
      s"<p>$body</p></body></html>"

  private def warcFile(id: Long, body: String): (String, Array[Byte]) = {
    val html = page(body)
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
      .getBytes("UTF-8")
    val rec = Warc.warcRecordBytes(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> s"http://ex.com/$id"),
      http)
    (s"seg_$id.warc.gz", Warc.gzipMember(rec))
  }

  private val prose =
    "the quick brown fox jumps over the lazy dog again and again today"

  test("two-batch stream: gate drops thin pages, index screens re-crawls, " +
      "result == one-shot batch chain") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("crawl_spec").toString
    val (sink, idx, ckpt) = (s"$tmp/sink", s"$tmp/index", s"$tmp/ckpt")

    val input = MemoryStream[(String, Array[Byte])]
    val parsed = StreamingCrawl.parseWarcFiles(
      input.toDF().toDF("file", "bytes"), "file", "bytes")
      .withColumn("id",
        regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long"))
      .select("id", "html")
    val query = StreamingCrawl.ingest(parsed, "id", "html",
      sink, idx, ckpt, minTokens = 5)

    input.addData(
      warcFile(1L, s"$prose one"),
      warcFile(2L, "thin"), // gated: under 5 tokens after extraction
      warcFile(3L, s"$prose one")) // within-batch dup of 1 -> min id kept
    query.processAllAvailable()
    input.addData(
      warcFile(4L, s"$prose one"),  // re-crawl of batch-1 content: drops
      warcFile(5L, s"$prose two"))  // genuinely new: accepted
    query.processAllAvailable()
    query.stop()

    val got = spark.read.parquet(sink).select("id").as[Long].collect().toSet
    assert(got == Set(1L, 5L),
      s"expected cross-batch dedup to keep {1, 5}, got $got")

    // the persisted index is digest-only and matches the accepted set
    val index = spark.read.parquet(idx)
      .select("content_hash").as[String].collect().toSorted
    val expectIdx = spark.read.parquet(sink)
      .select(md5(col("main"))).as[String].collect().toSorted
    assert(index == expectIdx)

    // stream == one-shot batch chain over the union of both batches
    val union = Seq(
      1L -> s"$prose one", 2L -> "thin", 3L -> s"$prose one",
      4L -> s"$prose one", 5L -> s"$prose two")
      .map { case (id, b) => (id, page(b)) }.toDF("id", "html")
    val (batchAccepted, _) = StreamingCrawl.acceptBatch(union, "id", "html",
      Seq.empty[String].toDF("content_hash"), minTokens = 5)
    val batchRows = batchAccepted
      .select("id", "main", "n_tokens").collect().map(_.toSeq).toSet
    val streamRows = spark.read.parquet(sink)
      .select("id", "main", "n_tokens").collect().map(_.toSeq).toSet
    assert(streamRows == batchRows,
      "two-batch stream must equal the one-shot batch chain")
  }

  test("politeFilter composes ahead of acceptBatch: disallowed URIs never " +
      "reach extraction") {
    import graft.llm.Robots
    val rules = Robots.parseRobots(Seq(
      ("ex.com", "User-agent: *\nDisallow: /private/")).toDF("host", "txt"),
      "host", "txt")
    val batch = Seq(
      (1L, s"http://ex.com/1", page(s"$prose one")),
      (2L, s"http://ex.com/private/2", page(s"$prose two")), // disallowed
      (3L, s"http://other.example/3", page(s"$prose three")))    // no robots
      .toDF("id", "target_uri", "html")
    val polite = Robots.politeFilter(batch, rules, "graftbot",
      "id", urlCol = "target_uri")
    // decision columns dropped again; original schema back
    assert(polite.columns.toSeq == batch.columns.toSeq)
    val (accepted, _) = StreamingCrawl.acceptBatch(polite, "id", "html",
      Seq.empty[String].toDF("content_hash"), minTokens = 5)
    val ids = accepted.select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L), s"politeness must drop id 2, got $ids")
  }

  test("bucketed index: same accepted set, replay-exact append, and the " +
      "anti join reads the index side without an Exchange") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("crawl_bucketed").toString
    val (sink, ckpt) = (s"$tmp/sink", s"$tmp/ckpt")
    val store = StreamingCrawl.BucketedIndex(
      "crawl_spec_idx", s"$tmp/index", buckets = 4)
    try {
      val input = MemoryStream[(String, Array[Byte])]
      val parsed = StreamingCrawl.parseWarcFiles(
        input.toDF().toDF("file", "bytes"), "file", "bytes")
        .withColumn("id",
          regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long"))
        .select("id", "html")
      val query = StreamingCrawl.ingest(parsed, "id", "html",
        sink, store, ckpt)
      input.addData(
        warcFile(1L, s"$prose one"),
        warcFile(2L, "thin"),
        warcFile(3L, s"$prose one"))
      query.processAllAvailable()
      input.addData(
        warcFile(4L, s"$prose one"),
        warcFile(5L, s"$prose two"))
      query.processAllAvailable()
      query.stop()

      val got = spark.read.parquet(sink).select("id").as[Long].collect().toSet
      assert(got == Set(1L, 5L),
        s"bucketed-index stream must keep {1, 5}, got $got")
      // the table IS the digest index of the accepted set
      val idxRows = spark.table(store.table)
        .select("content_hash").as[String].collect().toSorted
      val expectIdx = spark.read.parquet(sink)
        .select(md5(col("main"))).as[String].collect().toSorted
      assert(idxRows == expectIdx)

      // replay-exactness: re-writing batch 1's digests (a replayed
      // attempt) leaves exactly one copy
      val before = spark.table(store.table).count()
      // a replay RECOMPUTES the digests from the batch (here: from the
      // sink's batch-1 partition) — it never reads them off the index
      val d1 = Dedup.digestIndex(
        spark.read.parquet(sink).filter(col("batch_id") === 1L), "main")
      store.write(d1, 1L)
      assert(spark.table(store.table).count() == before,
        "a replayed batch append must not duplicate index rows")

      // plan shape: with broadcast off, the anti join exchanges ONLY the
      // probe side — the bucketed index scan satisfies the join's
      // distribution requirement in place (the 100 TB property: the side
      // that grows with the archive never shuffles)
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        def exchanges(df: org.apache.spark.sql.DataFrame): Int =
          df.queryExecution.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }.length
        val probe = Seq("p1", "p2").toDF("h")
        val bucketedAnti = probe.join(store.committed(spark, 99L),
          md5(col("h")) === col("content_hash"), "left_anti")
        assert(exchanges(bucketedAnti) == 1,
          s"bucketed anti join must exchange only the probe side:\n" +
            bucketedAnti.queryExecution.executedPlan)
        val plainIdx = spark.read.parquet(store.path).select("content_hash")
        val plainAnti = probe.join(plainIdx,
          md5(col("h")) === col("content_hash"), "left_anti")
        assert(exchanges(plainAnti) == 2,
          "the unbucketed twin shuffles both sides")

        // compaction: same digest set, one batch_id=-1 partition with
        // exactly one file per bucket, bucketing preserved through the
        // DDL re-registration (the anti join still reads in place), and
        // later batches still append replay-exactly. Two DENSE synthetic
        // batches first, so every bucket holds many rows — a sparse
        // fixture cannot distinguish one-file-per-bucket from
        // one-file-per-write-task (the planner drops the bucketed scan
        // for the rewrite unless compact() pins it — the 29-files-for-
        // 8-buckets defect this guards)
        for (b <- Seq(8L, 9L))
          store.write((1 to 300).map(i => s"synthetic_${b}_$i")
            .toDF("content_hash"), b)
        val beforeCompact = spark.table(store.table)
          .select("content_hash").as[String].collect().toSorted
        store.compact(spark)
        assert(spark.table(store.table)
            .select("content_hash").as[String].collect().toSorted
          == beforeCompact, "compaction must not change the digest set")
        val parts = spark.table(store.table)
          .select("batch_id").distinct().as[Long].collect().toSet
        assert(parts == Set(-1L), s"all batches fold into -1, got $parts")
        // one file per bucket — the dense fixture fills all 4, so the
        // count must be exactly `buckets`, one distinct bucket suffix
        // each (the _NNNNN suffix before .c000 is the bucket id)
        val bucketDir = new java.io.File(s"${store.path}/batch_id=-1")
        val files = bucketDir.listFiles().filter(_.getName.endsWith(".parquet"))
        val bucketIds = files.map(_.getName
          .replaceAll(""".*_(\d{5})\.c\d+.*""", "$1"))
        assert(files.length == store.buckets &&
            bucketIds.distinct.length == files.length,
          s"exactly one file per bucket, got " +
            files.map(_.getName).mkString(", "))
        val compactedAnti = probe.join(store.committed(spark, 99L),
          md5(col("h")) === col("content_hash"), "left_anti")
        assert(exchanges(compactedAnti) == 1,
          "compaction must preserve the bucketed no-index-exchange shape")
        // a post-compaction batch appends + replays without duplicating
        val d2 = Dedup.digestIndex(
          spark.read.parquet(sink).filter(col("batch_id") === 1L), "main")
        store.write(d2, 7L)
        val afterAppend = spark.table(store.table).count()
        store.write(d2, 7L) // replay
        assert(spark.table(store.table).count() == afterAppend,
          "post-compaction replay must not duplicate")

        // folded-batch ledger: the compaction recorded exactly the ids
        // it folded (the stream's two micro-batches + the two synthetic
        // ones), and a batch replaying AFTER its rows went into -1 —
        // the hazard the compact scaladoc used to merely document — is
        // detected and skipped instead of re-appending a second copy
        assert(store.foldedBatches(spark) == Set(0L, 1L, 8L, 9L),
          s"ledger must hold the folded ids, got ${store.foldedBatches(spark)}")
        assert(store.folded(spark, 8L) && !store.folded(spark, 7L),
          "folded() answers per batch: 8 was folded, 7 appended after")
        store.write((1 to 50).map(i => s"replayed_8_$i")
          .toDF("content_hash"), 8L) // replay-after-fold
        assert(spark.table(store.table).count() == afterAppend,
          "a replay-after-fold write must be a no-op")
        assert(!spark.table(store.table).select("batch_id").distinct()
            .as[Long].collect().contains(8L),
          "the folded batch's partition must not reappear")

        // a second compaction folds the post-compaction batch too and
        // UNIONS the ledger — ids folded by pass one stay recorded
        val beforeSecond = spark.table(store.table)
          .select("content_hash").as[String].collect().toSorted
        store.compact(spark)
        assert(spark.table(store.table)
            .select("content_hash").as[String].collect().toSorted
          == beforeSecond, "second compaction must not change the set")
        assert(store.foldedBatches(spark) == Set(0L, 1L, 7L, 8L, 9L),
          "second compaction unions the ledger")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS ${store.table}")
  }

  test("bucketed index: a compact crash between retire and promote recovers " +
      "on the next read/write — the archive never reads as empty (r17)") {
    val tmp = Files.createTempDirectory("crawl_crash").toString
    val store = StreamingCrawl.BucketedIndex(
      "crawl_crash_idx", s"$tmp/index", buckets = 2)
    try {
      val d0 = Dedup.digestIndex(Seq("alpha text", "beta text").toDF("main"), "main")
      val d1 = Dedup.digestIndex(Seq("gamma text").toDF("main"), "main")
      store.write(d0, 0L)
      store.write(d1, 1L)
      store.compact(spark)
      val expected = store.committed(spark, 99L)
        .as[String].collect().toSorted
      assert(expected.length == 3)

      // manufacture the crash window exactly as compact() would leave
      // it: catalog entry dropped, live dir retired, the COMPLETE
      // candidate (fold + ledger) sitting at _compacting, promote never
      // ran — without recovery committed() would return EMPTY and every
      // archived digest would re-enter the corpus as "new"
      spark.sql(s"DROP TABLE IF EXISTS ${store.table}")
      val (f, live) = BatchState.fs(spark, store.path)
      assert(f.rename(live,
        new org.apache.hadoop.fs.Path(s"${store.path}_compacting")))
      assert(!f.exists(live))

      val got = store.committed(spark, 99L).as[String].collect().toSorted
      assert(got == expected, "recovery must restore the archive")
      assert(f.exists(live), "candidate promoted to live")
      assert(store.foldedBatches(spark) == Set(0L, 1L),
        "the ledger rode the recovered candidate")
      // a replay of a folded batch after recovery stays a no-op
      val before = spark.table(store.table).count()
      store.write(d1, 1L)
      assert(spark.table(store.table).count() == before)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${store.table}")
  }

  test("restart replay is content-idempotent: replayed docs drop on the index") {
    val tmp = Files.createTempDirectory("crawl_replay").toString
    val idxDir = s"$tmp/index"
    val b1 = Seq(1L -> page(s"$prose one")).toDF("id", "html")
    val empty = Seq.empty[String].toDF("content_hash")
    val (a1, d1) = StreamingCrawl.acceptBatch(b1, "id", "html", empty)
    assert(a1.count() == 1)
    d1.withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(idxDir)
    // the checkpoint is LOST and the content re-arrives as a LATER
    // batch: the committed index (all batch ids) screens it out
    val (a2, _) = StreamingCrawl.acceptBatch(b1, "id", "html",
      StreamingCrawl.loadIndex(spark, idxDir).select("content_hash"))
    assert(a2.count() == 0, "replayed content must drop against the index")
  }

  test("a crashed batch's partial writes are rewritten, not appended, on replay") {
    // mimic the ingest body's failure window: batch 1 wrote its sink
    // partition, died before the index write, and is replayed — the
    // dynamic partition overwrite must leave exactly one copy
    val tmp = Files.createTempDirectory("crawl_partial").toString
    val (sinkDir, idxDir) = (s"$tmp/sink", s"$tmp/index")
    val b1 = Seq(10L -> page(s"$prose one"), 11L -> page(s"$prose two"))
      .toDF("id", "html")
    def runBatch(batchId: Long, dropIndexWrite: Boolean): Unit = {
      val committed = StreamingCrawl.loadIndex(spark, idxDir)
        .filter(col("batch_id") =!= lit(batchId)).select("content_hash")
      val (accepted, _) =
        StreamingCrawl.acceptBatch(b1, "id", "html", committed)
      val stamped = accepted.withColumn("batch_id", lit(batchId))
      stamped.write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(sinkDir)
      if (!dropIndexWrite)
        graft.llm.Dedup.digestIndex(stamped.drop("batch_id"), "main")
          .withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(idxDir)
    }
    runBatch(1L, dropIndexWrite = true)  // crash between the writes
    runBatch(1L, dropIndexWrite = false) // checkpoint replay
    val ids = spark.read.parquet(sinkDir).select("id").as[Long].collect()
    assert(ids.sorted.toSeq == Seq(10L, 11L),
      s"replay must rewrite the batch partition, got ${ids.toSeq}")
    assert(spark.read.parquet(idxDir).count() == 2)
  }

  private implicit class Sorted(a: Array[String]) {
    def toSorted: Seq[String] = a.toSeq.sorted
  }
}
