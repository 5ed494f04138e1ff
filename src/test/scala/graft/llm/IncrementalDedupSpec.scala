package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Incremental snapshot dedup: a new batch against a persisted archive
  * index equals the full-union dedup restricted to the new batch — the
  * property that lets monthly snapshots dedup against years of archive
  * without re-reading it.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val a = "the quick brown fox jumps over the lazy dog near the barn"
  private val b = "solar panels convert sunlight into household electricity daily"
  private val c = "meter readings arrive every five minutes from every house"

  test("exactDedupAgainst == full-union exactDedup restricted to the snapshot") {
    val archive = Seq(1L -> a, 2L -> b).toDF("doc_id", "text")
    val snapshot = Seq(
      10L -> a,   // archived text -> dropped
      11L -> c,   // novel -> kept
      12L -> c,   // within-snapshot dup -> dropped
      13L -> b    // archived text -> dropped
    ).toDF("doc_id", "text")

    // round-trip the index through parquet like a real archive would
    val tmp = graft.TempDirs.dir("digidx").toString
    Dedup.digestIndex(archive, "text")
      .write.mode("overwrite").parquet(s"$tmp/idx")
    val idx = spark.read.parquet(s"$tmp/idx")

    val incremental = Dedup.exactDedupAgainst(snapshot, "doc_id", "text", idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incremental == Set(11L))

    val full = Dedup.exactDedup(archive.unionByName(snapshot), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incremental == full.filter(_ >= 10L),
      "incremental must equal full-union dedup restricted to snapshot ids")
  }

  test("null and empty text survive the archive screen consistently (ADVICE r10)") {
    // null text: md5(null) is null, so without the sentinel digest the
    // index would silently drop the null-archive row AND null snapshot
    // rows would never match it (null never equals in a join). Empty
    // text must stay DISTINCT from null — exactDedup's groupBy keeps
    // them in separate groups, and the equivalence must hold on corpora
    // containing both.
    val archive = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, a))
      .toDF("doc_id", "text")
    val snapshot = Seq(
      (10L, null.asInstanceOf[String]), // archived (null) -> dropped
      (11L, ""),                        // archived ('')  -> dropped
      (12L, c)                          // novel -> kept
    ).toDF("doc_id", "text")
    val idx = Dedup.digestIndex(archive, "text")
    assert(idx.count() == 3, "null, '', and a are three distinct digests")
    val incremental = Dedup.exactDedupAgainst(snapshot, "doc_id", "text", idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incremental == Set(12L))
    val full = Dedup.exactDedup(archive.unionByName(snapshot), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incremental == full.filter(_ >= 10L))

    // null-only archive must NOT screen an ''-text snapshot row (and
    // vice versa) — the sentinel keeps the two apart
    val nullIdx = Dedup.digestIndex(
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"), "text")
    val keptEmpty = Dedup.exactDedupAgainst(
        Seq((20L, "")).toDF("doc_id", "text"), "doc_id", "text", nullIdx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptEmpty == Set(20L), "'' must not be screened by a null-text archive")
  }

  test("nearDupVerifyAgainst: recovers screen false positives, drops verified dups") {
    val archive = Seq(1L -> a, 2L -> b).toDF("doc_id", "text")
    val snapshot = Seq(
      10L -> a,                 // exact archived copy: jaccard 1.0 -> dropped
      11L -> (a + " today"),    // true near-dup of archived a -> dropped
      // one word swapped: band-collides with archived `a` (probed:
      // the screen DROPS it) but exact Jaccard is 0.538 < 0.8 — a
      // genuine screen false positive the verify path must recover
      12L -> a.replace("lazy", "sleepy"),
      13L -> c                  // novel -> kept
    ).toDF("doc_id", "text")
    val idIdx = Dedup.bandIndexWithIds(archive, "doc_id", "text")
    val kept = Dedup.nearDupVerifyAgainst(snapshot, "doc_id", "text",
        idIdx, archive, "doc_id", "text", jaccardThreshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(13L) && !kept.contains(10L) && !kept.contains(11L))
    assert(kept.contains(12L), "verify must recover the low-Jaccard collision")

    // verify-kept is a STRICT superset of screen-kept here: a band
    // membership screen (any shared band key drops) over-drops doc 12,
    // verification recovers it
    val collided = Dedup.bandIndexWithIds(snapshot, "doc_id", "text")
      .join(idIdx.select("band", "band_key"), Seq("band", "band_key"),
        "left_semi")
      .select("archive_id").collect().map(_.getLong(0)).toSet
    val screenKept = Set(10L, 11L, 12L, 13L) -- collided
    assert(screenKept.subsetOf(kept) && !screenKept.contains(12L))

    // and the dropped set equals the union-corpus definition: a cross
    // (snapshot, archive) candidate pair with exact Jaccard >= t
    val union = archive.unionByName(snapshot)
    val crossVerified = Dedup.lshCandidatePairs(union, "doc_id", "text")
      .filter((col("id_a") < 3 && col("id_b") >= 10) ||
        (col("id_b") < 3 && col("id_a") >= 10))
      .join(union.select(col("doc_id").as("id_a"), col("text").as("__ta")), Seq("id_a"))
      .join(union.select(col("doc_id").as("id_b"), col("text").as("__tb")), Seq("id_b"))
      .filter(Dedup.jaccard(col("__ta"), col("__tb")) >= 0.8)
      .select(greatest(col("id_a"), col("id_b")).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val dropped = Set(10L, 11L, 12L, 13L) -- kept
    assert(dropped == crossVerified)
  }
}
