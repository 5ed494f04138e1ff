package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Block-manager hygiene for `localCheckpoint`-based lineage cuts.
  *
  * Every `localCheckpoint()` persists its result as RDD blocks that live
  * until explicitly unpersisted — Spark never frees them on its own, and
  * the wrapping Dataset going out of scope does NOT release them (the
  * ContextCleaner only acts on GC'd RDD objects, and the block manager
  * holds them via the persistent-RDD registry). In an iterative operator
  * (connected components, BPE merge rounds, GD epochs) the superseded
  * generations therefore accumulate for the JVM's lifetime: on a
  * long-lived cluster session that is a slow executor-memory leak that
  * evicts useful cache and inflates block-manager bookkeeping, and in a
  * one-JVM benchmark it corrupts every measurement after the first
  * (VERDICT r10 #1 — "Block already exists" warnings, runs climbing
  * 10.7 -> 12.3 -> 13.9 s on identical plans).
  *
  * The contract: an operator that cuts lineage OWNS the cut. Iterative
  * loops free each superseded generation as soon as the next one is
  * materialized ([[graft.llm.Dedup.clusterPairs]],
  * [[graft.llm.BpeTrain.learnMergesBatched]]); operators whose RESULT is a
  * lazily-checkpointed frame cannot free it themselves (the caller has
  * not consumed it yet) — callers free those with [[free]] once done, and
  * harnesses sweep whole sessions with [[sweep]] between measurements.
  */
object Checkpoints {

  /** Unpersist the RDD blocks behind every `LogicalRDD` leaf in `df`'s
    * plan — i.e. every localCheckpoint the frame was built from. Safe to
    * call repeatedly; a no-op on frames with no checkpoint in their
    * lineage. After freeing, `df` can no longer be recomputed (a local
    * checkpoint truncates lineage), so only call once its consumers have
    * run their actions.
    */
  def free(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _             => ()
    }

  /** Ids of everything currently persisted — snapshot before building a
    * deliberately-persistent structure (e.g. a search index), then pass
    * the difference to [[sweep]]'s `keep` so the sweep spares it.
    */
  def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drop every persistent RDD (checkpoint blocks included) except
    * `keep`, and — when nothing is kept — clear the SQL table cache.
    * Blocking, so the caller observes a clean block manager on return —
    * the point is that the NEXT measurement starts from zero leaked
    * state.
    *
    * The `keep` guard on `clearCache()` is load-bearing: a
    * Dataset-level `.persist()` registers in the SQL CacheManager, and
    * `clearCache()` drops EVERY entry regardless of `keep` — so a
    * keep-sweep that cleared the catalog would silently evict the very
    * index it was told to spare, and every measurement after the first
    * would re-pay the build inside the timed region (the
    * `q_bm25_indexed` mixed-mode defect, PERFNOTES r15). With `keep`
    * nonempty, non-kept SQL-cached data still frees through its
    * persistent-RDD blocks below; its stale CacheManager entry is
    * reclaimed by the next keep-free sweep (every bench query ends with
    * one).
    */
  def sweep(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    if (keep.isEmpty) spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }
}
