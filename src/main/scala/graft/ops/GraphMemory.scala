package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Memory auto-sizing for the iterative graph operators (VERDICT r18
  * #1): [[PageRank]] and [[Hits]] already count edges and nodes every
  * run — this derives the three levers PERFNOTES r18's graphscale100
  * measured as the difference between OOM and 3.0-3.5 GB peak task
  * memory at the 55M-edge tier, so the 100× tier runs on DEFAULT conf
  * with no hand-tuning:
  *
  *  (a) a shuffle-partition count holding contribution ROWS PER TASK
  *      roughly constant (fixed 32 partitions put ~1.7M rows in each
  *      hash-aggregate task at 55M edges → 4.5-6.8 GB grabs and
  *      UNABLE_TO_ACQUIRE_MEMORY on an 8 GB heap);
  *  (b) the AQE coalescing floor
  *      (`spark.sql.adaptive.coalescePartitions.minPartitionNum`) for
  *      the iteration's stages — raising partitions ALONE changed
  *      nothing at r18 because the coalescer re-merged them to its
  *      64 MB byte target (it optimizes bytes/partition, not
  *      memory/task);
  *  (c) an input respread when the source partitioning is FAT
  *      (edges-per-input-split ≫ the target): the first map-side
  *      partial aggregate runs on the INPUT's splits, upstream of any
  *      exchange, so it is partition-count-independent — measured
  *      7.4-11.7 GB grabs on 32 fat cached splits. File-sourced edges
  *      split by `maxPartitionBytes` and rarely trigger this; cached/
  *      synthetic edge frames do.
  *
  * Sizing is TWO-PHASE because the edge-collapse aggregation (distinct
  * / weight-sum) that builds the iteration's edge frame is itself the
  * first victim: phase 1 sizes from the RAW edge count (one map-only
  * count of the input — an upper bound on the distinct count) so the
  * collapse survives, phase 2 refines the conf to the true distinct
  * count once the frame is materialized (a heavily multi-edged input
  * would otherwise leave the rounds over-tasked).
  *
  * Phase 1's count is a real extra pass over the raw input (for a
  * derived edge frame like `q_pagerank`'s lineitem⋈orders join it
  * re-executes the whole upstream plan — the query's only r19 bench
  * regression, +0.53 s). VERDICT r19 #1: a NO-JOB statistics screen
  * ([[rowBound]]) now proves fixture/bench-scale inputs below the
  * trigger from leaf metadata alone (parquet footers, Range/local
  * row counts) and skips phase 1 entirely — the collapse needs no
  * levers below trigger, and the rounds are still sized from the
  * post-collapse count either way. When no sound bound exists
  * (unbounded-amplification nodes, unreadable leaves), phase 1 runs
  * exactly as before — at real scale leaf statistics alone exceed the
  * trigger, so the screen can only cut the small-input tax, never the
  * protection.
  *
  * Levers are applied-and-restored around the iteration (the r18
  * graphScale100 finally-block discipline, moved into the operators):
  * session conf mutates only until the returned restore runs — and on
  * ANY throw after the conf is applied, `sizedEdges` restores before
  * rethrowing (ADVICE r19: the collapse checkpoint is exactly where
  * the documented 55M-edge OOM fires; a leaked conf would outlive the
  * failure into the caller's session; GraphMemorySpec "above the
  * trigger" pins the restore).
  * Results cannot change — the exact tiers sum through order-free
  * decimals (spec-pinned partitioning invariance), which is what makes
  * auto-sizing correctness-free. Below the trigger edge count
  * (fixture / bench scale) nothing is touched and plans stay
  * byte-identical.
  */
object GraphMemory {

  /** ~250k contribution rows per hash-aggregate task: the r18 manual
    * fix ran 55M edges on 256 partitions (~215k rows/task) at
    * 3.0-3.5 GB peak; the default 32-partition session stays untouched
    * up to 8M edges (the 10× tier keeps its measured baseline shape).
    */
  val targetRowsPerTask: Long = 250000L

  /** Backstop against a pathological count on one box; a real cluster
    * job at this scale sets its own shuffle parallelism anyway.
    */
  val maxPartitions: Int = 65536

  /** Per-join output allowance in [[rowBound]]: an equi-join's output
    * is bounded by the fact side for PK-FK shapes (every edge-building
    * join here) and by modest fan-out for many-to-many ones; 4× per
    * join keeps the screen honest without a cardinality estimator. The
    * allowance can only mis-skip when a join amplifies its LEAF rows
    * more than 4× AND the amplified count lands above the trigger —
    * and even then only the one collapse runs unlevered (it spills,
    * sort-based fallback); the rounds re-size from the collapsed count
    * regardless.
    */
  val screenJoinAllowance: Long = 4L

  /** Footer-read cap: beyond this many files the input is either
    * already huge (screen would decline anyway) or listing/footer IO
    * stops being "free" on a remote store — decline and let phase 1
    * count.
    */
  val screenMaxFooterFiles: Int = 64

  private val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
  private val noRestore: () => Unit = () => ()

  /** Partition count holding rows/task ≈ [[targetRowsPerTask]] —
    * never below the session's current setting (small graphs keep
    * their plans byte-identical).
    */
  def autoPartitions(totalEdges: Long, current: Int): Int = {
    val want = (totalEdges + targetRowsPerTask - 1) / targetRowsPerTask
    math.max(current, math.min(maxPartitions.toLong, want).toInt)
  }

  /** NO-JOB upper bound on `df`'s row count, from plan statistics
    * alone — `None` when no sound bound exists. Leaves contribute
    * exact counts (parquet footers read driver-side, `Range`
    * arithmetic, local-relation lengths, materialized cache stats);
    * row-preserving/reducing operators pass the bound through; each
    * join multiplies it by [[screenJoinAllowance]]; any node that can
    * amplify unboundedly (Generate/explode, typed flatMap, Expand, …)
    * or a leaf with no exact statistic declines the screen.
    */
  private[graft] def rowBound(df: DataFrame): Option[BigInt] = {
    var leaves = BigInt(0)
    var joins = 0
    var known = true
    df.queryExecution.optimizedPlan.foreach {
      case _ if !known => ()
      case l: LeafNode => leafRows(l) match {
        case Some(r) => leaves += r
        case None => known = false
      }
      case _: Join => joins += 1
      // row-preserving or row-reducing relational nodes only; anything
      // unlisted (Generate, Expand, typed map/flatMap, …) declines
      case _: Project | _: Filter | _: Aggregate | _: Distinct
         | _: Window | _: WindowGroupLimit | _: Sort
         | _: GlobalLimit | _: LocalLimit
         | _: Union | _: SubqueryAlias | _: Repartition
         | _: RepartitionByExpression | _: Deduplicate | _: Sample => ()
      case _ => known = false
    }
    if (!known) None
    else Some(leaves * BigInt(screenJoinAllowance).pow(joins))
  }

  /** Exact row count for one leaf, without running a job — or `None`. */
  private def leafRows(l: LeafNode): Option[BigInt] = l match {
    case r: Range => Some(r.numElements)
    case lr: LocalRelation => Some(BigInt(lr.data.length))
    case rel: LogicalRelation => rel.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        parquetRows(fs)
      case _ => None
    }
    // e.g. a materialized InMemoryRelation carries its exact count;
    // LogicalRDD and v2 relations generally don't → decline
    case other => other.stats.rowCount
  }

  /** Sum of footer row counts across the relation's data files —
    * driver-side metadata reads, no Spark job; `None` past the file
    * cap or on any read failure (the screen then declines, which is
    * the safe direction: phase 1 counts).
    */
  private def parquetRows(fs: HadoopFsRelation): Option[BigInt] = {
    val files = fs.location.inputFiles
    if (files.length > screenMaxFooterFiles) None
    else try {
      val hconf = fs.sparkSession.sessionState.newHadoopConf()
      var total = BigInt(0)
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), hconf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try total += reader.getRecordCount
        finally reader.close()
      }
      Some(total)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Set shuffle partitions + the AQE coalescing floor; returns the
    * restore closure (captures the PREVIOUS values, including "floor
    * was unset").
    */
  private def applyConf(spark: org.apache.spark.sql.SparkSession,
                        parts: Int): () => Unit = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    val prevMin = spark.conf.getOption(minKey)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark.conf.set(minKey, parts.toString)
    () => {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevMin match {
        case Some(v) => spark.conf.set(minKey, v)
        case None => spark.conf.unset(minKey)
      }
    }
  }

  /** Levers for an iteration whose edge frame is ALREADY materialized
    * (VERDICT r19 #8, the pointer-doubling CC: building its doubled
    * edge list is map-only — no aggregation to protect — so the conf
    * sizes from the materialized count alone; the count job reads
    * checkpointed blocks, not the upstream plan). Returns the restore
    * closure for the caller's finally; below the trigger nothing is
    * touched.
    */
  def sizedFrom(spark: org.apache.spark.sql.SparkSession,
                edgeCount: Long): () => Unit = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val parts = autoPartitions(edgeCount, cur)
    if (parts > cur) applyConf(spark, parts) else noRestore
  }

  /** Build the materialized edge frame for an iteration under
    * auto-sized levers. `raw` is the operator's projected edge input
    * (pre-collapse); `collapse` is its dedup/weight-sum aggregation.
    * Returns (materialized frame, restore-closure for the finally).
    *
    * When the statistics screen ([[rowBound]]) proves `raw` below the
    * trigger, phase 1 (the protective raw count) is skipped — the
    * collapse runs unlevered on a byte-identical plan, and the rounds
    * size from the post-collapse count (a backstop that still engages
    * the levers should the join allowance ever under-bound). Otherwise
    * phase 1 counts `raw` so the collapse itself survives, respreads a
    * fat raw input (rows per split > 2× the target — the map-side
    * partial aggregation runs on the INPUT's splits), and phase 2
    * refines the conf to the true collapsed count for the rounds. Any
    * throw after the conf is applied restores it before rethrowing.
    */
  def sizedEdges(raw: DataFrame,
                 collapse: DataFrame => DataFrame): (DataFrame, () => Unit) = {
    val (e, _, restore) = sizedEdgesCounted(raw, collapse)
    (e, restore)
  }

  /** [[sizedEdges]] plus the collapsed frame's row count, which the
    * sizing already computes and previously discarded — callers that
    * need the edge count (e.g. [[PageRank]]'s hub-salt screen, r21)
    * reuse it instead of running another aggregation job over the
    * materialized frame.
    */
  def sizedEdgesCounted(raw: DataFrame,
                        collapse: DataFrame => DataFrame)
      : (DataFrame, Long, () => Unit) = {
    val spark = raw.sparkSession
    val cur = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val trigger = BigInt(cur) * targetRowsPerTask
    if (rowBound(raw).exists(_ <= trigger)) {
      // screened below trigger: no phase 1, no levers, default-level
      // checkpoint — the exact below-trigger path, minus the count
      val e = collapse(raw).localCheckpoint()
      val n = e.count()
      val finalParts = autoPartitions(n, cur)
      val restore =
        if (finalParts > cur) applyConf(spark, finalParts) else noRestore
      (e, n, restore)
    } else {
      val rawCount = raw.count()
      val preParts = autoPartitions(rawCount, cur)
      var restore: () => Unit = noRestore
      var input = raw
      try {
        if (preParts > cur) {
          restore = applyConf(spark, preParts)
          val inParts = math.max(1, raw.rdd.getNumPartitions)
          if (rawCount / inParts > 2 * targetRowsPerTask)
            input = raw.repartition(preParts)
        }
        // above the trigger the checkpoint stores SERIALIZED (still
        // memory-first, disk-spillable): the r19 re-measure showed the
        // DESERIALIZED default is the 8 GB heap's biggest tenant at 55M
        // edges (MemoryStore SizeEstimator OOMs while 32 shuffle writers
        // hold their buffers) — serialized rows are ~3-4× smaller and
        // evictable; the per-round deserialization cost is map-side and
        // edge-linear. Below the trigger the default level keeps the
        // fixture/bench path byte-identical.
        val e =
          if (preParts > cur)
            collapse(input).localCheckpoint(true,
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
          else collapse(input).localCheckpoint()
        val n = e.count()
        val finalParts = autoPartitions(n, cur)
        if (preParts > cur && finalParts != preParts) {
          restore()
          restore =
            if (finalParts > cur) applyConf(spark, finalParts) else noRestore
        }
        (e, n, restore)
      } catch {
        // the conf must not outlive a failed sizing (ADVICE r19): the
        // collapse checkpoint is exactly where the documented 55M-edge
        // OOM fires, and the session keeps running after catching it
        case t: Throwable => restore(); throw t
      }
    }
  }
}
