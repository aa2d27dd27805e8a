package graft.util

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Logical-plan truncation for multi-consumer frames inside ITERATIVE
  * operators (guide §3.3 "materialising an intermediate truncates the
  * plan", §5 localCheckpoint).
  *
  * Why: a `persist()` caches the DATA but every DataFrame reference still
  * embeds the frame's full LOGICAL lineage, so an iteration chain that
  * references a cached graph frame k times per round grows the static plan
  * multiplicatively — measured at sf0.1 BEFORE this change:
  * q_device_pagerank 27 787 plan lines / 4 435 Exchange nodes,
  * q_triangles 58 166 lines / 9 330 Exchange nodes, for ~20 k-edge graphs.
  * The cache makes runtime data passes cheap, but EVERY AQE stage
  * materialization re-walks (canonicalizes, re-optimizes, re-plans) the
  * whole tree, so the query becomes planner-bound: wall ≈ stages ×
  * per-stage replanning over a 50 k-node plan. `localCheckpoint` replaces
  * the lineage with a LogicalRDD leaf (the same truncation
  * text.Components uses per CC round), collapsing those plans to a few
  * hundred lines while keeping the same single materialization.
  *
  * At cluster scale the truncation is storage-neutral: localCheckpoint
  * persists the SAME rows a persist() would (MEMORY_AND_DISK), and the
  * coalesce below derives its width from row counts, never machine size
  * (no-op once rows/rowsPerPartition exceeds the current width).
  * Fault-tolerance note: a lost checkpoint partition cannot be recomputed
  * from lineage — acceptable for intra-query intermediates (the query
  * fails and retries as a whole), the standard localCheckpoint trade.
  */
object Lineage {

  /** Materialize `df` once, right-size its partition count to a
    * rows-per-partition floor (Partitioning.RowsPerPartition semantics),
    * and return a lineage-truncated (LogicalRDD-backed) frame. The caller
    * must release it via [[release]] when the query is done (or make it
    * through [[CacheRegistry.checkpoint]], which does). */
  def checkpointRightsized(
      df: DataFrame,
      rowsPerPartition: Long = Partitioning.RowsPerPartition): DataFrame = {
    val ck = df.localCheckpoint() // eager: computes the lineage exactly once
    val n = ck.count() // cheap: counts the checkpointed partitions
    val cur = ck.rdd.getNumPartitions
    val want = math.max(1L, math.min(cur.toLong,
      (n + rowsPerPartition - 1) / rowsPerPartition)).toInt
    // LAZY narrow coalesce (no second checkpoint): each consumer pass
    // merges the stored partitions on read — a near-free narrow scan of
    // cached rows — instead of paying a second full copy up front. The
    // logical plan stays a 2-node Repartition(LogicalRDD) leaf.
    if (want >= cur) ck else ck.coalesce(want)
  }

  /** Unpersist the checkpointed RDD behind a [[checkpointRightsized]] (or
    * plain localCheckpoint) frame — `Dataset.unpersist` only sweeps
    * cache-manager entries, not checkpoint RDDs, so [[CacheRegistry]] and
    * iterative loops call this to free a checkpoint for real. It walks the
    * whole analyzed plan: call it on checkpoint frames only. */
  def release(ds: Dataset[_]): Unit = {
    ds.unpersist(blocking = false)
    ds.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
