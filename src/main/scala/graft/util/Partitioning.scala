package graft.util

import org.apache.spark.sql.DataFrame

/** Scale-adaptive partition right-sizing for persisted frames that feed
  * ITERATIVE consumers (L-BFGS / boosting / k-means fits: tens to hundreds
  * of full passes over the same cached data).
  *
  * Why (guide §2.2/§1.2): every pass pays a fixed per-task cost
  * (scheduling, codegen entry, aggregate setup). A cached train frame
  * inherits its lineage's partitioning — e.g. an explicit corpus fan-out —
  * so a small frame can carry far more partitions than its row count
  * warrants, and an iterative fit multiplies that waste by the iteration
  * count (measured: a 5 000-row train frame over 32 partitions × 100
  * L-BFGS iterations = 3 200+ near-empty tasks). The fix derives the
  * partition count from the DATA (rows per partition floor), never from
  * the machine: at production scale `rows / rowsPerPartition` exceeds any
  * sane partition count and this is a no-op; on small inputs it collapses
  * to a handful of partitions.
  *
  * The persist and its count are one materialization. When coalescing
  * applies, the coalesced layout is persisted and the original cache
  * released — iterative consumers then read the small layout directly
  * instead of re-merging per pass. Both frames are held by `owner` in
  * [[CacheRegistry]].
  * Coalesce is a narrow, deterministic merge of the materialized
  * partitions; row VALUES are unchanged (per-partition order is a merge
  * of the parent partitions in order). Learned-model consumers remain
  * deterministic for a given input; rows-only gates (SURVEY §4) already
  * own the cross-layout variance of float fits.
  */
object Partitioning {

  /** Floor of rows per partition below which per-task fixed costs beat
    * parallelism for an in-memory pass. */
  val RowsPerPartition = 20000L

  /** `df` persisted under `owner` with a right-sized partition count. */
  def persistForIteration(owner: AnyRef, df: DataFrame,
                          rowsPerPartition: Long = RowsPerPartition): DataFrame = {
    val p = CacheRegistry.persist(owner, df)
    val n = p.count()
    val cur = p.rdd.getNumPartitions
    val want = math.max(1L, math.min(cur.toLong,
      (n + rowsPerPartition - 1) / rowsPerPartition)).toInt
    if (want >= cur) p
    else {
      val c = CacheRegistry.persist(owner, p.coalesce(want))
      c.count()
      p.unpersist(blocking = false)
      c
    }
  }
}
