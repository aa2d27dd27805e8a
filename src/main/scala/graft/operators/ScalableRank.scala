package graft.operators

import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ranking without a single-partition sort.
  *
  * `Window.orderBy` with no partition spec funnels the whole input into ONE
  * partition — fine for bounded inputs, a scale-killer on an unbounded
  * aggregate (10⁸ per-customer rows at 100 TB). This operator computes an
  * exact global row_number with only balanced exchanges:
  *
  *  1. `repartitionByRange` on the sort key (range exchange, sampled
  *     bounds, all partitions balanced) + `sortWithinPartitions`;
  *  2. partition-local index from `monotonically_increasing_id`'s
  *     documented layout (partition id in the upper bits, per-partition
  *     record number in the lower 33) — assigned AFTER the local sort, so
  *     it is the local rank, with no extra exchange (the nondeterministic
  *     expression is never pushed below the sort by Catalyst);
  *  3. per-partition row counts → prefix-sum offsets. This frame has one
  *     row per shuffle partition (constant in data size, NOT data-bound),
  *     so its single-partition window is bounded by config, and it
  *     broadcast-joins back to the ranged data.
  *
  * Total cost: one range exchange of the data + one constant-size side
  * plan, vs. the naive plan's everything-into-one-task sort.
  */
object ScalableRank {

  // Subtrees below the local-index projection contain a nondeterministic
  // expression (monotonically_increasing_id), which disables AQE exchange
  // reuse — every branch that references the ranked frame would recompute
  // it from the source scans. Persisting the ranged frame (and the rn
  // output in `ranked`) makes each materialize exactly once. The frames
  // are held under this object in CacheRegistry (callers whose decorated
  // frame feeds several branches hold theirs here too — delongCompare's
  // midrank frame, Behavior's per-user lags).
  //
  // Contract: calls are expected to be sequential. Only `ranked` releases
  // the previous calls' caches, so the DataFrame any call returns should
  // be executed before the next `ranked` call — a still-unexecuted earlier
  // result stays correct (Spark recomputes the lineage) but silently
  // loses its cache; concurrent callers likewise thrash each other's
  // caches without affecting correctness. The other calls' frames
  // accumulate until then or until the sweep between queries.

  // Optimization-round note (r12, measured at sf0.1): persisting the
  // INPUT before the range exchange was tried and REVERTED — the range
  // sampling pass and sibling consumers read from the child's already
  // materialized AQE query stages (the expensive lineage sits below an
  // exchange in every call site), so the extra materialization cost more
  // than the recompute it saved (e.g. q_cycle_time 4.15→5.52 s WITH the
  // persist). The nondeterministic-expression reuse hazard documented
  // above applies to the RANGED frame, which is already persisted.

  /** Adds an exact global 1-based row number `out` under `order` (which
    * must be a total order — include a unique tiebreaker column). */
  def withGlobalRowNumber(df: DataFrame, order: Seq[Column], out: String): DataFrame = {
    val ranged = CacheRegistry.persist(ScalableRank, df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mid"), 33))
      .withColumn("_lrn", col("_mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L)))
    val counts = ranged.groupBy(col("_pid")).agg(count(lit(1)).as("_pcnt"))
    // One row per shuffle partition: the empty-partition window below is
    // over a config-bounded frame, never over the data.
    val wOff = Window.orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("_poff", coalesce(sum(col("_pcnt")).over(wOff), lit(0L)))
      .select(col("_pid").as("_opid"), col("_poff"))
    ranged.join(broadcast(offsets), col("_pid") === col("_opid"))
      .withColumn(out, col("_lrn") + col("_poff"))
      .drop("_mid", "_pid", "_lrn", "_opid", "_poff")
  }

  /** Exact per-group EXCLUSIVE prefix sum of `value` (long) under `order`,
    * without funneling a group into one partition — the distributed
    * prefix-sum primitive (running totals over a group that spans the
    * corpus, e.g. cumulative token counts per language).
    *
    * Same offset decomposition as withGlobalRowNumber: range-partition on
    * (group, order) so a group's rows are contiguous in partition-id
    * order; a local exclusive prefix within each (partition, group) slice
    * (every window frame bounded by one partition's slice of one group);
    * per-(partition, group) totals — ≤ P rows per group, config-bounded —
    * prefix-summed per group and broadcast back as offsets.
    * `order` must totally order rows within a group.
    *
    * Internal working columns are `_gps_`-prefixed so caller frames can
    * use ordinary short names — an earlier `_v` internal silently
    * re-ordered a caller's prefix sums when the caller also had a `_v`
    * column (caught by the q_mannwhitney oracle gate). Caller columns may
    * not start with `_gps_`. */
  def withGroupedPrefixSum(df: DataFrame, group: Column, order: Seq[Column],
                           value: Column, out: String): DataFrame = {
    require(df.columns.forall(!_.startsWith("_gps_")),
      "caller columns must not use the _gps_ internal prefix")
    val keys = group +: order
    val ranged = CacheRegistry.persist(ScalableRank, df
      .repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("_gps_mid", monotonically_increasing_id())
      .withColumn("_gps_pid", shiftright(col("_gps_mid"), 33))
      .withColumn("_gps_v", value.cast("long")))
    val wLocal = Window.partitionBy(col("_gps_pid"), group).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged
      .withColumn("_gps_lps", coalesce(sum(col("_gps_v")).over(wLocal), lit(0L)))
    val totals = ranged.groupBy(col("_gps_pid"), group.as("_gps_g"))
      .agg(sum(col("_gps_v")).as("_gps_ptot"))
    // one row per (shuffle partition × group) slice: the per-group window
    // below is over ≤ P rows per group — bounded by config, not data
    val wOff = Window.partitionBy(col("_gps_g")).orderBy(col("_gps_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("_gps_goff", coalesce(sum(col("_gps_ptot")).over(wOff), lit(0L)))
      .select(col("_gps_pid").as("_gps_opid"), col("_gps_g"), col("_gps_goff"))
    local.join(broadcast(offsets),
        col("_gps_pid") === col("_gps_opid") && group <=> col("_gps_g"))
      .withColumn(out, col("_gps_lps") + col("_gps_goff"))
      .drop("_gps_mid", "_gps_pid", "_gps_v", "_gps_lps", "_gps_opid", "_gps_g", "_gps_goff")
  }

  /** Exact per-group top-k without concentrating each group into one
    * partition. `Window.partitionBy(group)` funnels a group's entire row
    * set into a single task — unbounded when a group spans the corpus
    * (e.g. ANN candidates per query). Two phases instead:
    *
    *  1. local top-k per (physical input partition × group) — the window
    *     key includes `spark_partition_id()`, so the exchange it induces is
    *     hash-balanced over P×|groups| keys and every window frame is
    *     bounded by one partition's slice of one group;
    *  2. final top-k per group over the survivors — ≤ P·k rows per group,
    *     bounded by config × k, never by data.
    *
    * Any global top-k row is necessarily top-k within its partition, so
    * phase 1 loses nothing. `order` must be a total order within a group. */
  def topKPerGroup(df: DataFrame, groups: Seq[Column], order: Seq[Column],
                   k: Int, rankCol: String): DataFrame = {
    val wLocal = Window.partitionBy(col("_tkpid") +: groups: _*).orderBy(order: _*)
    val local = df.withColumn("_tkpid", spark_partition_id())
      .withColumn("_lrk", row_number().over(wLocal))
      .filter(col("_lrk") <= k)
      .drop("_tkpid", "_lrk")
    val wFinal = Window.partitionBy(groups: _*).orderBy(order: _*)
    local.withColumn(rankCol, row_number().over(wFinal).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Full ranking suite over a total order `(value desc, tiebreak asc)`:
    * row_number / rank / dense_rank / ntile(n), all exact, no unbounded
    * single-partition stage.
    *
    *  - rank = first row_number of each value tie-group (`min` over a
    *    hash-partitioned window on the value — balanced exchange);
    *  - dense_rank = the tie-group's index among groups: a recursive
    *    global row_number over the distinct-value table (≤ one row per
    *    distinct value), joined back on the value;
    *  - ntile = closed-form from row_number + total count (standard
    *    first-buckets-larger split, identical to SQL NTILE).
    */
  def ranked(df: DataFrame, value: Column, tiebreak: Column, ntiles: Int,
             rowCol: String = "rn", rankCol: String = "rank",
             denseCol: String = "dense_rank", ntileCol: String = "ntile"): DataFrame = {
    CacheRegistry.release(ScalableRank)
    val order = Seq(value.desc, tiebreak.asc)
    // rn feeds three branches (rank window, dense groups, final join) —
    // persist so the range+sort+index pipeline runs once.
    val rn = CacheRegistry.persist(ScalableRank, withGlobalRowNumber(df, order, rowCol))
    val wVal = Window.partitionBy(value)
    val ranked = rn.withColumn(rankCol, min(col(rowCol)).over(wVal))
    // dense_rank = index of the row's value among DISTINCT values in
    // `value desc` order — identical to ranking tie-groups by their first
    // row_number (rank asc ⇔ value desc), but derived from the INPUT's
    // distinct values rather than from the ranked frame: nesting the
    // ranked lineage inside a second global row-number embedded the whole
    // input plan multiplicatively (87 Exchange nodes in q_gains_table's
    // sf0.1 plan before this change).
    val groups = df.select(value.as("_grev")).distinct()
    val groupIdx = withGlobalRowNumber(groups, Seq(col("_grev").desc), denseCol)
    val dense = ranked.join(groupIdx, value === col("_grev")).drop("_grev")
    val totals = df.agg(count(lit(1)).as("_total"))
    dense.crossJoin(broadcast(totals))
      .withColumn("_tbase", expr(s"_total div $ntiles"))
      .withColumn("_trem", expr(s"_total % $ntiles"))
      .withColumn(ntileCol,
        when(col(rowCol) <= col("_trem") * (col("_tbase") + 1),
          expr(s"($rowCol - 1) div (_tbase + 1) + 1"))
          .otherwise(expr(s"_trem + ($rowCol - _trem * (_tbase + 1) - 1) div greatest(_tbase, 1) + 1")))
      .drop("_total", "_tbase", "_trem")
  }
}
