package graft.operators

import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust (median/MAD) outlier detection — the heavy-tail-safe
  * complement to [[Anomaly]]'s z-score screen: mean and stddev are
  * themselves dragged by the outliers they are supposed to find, while
  * the median absolute deviation has a 50% breakdown point (Hampel
  * 1974). Flag: |x − median| > k · 1.4826 · MAD, the standard
  * consistency-scaled rule (1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD estimate σ
  * under normality).
  *
  * Cross-engine exactness: both medians are exact rank percentiles
  * (Spark `percentile` ↔ DuckDB `quantile_cont`, the SURVEY §4
  * contract); deviations are single IEEE subtractions of identical
  * doubles; the threshold compare is on identically-derived doubles.
  *
  * Scale shape: two (group)-keyed partial-agged exchanges (one per
  * median level) + one broadcast join of the per-group stats (group
  * cardinality-sized, constant for fixed dimensions) back onto the
  * fact scan. At 100 TB the exact percentile is the cost driver; the
  * mergeable-sketch alternative is `q_approx_quantiles` — this is the
  * exact-answer path.
  */
object Robust {

  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Double = 3.0): DataFrame = {
    // The two stats frames are group-cardinality-sized (KBs) but each
    // derives from a FULL fact scan — persisting them caps the query at
    // three fact scans (median pass, MAD pass, filter pass) instead of
    // re-deriving the median scan under every consumer.
    CacheRegistry.release(Robust)
    val groups = groupCols.map(col)
    val med = CacheRegistry.persist(Robust, df.groupBy(groups: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("med")))
    val deviated = df.join(broadcast(med), groupCols)
      .withColumn("abs_dev", abs(col(valueCol) - col("med")))
    val mad = CacheRegistry.persist(Robust, deviated.groupBy(groups: _*)
      .agg(expr("percentile(abs_dev, 0.5)").as("mad")))
    deviated.join(broadcast(mad), groupCols)
      .withColumn("threshold", lit(k) * lit(1.4826) * col("mad"))
      .filter(col("abs_dev") > col("threshold"))
  }

  /** Trimmed and winsorized means per group — the robust location
    * estimates between the mean (outlier-hostage) and the median
    * (throws away all magnitude information): drop (trim) or clip
    * (winsorize) exactly k = ⌊n·frac⌋ values at each tail, by RANK under
    * a deterministic total order (value asc, then the tiebreak column).
    *
    * Scale shape: values collapse to integer cents; ranks ride the
    * grouped prefix-sum primitive (no per-group single-partition
    * window); group totals broadcast back (groups are a bounded domain);
    * kept-sum / clip-value extraction / winsorized reconstruction
    * sum + k·low_clip + k·high_clip are ALL exact integer/decimal
    * arithmetic — the three means are one IEEE division each, so the
    * frame is hash-exact. */
  def trimmedStats(df: DataFrame, groupCol: String, value: Column,
                   tiebreak: Column, trimBp: Int = 500): DataFrame = {
    val cents = df.select(col(groupCol).as("grp"),
      (value.cast("decimal(18,2)") * lit(100)).cast("long").as("x"),
      tiebreak.as("tb"))
    val ranked = graft.operators.ScalableRank.withGroupedPrefixSum(
        cents, col("grp"), Seq(col("x").asc, col("tb").asc), lit(1L), "r0")
      .withColumn("rnk", col("r0") + 1L)
    val totals = cents.groupBy("grp").agg(count(lit(1)).as("n"))
      .withColumn("k", expr(s"CAST(n * $trimBp DIV 10000 AS BIGINT)"))
    ranked.join(broadcast(totals), "grp")
      .groupBy("grp", "n", "k")
      .agg(
        sum(col("x").cast("decimal(38,0)")).as("sum_all"),
        sum(when(col("rnk") > col("k") && col("rnk") <= col("n") - col("k"),
          col("x")).otherwise(lit(0L)).cast("decimal(38,0)")).as("sum_kept"),
        max(when(col("rnk") === col("k") + 1, col("x"))).as("low_clip"),
        max(when(col("rnk") === col("n") - col("k"), col("x"))).as("high_clip"))
      .select(col("grp").as(groupCol), col("n"), col("k"),
        (col("sum_all").cast("string").cast("double") / col("n").cast("double")
          / lit(100.0)).as("mean"),
        (col("sum_kept").cast("string").cast("double") /
          (col("n") - lit(2L) * col("k")).cast("double") / lit(100.0))
          .as("trimmed_mean"),
        ((col("sum_kept") + col("k").cast("decimal(18,0)") * col("low_clip").cast("decimal(18,0)")
          + col("k").cast("decimal(18,0)") * col("high_clip").cast("decimal(18,0)"))
          .cast("string").cast("double") / col("n").cast("double") / lit(100.0))
          .as("winsorized_mean"),
        (col("low_clip").cast("double") / lit(100.0)).as("low_clip_value"),
        (col("high_clip").cast("double") / lit(100.0)).as("high_clip_value"))
  }

  /** DuckDB mirror of [[trimmedStats]] over orders/o_totalprice grouped
    * by a column. */
  def trimmedStatsOracleSql(table: String, groupCol: String,
                            valueCol: String, tiebreakCol: String,
                            trimBp: Int = 500): String =
    s"""WITH cents AS (
       |  SELECT $groupCol AS grp,
       |    CAST(CAST($valueCol AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
       |    $tiebreakCol AS tb
       |  FROM $table
       |), ranked AS (
       |  SELECT grp, x,
       |    row_number() OVER (PARTITION BY grp ORDER BY x ASC, tb ASC) AS rnk,
       |    count(*) OVER (PARTITION BY grp) AS n
       |  FROM cents
       |), kd AS (
       |  SELECT grp, x, rnk, CAST(n AS BIGINT) AS n,
       |    CAST(n * $trimBp // 10000 AS BIGINT) AS k
       |  FROM ranked
       |), agg AS (
       |  SELECT grp, n, k,
       |    sum(CAST(x AS HUGEINT)) AS sum_all,
       |    sum(CASE WHEN rnk > k AND rnk <= n - k THEN CAST(x AS HUGEINT)
       |      ELSE CAST(0 AS HUGEINT) END) AS sum_kept,
       |    max(CASE WHEN rnk = k + 1 THEN x END) AS low_clip,
       |    max(CASE WHEN rnk = n - k THEN x END) AS high_clip
       |  FROM kd GROUP BY grp, n, k
       |)
       |SELECT grp AS $groupCol, n, k,
       |  CAST(CAST(sum_all AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
       |  CAST(CAST(sum_kept AS VARCHAR) AS DOUBLE) / CAST(n - 2 * k AS DOUBLE) / 100.0
       |    AS trimmed_mean,
       |  CAST(CAST(sum_kept + CAST(k AS HUGEINT) * low_clip
       |      + CAST(k AS HUGEINT) * high_clip AS VARCHAR) AS DOUBLE)
       |    / CAST(n AS DOUBLE) / 100.0 AS winsorized_mean,
       |  CAST(low_clip AS DOUBLE) / 100.0 AS low_clip_value,
       |  CAST(high_clip AS DOUBLE) / 100.0 AS high_clip_value
       |FROM agg ORDER BY $groupCol""".stripMargin

  /** Exact per-group WEIGHTED median (lower weighted median: the smallest
    * value whose inclusive cumulative weight reaches half the group's
    * total) — the volume-aware center the plain median misses: a brand's
    * typical transacted price should weight a 50-unit line 50×, not 1×.
    *
    * Picked row satisfies 2·cw_incl ≥ W and 2·cw_excl < W — pure integer
    * comparisons on exact BIGINT weights, no interpolation, no division,
    * so the result is the untouched input double and hash-matches any
    * engine. Non-positive weights are excluded by contract (a zero-weight
    * row can never satisfy the crossing; excluding them keeps the total
    * meaningful). Exactly one row survives per group.
    *
    * Scale shape: the cumulative weight is ScalableRank's distributed
    * grouped prefix sum — range-partition + per-slice local window +
    * broadcast offsets — so a group spanning the corpus NEVER funnels
    * into one task (the q_running_totals contract, not a
    * Window.partitionBy(group) over full groups). Totals are one
    * partial-agged group-grain exchange joined back at group grain.
    */
  def weightedMedian(df: DataFrame, group: String, value: String,
                     weight: String, tiebreak: Seq[String]): DataFrame = {
    val rows = df
      .select((Seq(col(group), col(value),
        col(weight).cast("long").as("_w")) ++ tiebreak.map(col)): _*)
      .filter(col("_w") > 0)
    val pre = ScalableRank.withGroupedPrefixSum(
      rows, col(group), col(value) +: tiebreak.map(col), col("_w"), "_cw_excl")
    // totals derive from the prefix-sum OUTPUT (whose ranged input is
    // persisted inside withGroupedPrefixSum), not from `rows` — deriving
    // from rows would re-run the base scan a second time at 100 TB
    val totals = pre.groupBy(group)
      .agg(sum(col("_w")).as("total_w"), count(lit(1)).as("n_rows"))
    pre.join(totals, Seq(group))
      .filter(lit(2L) * (col("_cw_excl") + col("_w")) >= col("total_w") &&
        lit(2L) * col("_cw_excl") < col("total_w"))
      .select(col(group), col("n_rows"), col("total_w"),
        col(value).as("weighted_median"))
  }

  /** DuckDB mirror of [[weightedMedian]] over lineitem×part at brand
    * grain (value = extendedprice, weight = quantity). */
  def weightedMedianOracleSql: String =
    """WITH j AS (
      |  SELECT p_brand AS brand, l_extendedprice AS v,
      |    CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE CAST(l_quantity AS BIGINT) > 0
      |), c AS (
      |  SELECT brand, v, w,
      |    sum(w) OVER (PARTITION BY brand ORDER BY v, l_orderkey, l_linenumber
      |      ROWS UNBOUNDED PRECEDING) AS cw
      |  FROM j
      |), t AS (
      |  SELECT brand, CAST(sum(w) AS BIGINT) AS total_w,
      |    CAST(count(*) AS BIGINT) AS n_rows
      |  FROM j GROUP BY 1
      |)
      |SELECT c.brand, t.n_rows, t.total_w, c.v AS weighted_median
      |FROM c JOIN t USING (brand)
      |WHERE 2 * c.cw >= t.total_w AND 2 * (c.cw - c.w) < t.total_w
      |ORDER BY c.brand""".stripMargin
}
