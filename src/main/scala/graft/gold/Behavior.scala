package graft.gold

import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-behavior analytics over the events/orders streams: ordered funnel
  * conversion and cohort retention — the product-analytics queries the
  * reference serves from its gold layer (revenue_aggregations.py computes
  * per-day conversion inputs; we add the full ordered-sequence semantics).
  *
  * Scale shape: the funnel is ONE shuffle of events by user_id — every
  * chained stage timestamp is a conditional `min` over the SAME
  * user-partitioned window, so Catalyst plans a single exchange + sort and
  * evaluates all stages in one WindowExec pass; the per-user reduction and
  * the constant-size stage summary reuse/partial-agg on top. No per-stage
  * self-join (the naive formulation shuffles events once per stage).
  * Retention is two hash shuffles (user grain, then cohort×month grain) of
  * already-reduced rows. Both end bounded: |stages| rows / cohorts×months
  * rows.
  */
object Behavior {

  /** Ordered funnel: a user reaches stage i when an event of stage i's type
    * occurs STRICTLY AFTER their stage i-1 time (first qualifying event
    * counts; stage 0 is the user's first event of that type). Returns one
    * row per stage: users reached, conversion vs previous stage and vs
    * stage 0.
    *
    * `events` needs (user_id, event_type, ts_us). */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy("user_id")
    // t_i = min ts of stage-i events after t_{i-1}: chained conditional
    // window mins, all over the same partitioning (one exchange).
    val withTimes = stages.zipWithIndex.foldLeft(
      events.select(col("user_id"), col("event_type"), col("ts_us"))) {
      case (df, (stage, 0)) =>
        df.withColumn("t0", min(when(col("event_type") === stage, col("ts_us"))).over(w))
      case (df, (stage, i)) =>
        df.withColumn(s"t$i",
          min(when(col("event_type") === stage && col("ts_us") > col(s"t${i - 1}"),
            col("ts_us"))).over(w))
    }
    // one row per user (stage times are constant within the partition)
    val perUser = withTimes.groupBy("user_id")
      .agg(min(col("t0")).as("t0"),
        stages.indices.drop(1).map(i => min(col(s"t$i")).as(s"t$i")): _*)
    // constant-size summary: count users with t_i set, per stage
    val counts = perUser.agg(
      count(col("t0")).as("u0"),
      stages.indices.drop(1).map(i => count(col(s"t$i")).as(s"u$i")): _*)
    // one struct per stage exploded from the single summary row — NOT a
    // union of per-stage selects, which would re-plan (and re-scan) the
    // events subtree once per stage
    val stageStructs = stages.zipWithIndex.map { case (stage, i) =>
      val prev = if (i == 0) col("u0") else col(s"u${i - 1}")
      struct(
        lit(i.toLong).as("stage_idx"), lit(stage).as("stage"),
        col(s"u$i").as("users_reached"),
        when(prev === 0, lit(0.0))
          .otherwise(col(s"u$i").cast("double") / prev.cast("double"))
          .as("conversion_from_prev"),
        when(col("u0") === 0, lit(0.0))
          .otherwise(col(s"u$i").cast("double") / col("u0").cast("double"))
          .as("conversion_from_start"))
    }
    counts.select(explode(array(stageStructs: _*)).as("_s")).select(col("_s.*"))
  }

  /** Time-to-convert distribution: among users who complete the whole
    * ordered funnel, the lag from first stage to final stage — the
    * "how long does activation take" dispersion (exact p50/p95, not a
    * mean that a few slow converters drag) that pairs with [[funnel]]'s
    * how-many counts.
    *
    * Exactness: lags are integer µs; the mean sums them as
    * decimal(38,0) (HUGEINT in the oracle — µs lags × 10⁹ users
    * overflow BIGINT) with one VARCHAR-routed conversion; percentiles
    * are exact rank-interpolated (the quantile_cont contract).
    *
    * Scale shape: the same single user-grain exchange as [[funnel]]
    * (chained conditional window mins); the converted-user frame is
    * persisted (it feeds totals AND the rank path); global percentiles
    * ride the grouped prefix sum under a constant group — never a
    * corpus-wide single-partition window. */
  def conversionLag(events: DataFrame, stages: Seq[String]): DataFrame = {
    import graft.operators.{RankPercentile, ScalableRank}
    require(stages.size >= 2, "conversionLag needs at least two stages")
    val w = Window.partitionBy("user_id")
    val withTimes = stages.zipWithIndex.foldLeft(
      events.select(col("user_id"), col("event_type"), col("ts_us"))) {
      case (df, (stage, 0)) =>
        df.withColumn("t0", min(when(col("event_type") === stage, col("ts_us"))).over(w))
      case (df, (stage, i)) =>
        df.withColumn(s"t$i",
          min(when(col("event_type") === stage && col("ts_us") > col(s"t${i - 1}"),
            col("ts_us"))).over(w))
    }
    val last = s"t${stages.size - 1}"
    val perUser = CacheRegistry.persist(ScalableRank, withTimes
      .groupBy("user_id")
      .agg(min(col("t0")).as("t0"), min(col(last)).as("t_last"))
      .filter(col("t_last").isNotNull)
      .select(col("user_id"), (col("t_last") - col("t0")).as("lag_us")))
    val totals = perUser.agg(
      count(lit(1)).as("n_converted"),
      sum(col("lag_us").cast("decimal(38,0)")).as("_sum_lag"),
      min(col("lag_us")).as("min_lag_us"),
      max(col("lag_us")).as("max_lag_us"))
    val ranked = ScalableRank.withGroupedPrefixSum(perUser, lit(1L),
        Seq(col("lag_us").asc, col("user_id").asc), lit(1L), "_cl_r0")
      .withColumn(RankPercentile.RankCol, col("_cl_r0") + lit(1L))
    val frame = ranked
      .crossJoin(broadcast(totals
        .select(col("n_converted").as(RankPercentile.CountCol))))
      .withColumn(RankPercentile.ValueCol, col("lag_us").cast("double"))
    val pcts = RankPercentile.atNeededRanks(frame, Seq(0.5, 0.95))
      .agg(RankPercentile.pct(0.5).as("p50_lag_us"),
        RankPercentile.pct(0.95).as("p95_lag_us"))
    totals.crossJoin(pcts)
      .withColumn("avg_lag_us",
        col("_sum_lag").cast("string").cast("double")
          / col("n_converted").cast("double"))
      .select("n_converted", "avg_lag_us", "p50_lag_us", "p95_lag_us",
        "min_lag_us", "max_lag_us")
  }

  /** Time-constrained funnel (the ClickHouse `windowFunnel` family, with
    * PER-STEP windows): a user reaches stage i only through a chain
    * e₁ < … < eᵢ in (ts, event_id) order where each consecutive gap is
    * ≤ `windowUs` — "signed up, then viewed within a day OF THAT, then
    * clicked within a day OF THAT". The plain [[funnel]] never expires a
    * chain; this one does, which is what campaign attribution and
    * activation SLAs actually ask.
    *
    * Algorithm: one greedy left fold per user over the time-ordered
    * stage-event array, keeping for every stage the LATEST timestamp at
    * which a valid chain completed it. Latest-is-optimal for per-step
    * windows: a later completion can only loosen the next step's
    * deadline, and chain validity never depends on discarded history —
    * so the fold finds the maximal reachable stage. Stage timestamps
    * are only ever set when the previous stage's slot is set, so the
    * reached set is a contiguous prefix.
    *
    * Exactness: the fold is ALL-INTEGER (µs timestamps, comparisons) —
    * no floats until the final conversion-rate divisions, which are
    * single IEEE divisions of exact counts. The oracle mirrors the fold
    * as a recursive CTE (the Holt contract: struct-accumulator
    * list_reduce is quirky in DuckDB; recursive CTEs are not).
    *
    * Scale shape: non-stage events are pruned BEFORE the one user-grain
    * shuffle; the fold is row-local over an array bounded by one user's
    * stage-event activity (the sessionPaths contract); the stage
    * summary is a 1-row aggregate exploded to |stages| rows.
    */
  def windowFunnel(events: DataFrame, stages: Seq[String],
                   windowUs: Long): DataFrame = {
    require(stages.size >= 2 && stages.distinct == stages,
      "windowFunnel needs >= 2 distinct stages")
    val k = stages.size
    val stagesSql = stages.map(s => s"'$s'").mkString("array(", ", ", ")")
    val perUser = events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .groupBy("user_id")
      .agg(expr("array_sort(collect_list(struct(ts_us, event_id, event_type)))")
        .as("evs"))
      .withColumn("acc", expr(
        s"""aggregate(evs, array_repeat(CAST(-1 AS BIGINT), $k), (acc, x) ->
           |  transform(acc, (v, j) ->
           |    CASE WHEN j + 1 = array_position($stagesSql, x.event_type)
           |         THEN CASE WHEN j = 0 THEN x.ts_us
           |                   WHEN acc[j - 1] >= 0L
           |                        AND x.ts_us - acc[j - 1] <= ${windowUs}L
           |                   THEN x.ts_us
           |                   ELSE v END
           |         ELSE v END))""".stripMargin))
      .withColumn("reached", expr("size(filter(acc, v -> v >= 0L))"))
    val counts = perUser.agg(
      sum(when(col("reached") >= 1, lit(1L)).otherwise(lit(0L))).as("u0"),
      (1 until k).map(i =>
        sum(when(col("reached") >= i + 1, lit(1L)).otherwise(lit(0L))).as(s"u$i")): _*)
    val stageStructs = stages.zipWithIndex.map { case (stage, i) =>
      val prev = if (i == 0) col("u0") else col(s"u${i - 1}")
      struct(
        lit(i.toLong).as("stage_idx"), lit(stage).as("stage"),
        col(s"u$i").as("users_reached"),
        when(prev === 0, lit(0.0))
          .otherwise(col(s"u$i").cast("double") / prev.cast("double"))
          .as("conversion_from_prev"),
        when(col("u0") === 0, lit(0.0))
          .otherwise(col(s"u$i").cast("double") / col("u0").cast("double"))
          .as("conversion_from_start"))
    }
    counts.select(explode(array(stageStructs: _*)).as("_s")).select(col("_s.*"))
  }

  /** DuckDB mirror of [[windowFunnel]] — the greedy fold as a recursive
    * CTE with one timestamp column per stage. Callers must open the
    * chain with `WITH RECURSIVE` (the DedupClusterCtes pattern). */
  def windowFunnelOracleCtes(stages: Seq[String], windowUs: Long): String = {
    val k = stages.size
    val tCols = stages.indices.map(i => s"t$i").mkString(", ")
    val init = stages.indices.map(_ => "CAST(-1 AS BIGINT)").mkString(", ")
    val steps = stages.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"CASE WHEN u.evs[f.i + 1].t = '$s' THEN u.evs[f.i + 1].ts_us ELSE f.t0 END"
      else
        s"""CASE WHEN u.evs[f.i + 1].t = '$s' AND f.t${i - 1} >= 0
           |           AND u.evs[f.i + 1].ts_us - f.t${i - 1} <= $windowUs
           |      THEN u.evs[f.i + 1].ts_us ELSE f.t$i END""".stripMargin
    }.mkString(",\n      |    ")
    val reachedSum = stages.indices
      .map(i => s"(CASE WHEN t$i >= 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val inList = stages.map(s => s"'$s'").mkString(", ")
    s"""
      |, u AS (
      |  SELECT user_id,
      |    list(struct_pack(ts_us := ts_us, event_id := event_id, t := event_type)
      |         ORDER BY ts_us, event_id) AS evs
      |  FROM ev WHERE event_type IN ($inList) GROUP BY 1
      |), f(user_id, i, $tCols) AS (
      |    SELECT user_id, 0, $init FROM u
      |  UNION ALL
      |    SELECT f.user_id, f.i + 1,
      |    $steps
      |    FROM f JOIN u USING (user_id) WHERE f.i < len(u.evs)
      |), fin AS (
      |  SELECT f.user_id, $reachedSum AS reached
      |  FROM f JOIN u USING (user_id) WHERE f.i = len(u.evs)
      |), c AS (
      |  SELECT ${stages.indices.map(i =>
            s"CAST(sum(CASE WHEN reached >= ${i + 1} THEN 1 ELSE 0 END) AS BIGINT) AS u$i")
            .mkString(",\n      |    ")}
      |  FROM fin
      |)""".stripMargin
  }

  /** Full oracle tail: one row per stage from the 1-row count frame. */
  def windowFunnelOracleSelect(stages: Seq[String]): String =
    stages.zipWithIndex.map { case (s, i) =>
      val prev = if (i == 0) "u0" else s"u${i - 1}"
      s"""SELECT CAST($i AS BIGINT) AS stage_idx, '$s' AS stage, u$i AS users_reached,
         |  CASE WHEN $prev = 0 THEN 0.0
         |       ELSE CAST(u$i AS DOUBLE) / CAST($prev AS DOUBLE) END AS conversion_from_prev,
         |  CASE WHEN u0 = 0 THEN 0.0
         |       ELSE CAST(u$i AS DOUBLE) / CAST(u0 AS DOUBLE) END AS conversion_from_start
         |FROM c""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY stage_idx")

  /** A/B funnel comparison: the ordered funnel split by a deterministic
    * arm assignment, with a pooled two-proportion z-test per stage on
    * conversion-from-start — "did the treatment change where users drop
    * off, and is the gap more than noise?". Same single-exchange funnel
    * plan (arm is a pure function of user_id, so it costs nothing); the
    * per-arm counts collapse to ONE row and every stage's test is an
    * integer-count IEEE chain (NULL z when the pooled rate is degenerate).
    */
  def funnelAb(events: DataFrame, stages: Seq[String], arm: Column): DataFrame = {
    require(stages.size >= 2, "an A/B funnel needs at least two stages")
    val w = Window.partitionBy("user_id")
    val withTimes = stages.zipWithIndex.foldLeft(
      events.select(col("user_id"), col("event_type"), col("ts_us"))) {
      case (df, (stage, 0)) =>
        df.withColumn("t0", min(when(col("event_type") === stage, col("ts_us"))).over(w))
      case (df, (stage, i)) =>
        df.withColumn(s"t$i",
          min(when(col("event_type") === stage && col("ts_us") > col(s"t${i - 1}"),
            col("ts_us"))).over(w))
    }
    val perUser = withTimes.groupBy("user_id")
      .agg(min(col("t0")).as("t0"),
        stages.indices.drop(1).map(i => min(col(s"t$i")).as(s"t$i")): _*)
      .withColumn("arm", arm)
    val counts = perUser.groupBy("arm")
      .agg(count(col("t0")).as("u0"),
        stages.indices.drop(1).map(i => count(col(s"t$i")).as(s"u$i")): _*)
    // both arms folded into ONE row: a_u*/b_u* columns
    val armCols = stages.indices.flatMap { i =>
      Seq(coalesce(max(when(col("arm") === "A", col(s"u$i"))), lit(0L))
            .as(s"a_u$i"),
          coalesce(max(when(col("arm") === "B", col(s"u$i"))), lit(0L))
            .as(s"b_u$i"))
    }
    val one = counts.agg(armCols.head, armCols.tail: _*)
    val stageStructs = stages.zipWithIndex.map { case (stage, i) =>
      val (au, bu) = (col(s"a_u$i"), col(s"b_u$i"))
      val (an, bn) = (col("a_u0"), col("b_u0"))
      val pA = when(an === 0, lit(0.0))
        .otherwise(au.cast("double") / an.cast("double"))
      val pB = when(bn === 0, lit(0.0))
        .otherwise(bu.cast("double") / bn.cast("double"))
      val pPool = (au + bu).cast("double") / (an + bn).cast("double")
      val se = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / an.cast("double") + lit(1.0) / bn.cast("double")))
      struct(
        lit(i.toLong).as("stage_idx"), lit(stage).as("stage"),
        an.as("a_entered"), au.as("a_reached"),
        bn.as("b_entered"), bu.as("b_reached"),
        pA.as("p_a"), pB.as("p_b"),
        when(an > 0 && bn > 0 && se > 0.0, (pA - pB) / se)
          .otherwise(lit(null).cast("double")).as("z"))
    }
    one.select(explode(array(stageStructs: _*)).as("_s")).select(col("_s.*"))
  }

  /** Monthly retention cohorts: cohort = month of a customer's first order;
    * for every (cohort_month, months_since_cohort) report active distinct
    * customers and the retention rate vs the cohort's size (its
    * months_since=0 population).
    *
    * `orders` needs (custKey, dateCol as DATE). */
  def retentionCohorts(orders: DataFrame, custKey: String, dateCol: String): DataFrame = {
    val w = Window.partitionBy(custKey)
    val monthIdx = (c: Column) => year(c) * 12 + month(c)
    val withCohort = orders
      .select(col(custKey), trunc(col(dateCol), "month").as("activity_month"))
      .withColumn("cohort_month", min(col("activity_month")).over(w))
    val active = withCohort
      .groupBy(col("cohort_month"),
        (monthIdx(col("activity_month")) - monthIdx(col("cohort_month")))
          .cast("long").as("months_since"))
      .agg(countDistinct(col(custKey)).as("active_customers"))
    // cohort size = its month-0 population; window over the (tiny) rollup
    val wc = Window.partitionBy("cohort_month")
    active
      .withColumn("cohort_size",
        max(when(col("months_since") === 0, col("active_customers"))).over(wc))
      .withColumn("retention_rate",
        col("active_customers").cast("double") / col("cohort_size").cast("double"))
  }

  /** Cohort lifetime-value curves: for each acquisition cohort (month of a
    * customer's first order) and month-age, the cohort's exact revenue,
    * its cumulative revenue to that age, and cumulative LTV per acquired
    * customer — the curve a growth team reads payback periods off, and
    * the revenue-weighted completion of [[retentionCohorts]] (which only
    * counts heads).
    *
    * Exactness: revenue sums ride the decimal(18,2) money contract end to
    * end (the cumulative sum is a DECIMAL window sum over the tiny
    * (cohort, age) rollup, still exact); the only doubles are the final
    * casts and one IEEE division per row. Scale: two customer-grain
    * exchanges (first-order window + rollup) over orders, then windows on
    * a #cohorts×#ages mart — per-cohort partitions are bounded by the
    * calendar, never by the corpus. */
  def cohortLtv(orders: DataFrame, custKey: String, dateCol: String,
                priceCol: String): DataFrame = {
    val w = Window.partitionBy(custKey)
    val monthIdx = (c: Column) => year(c) * 12 + month(c)
    val base = orders
      .select(col(custKey), trunc(col(dateCol), "month").as("activity_month"),
        col(priceCol).cast("decimal(18,2)").as("_price"))
      .withColumn("cohort_month", min(col("activity_month")).over(w))
    val grain = base
      .groupBy(col("cohort_month"),
        (monthIdx(col("activity_month")) - monthIdx(col("cohort_month")))
          .cast("long").as("months_since"))
      .agg(countDistinct(col(custKey)).as("active_customers"),
        sum(col("_price")).as("_rev"))
    // every cohort member is active at month 0 by definition, so cohort
    // size is the month-0 head count — a window on the tiny rollup, not a
    // second corpus pass (the retentionCohorts trick)
    val wsz = Window.partitionBy("cohort_month")
    val wc = Window.partitionBy("cohort_month").orderBy("months_since")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grain
      .withColumn("cohort_size",
        max(when(col("months_since") === 0L, col("active_customers"))).over(wsz))
      .withColumn("_cum", sum(col("_rev")).over(wc))
      .select(col("cohort_month"), col("months_since"),
        col("active_customers"), col("cohort_size"),
        col("_rev").cast("double").as("revenue"),
        col("_cum").cast("double").as("cum_revenue"),
        (col("_cum").cast("double") / col("cohort_size").cast("double"))
          .as("cum_ltv_per_customer"))
      .orderBy("cohort_month", "months_since")
  }
}
