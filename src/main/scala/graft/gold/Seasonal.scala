package graft.gold

import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seasonal-baseline anomaly detection: compare each (date, hour)'s
  * purchase volume against the (day-of-week, hour) baseline learned
  * from the whole period — the deseasonalized version of [[Drift]]'s
  * period-vs-period screen. "Tuesday 3am is quiet" is signal, not
  * anomaly; a Tuesday 3am that looks like a Friday noon is the fraud
  * burst / outage marker the reference's Grafana row watches for.
  *
  * Scale shape: the fact scan collapses to (date, hour) grain in one
  * partial-agged groupBy (frame size = days × 24, grows with the
  * calendar, not the data); the baseline is a second partial agg onto
  * the 7 × 24 = 168-row frame, broadcast back. Scan bound at any
  * scale; every post-agg op runs on calendar-sized frames.
  *
  * Cross-engine exactness: hourly totals are exact decimal sums
  * (SURVEY §4 money contract); the baseline mean divides a decimal
  * sum-of-sums by a BIGINT day count; ratio and flags are IEEE ops on
  * identically-derived doubles.
  */
object Seasonal {

  def hourlyAnomalies(events: DataFrame,
                      lowRatio: Double = 0.5,
                      highRatio: Double = 2.0): DataFrame = {
    // The calendar-grain hourly frame feeds both the baseline fit and the
    // scored output — persisted so the events fact table scans once.
    CacheRegistry.release(Seasonal)
    val hourly = CacheRegistry.persist(Seasonal, events
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"), hour(col("ts")).as("hr"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("dec_total")))

    val baseline = hourly
      .withColumn("dow", dayofweek(col("day")))
      .groupBy("dow", "hr")
      .agg(sum(col("dec_total")).as("dec_sum"), count(lit(1)).as("n_days"))
      .withColumn("baseline",
        col("dec_sum").cast("double") / col("n_days").cast("double"))
      .select("dow", "hr", "n_days", "baseline")

    hourly
      .withColumn("dow", dayofweek(col("day")))
      .join(broadcast(baseline), Seq("dow", "hr"))
      .withColumn("actual", col("dec_total").cast("double"))
      .withColumn("ratio", col("actual") / col("baseline"))
      .withColumn("is_anomalous",
        col("ratio") < lit(lowRatio) || col("ratio") > lit(highRatio))
      .select(col("day"), col("hr"), col("dow").cast("long").as("dow"),
        col("n_days"), col("actual"), col("baseline"), col("ratio"),
        col("is_anomalous"))
      .orderBy("day", "hr")
  }

  /** Per-series OLS trend over daily totals: slope, intercept, and a
    * one-day-ahead forecast for each event type — the linear-trend
    * component the dashboard's trend panel eyeballs, computed exactly.
    * Least squares from the five classic sums (n, Σx, Σy, Σxy, Σx²)
    * with x = epoch day:
    *   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²).
    *
    * Exactness: daily totals are exact decimal sums; Σy and Σxy
    * accumulate as DECIMAL (x is an integer day, so x·y is exact);
    * Σx/Σx²/n are BIGINTs; every final double forms in fixed
    * expression order from one VARCHAR-routed conversion per sum
    * (the q_corr contract). Scale shape: fact scan → (type, day)
    * partial agg (calendar-sized frame) → (type) partial agg of the
    * moment sums → row-local algebra. Two exchanges, scan bound. */
  def dailyTrend(events: DataFrame): DataFrame = {
    // Daily totals as exact integer CENTS (the Forensics cast contract) so
    // every moment sum is pure integer arithmetic — decimal×decimal would
    // blow past width 38 in either engine's type promotion.
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * lit(100)).cast("long").as("y_cents"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    daily.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        max(col("x")).as("max_x"),
        sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y_cents").cast("decimal(38,0)")).as("sum_y_dec"),
        sum((col("x") * col("y_cents")).cast("decimal(38,0)")).as("sum_xy_dec"))
      .withColumn("sum_y", col("sum_y_dec").cast("string").cast("double"))
      .withColumn("sum_xy", col("sum_xy_dec").cast("string").cast("double"))
      .withColumn("slope_cents",
        (col("n_days") * col("sum_xy") - col("sum_x") * col("sum_y")) /
          (col("n_days") * col("sum_x2") - col("sum_x") * col("sum_x")).cast("double"))
      .withColumn("intercept_cents",
        (col("sum_y") - col("slope_cents") * col("sum_x")) / col("n_days").cast("double"))
      .withColumn("forecast_next",
        (col("intercept_cents") + col("slope_cents") * (col("max_x") + lit(1L)).cast("double"))
          / lit(100.0))
      .select("event_type", "n_days", "slope_cents", "intercept_cents",
        "forecast_next")
      .orderBy("event_type")
  }

  /** Theil–Sen robust daily trend — the median-of-pairwise-slopes
    * estimator (Theil 1950/Sen 1968): immune to the outlier days OLS
    * chases (a flash-sale spike or an outage zero bends the OLS line,
    * moves the Theil–Sen median not at all — up to ~29% contamination).
    *
    * Scale shape: the pair join runs at DAY grain, which is bounded by
    * the CALENDAR, not the corpus — a year is ≤ 366 rows per type,
    * ≤ ~67k pairs, regardless of how many trillion events collapsed
    * into the daily table (that one exchange is the same the OLS path
    * pays). The per-type rank windows are over those calendar-bounded
    * pair sets. Medians are rank-selected explicitly — the two middle
    * rows by (value, tiebreak) — and averaged as sum/count over the
    * matched rows (1 row when odd, 2 when even; two-term IEEE addition
    * is commutative, so the sum is order-safe), mirrored verbatim in the
    * oracle. Slopes and residuals are IEEE divisions of exact integer
    * cents. */
  def dailyTrendRobust(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * lit(100)).cast("long").as("y_cents"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))

    val a = daily.select(col("event_type"), col("x").as("xi"), col("y_cents").as("yi"))
    val b = daily.select(col("event_type").as("et_b"), col("x").as("xj"),
      col("y_cents").as("yj"))
    val slopes = a.join(b, col("event_type") === col("et_b") && col("xi") < col("xj"))
      .withColumn("slope",
        (col("yj") - col("yi")).cast("double") / (col("xj") - col("xi")).cast("double"))
      .select("event_type", "xi", "xj", "slope")

    val wS = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("xi"), col("xj"))
    val nPairs = slopes.groupBy("event_type").agg(count(lit(1)).as("n_pairs"))
    val medSlope = slopes.withColumn("rk", row_number().over(wS))
      .join(nPairs, "event_type")
      .filter(col("rk") === expr("(n_pairs + 1) DIV 2") ||
        col("rk") === expr("n_pairs DIV 2 + 1"))
      .groupBy("event_type", "n_pairs")
      .agg((sum(col("slope")) / count(lit(1)).cast("double")).as("ts_slope_cents"))

    // intercept = median over days of the residual y − slope·x
    val resid = daily.join(medSlope, "event_type")
      .withColumn("r",
        col("y_cents").cast("double") - col("ts_slope_cents") * col("x").cast("double"))
    val wR = Window.partitionBy(col("event_type")).orderBy(col("r"), col("x"))
    val dayAgg = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), max(col("x")).as("max_x"))
    resid.withColumn("rk", row_number().over(wR))
      .join(dayAgg, "event_type")
      .filter(col("rk") === expr("(n_days + 1) DIV 2") ||
        col("rk") === expr("n_days DIV 2 + 1"))
      .groupBy("event_type", "n_pairs", "n_days", "max_x", "ts_slope_cents")
      .agg((sum(col("r")) / count(lit(1)).cast("double")).as("ts_intercept_cents"))
      .withColumn("forecast_next",
        (col("ts_intercept_cents") +
          col("ts_slope_cents") * (col("max_x") + lit(1L)).cast("double")) / lit(100.0))
      .select("event_type", "n_days", "n_pairs", "ts_slope_cents",
        "ts_intercept_cents", "forecast_next")
      .orderBy("event_type")
  }

  /** CUSUM change-point screen (Page 1954) on the daily revenue series
    * per event type: the standard SPC detector for a sustained mean
    * shift that per-day z-score thresholds miss (many small same-sign
    * deviations accumulate; one outlier day does not). s⁺ accumulates
    * standardized up-shifts (max(0, s⁺+z−k)), s⁻ down-shifts; an alarm
    * fires when either passes ±h.
    *
    * Scale shape: events collapse once to day grain; each type's series
    * is then ONE ROW holding a calendar-bounded array (≤366/yr), and the
    * recursive CUSUM folds run as row-local HOF `aggregate` over array
    * prefixes — O(days²) per type on ≤366 elements, no iterative jobs,
    * no UDF, no driver loop. Standardization uses exact decimal moments;
    * the folds are identical left-to-right IEEE chains in Spark
    * `aggregate` and DuckDB `list_reduce`, so the frame is hash-exact. */
  def cusum(events: DataFrame, k: Double = 0.5, h: Double = 4.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * lit(100)).cast("long").as("y_cents"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val stats = daily.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("y_cents").cast("decimal(38,0)")).cast("string").cast("double").as("sy"),
        sum((col("y_cents").cast("decimal(18,0)") * col("y_cents").cast("decimal(18,0)")))
          .cast("string").cast("double").as("syy"))
      .withColumn("mu", col("sy") / col("n").cast("double"))
      .withColumn("sigma",
        sqrt(col("syy") / col("n").cast("double") - col("mu") * col("mu")))
      .select("event_type", "mu", "sigma")
    daily.join(broadcast(stats), "event_type")
      .groupBy("event_type", "mu", "sigma")
      .agg(array_sort(collect_list(struct(col("x"), col("day"), col("y_cents")))).as("s"))
      .withColumn("zs",
        expr("transform(s, e -> (CAST(e.y_cents AS DOUBLE) - mu) / sigma)"))
      .withColumn("out", expr(
        s"""transform(sequence(1, size(s)), t -> struct(
           |  element_at(s, t).day AS day,
           |  element_at(s, t).y_cents AS y_cents,
           |  element_at(zs, t) AS z,
           |  aggregate(slice(zs, 1, t), CAST(0.0 AS DOUBLE),
           |    (acc, z) -> greatest(acc + z - $k, CAST(0.0 AS DOUBLE))) AS s_plus,
           |  aggregate(slice(zs, 1, t), CAST(0.0 AS DOUBLE),
           |    (acc, z) -> least(acc + z + $k, CAST(0.0 AS DOUBLE))) AS s_minus))""".stripMargin))
      .select(col("event_type"), explode(col("out")).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        col("r.y_cents").as("y_cents"), col("r.z").as("z"),
        col("r.s_plus").as("s_plus"), col("r.s_minus").as("s_minus"),
        (col("r.s_plus") > h).as("shift_up"),
        (col("r.s_minus") < -h).as("shift_down"))
      .orderBy("event_type", "day")
  }

  /** DuckDB mirror of [[cusum]] — list_reduce with a prepended 0.0 is the
    * same left fold as Spark's aggregate(…, 0.0, λ). */
  def cusumOracleSql(k: Double = 0.5, h: Double = 4.0): String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_cents
       |  FROM events GROUP BY 1, 2
       |), st AS (
       |  SELECT event_type,
       |    CAST(CAST(sum(CAST(y_cents AS HUGEINT)) AS VARCHAR) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS mu,
       |    sqrt(CAST(CAST(sum(CAST(y_cents AS HUGEINT) * y_cents) AS VARCHAR) AS DOUBLE)
       |        / CAST(count(*) AS DOUBLE)
       |      - (CAST(CAST(sum(CAST(y_cents AS HUGEINT)) AS VARCHAR) AS DOUBLE)
       |        / CAST(count(*) AS DOUBLE))
       |      * (CAST(CAST(sum(CAST(y_cents AS HUGEINT)) AS VARCHAR) AS DOUBLE)
       |        / CAST(count(*) AS DOUBLE))) AS sigma
       |  FROM daily GROUP BY 1
       |), ser AS (
       |  SELECT d.event_type, mu, sigma,
       |    list(struct_pack(day := day, y_cents := y_cents) ORDER BY day) AS s
       |  FROM daily d JOIN st ON d.event_type = st.event_type
       |  GROUP BY 1, 2, 3
       |), zz AS (
       |  SELECT event_type, s,
       |    list_transform(s, e -> (CAST(e.y_cents AS DOUBLE) - mu) / sigma) AS zs
       |  FROM ser
       |), rows_ AS (
       |  SELECT event_type,
       |    unnest(list_transform(range(1, len(s) + 1), t -> struct_pack(
       |      day := s[t].day, y_cents := s[t].y_cents, z := zs[t],
       |      s_plus := list_reduce(list_prepend(CAST(0.0 AS DOUBLE), zs[1:t]),
       |        (acc, z) -> greatest(acc + z - $k, CAST(0.0 AS DOUBLE))),
       |      s_minus := list_reduce(list_prepend(CAST(0.0 AS DOUBLE), zs[1:t]),
       |        (acc, z) -> least(acc + z + $k, CAST(0.0 AS DOUBLE)))))) AS r
       |  FROM zz
       |)
       |SELECT event_type, r.day AS day, r.y_cents AS y_cents, r.z AS z,
       |  r.s_plus AS s_plus, r.s_minus AS s_minus,
       |  r.s_plus > $h AS shift_up, r.s_minus < -$h AS shift_down
       |FROM rows_ ORDER BY event_type, day""".stripMargin

  /** Rolling 7-day correlation between daily GMV and daily error count —
    * the fraud-ops KPI behind "are failures tracking revenue or breaking
    * away from it" (a rising-revenue/rising-error regime is load; errors
    * decoupling from revenue is an attack or an outage).
    *
    * Scale shape: events collapse once to the DAY-grain two-series table
    * (one exchange); the trailing RANGE window then runs over
    * calendar-bounded rows (a year is 366 rows — the same justification
    * as the Theil–Sen pair join; the unpartitioned window is over days,
    * never data grain). Window sums are exact decimals of integer cents
    * and counts; the correlation is a fixed double chain mirrored in the
    * oracle, NULL where the window variance is zero or n < 2. */
  def rollingCorr(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        coalesce(
          (sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(18,2)"))) * lit(100)).cast("long"),
          lit(0L)).as("gmv_cents"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err_count"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.orderBy(col("x")).rangeBetween(-(windowDays - 1), 0)
    def dsum(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,0)")).over(w)
    // cross-products as decimal(18)×decimal(18) → (37,0): exact at any
    // realistic cents scale, never a silent long overflow
    def prod(a: String, b: String) =
      col(a).cast("decimal(18,0)") * col(b).cast("decimal(18,0)")
    daily
      .withColumn("n_w", count(lit(1)).over(w))
      .withColumn("s_g", dsum(col("gmv_cents")).cast("string").cast("double"))
      .withColumn("s_e", dsum(col("err_count")).cast("string").cast("double"))
      .withColumn("s_gg", dsum(prod("gmv_cents", "gmv_cents")).cast("string").cast("double"))
      .withColumn("s_ee", dsum(prod("err_count", "err_count")).cast("string").cast("double"))
      .withColumn("s_ge", dsum(prod("gmv_cents", "err_count")).cast("string").cast("double"))
      .withColumn("nd", col("n_w").cast("double"))
      .withColumn("var_g", col("nd") * col("s_gg") - col("s_g") * col("s_g"))
      .withColumn("var_e", col("nd") * col("s_ee") - col("s_e") * col("s_e"))
      .withColumn("rolling_corr",
        when(col("n_w") >= 2 && col("var_g") > 0 && col("var_e") > 0,
          (col("nd") * col("s_ge") - col("s_g") * col("s_e")) /
            (sqrt(col("var_g")) * sqrt(col("var_e")))))
      .select(col("day"), col("n_w").as("n_days_in_window"),
        col("gmv_cents"), col("err_count"), col("rolling_corr"))
      .orderBy("day")
  }

  /** DuckDB mirror of [[rollingCorr]]. */
  def rollingCorrOracleSql(windowDays: Int = 7): String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    COALESCE(CAST(sum(CASE WHEN event_type = 'purchase'
       |      THEN CAST(value AS DECIMAL(18,2)) END) * 100 AS BIGINT), 0) AS gmv_cents,
       |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS err_count,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 4
       |), ws AS (
       |  SELECT day, gmv_cents, err_count,
       |    CAST(count(*) OVER w AS BIGINT) AS n_w,
       |    CAST(CAST(sum(CAST(gmv_cents AS HUGEINT)) OVER w AS VARCHAR) AS DOUBLE) AS s_g,
       |    CAST(CAST(sum(CAST(err_count AS HUGEINT)) OVER w AS VARCHAR) AS DOUBLE) AS s_e,
       |    CAST(CAST(sum(CAST(gmv_cents AS HUGEINT) * gmv_cents) OVER w AS VARCHAR) AS DOUBLE) AS s_gg,
       |    CAST(CAST(sum(CAST(err_count AS HUGEINT) * err_count) OVER w AS VARCHAR) AS DOUBLE) AS s_ee,
       |    CAST(CAST(sum(CAST(gmv_cents AS HUGEINT) * err_count) OVER w AS VARCHAR) AS DOUBLE) AS s_ge
       |  FROM daily
       |  WINDOW w AS (ORDER BY x RANGE BETWEEN ${windowDays - 1} PRECEDING AND CURRENT ROW)
       |), st AS (
       |  SELECT day, n_w, gmv_cents, err_count,
       |    CAST(n_w AS DOUBLE) AS nd, s_g, s_e, s_gg, s_ee, s_ge,
       |    CAST(n_w AS DOUBLE) * s_gg - s_g * s_g AS var_g,
       |    CAST(n_w AS DOUBLE) * s_ee - s_e * s_e AS var_e
       |  FROM ws
       |)
       |SELECT day, n_w AS n_days_in_window, gmv_cents, err_count,
       |  CASE WHEN n_w >= 2 AND var_g > 0 AND var_e > 0
       |    THEN (nd * s_ge - s_g * s_e) / (sqrt(var_g) * sqrt(var_e)) END
       |    AS rolling_corr
       |FROM st ORDER BY day""".stripMargin

  /** DuckDB mirror of [[dailyTrendRobust]]. */
  def robustTrendOracleSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_cents
      |  FROM events GROUP BY 1, 2
      |), dx AS (
      |  SELECT event_type, y_cents,
      |    CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS x
      |  FROM daily
      |), slopes AS (
      |  SELECT a.event_type, a.x AS xi, b.x AS xj,
      |    CAST(b.y_cents - a.y_cents AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      |  FROM dx a JOIN dx b ON a.event_type = b.event_type AND a.x < b.x
      |), rs AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type ORDER BY slope, xi, xj) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n_pairs
      |  FROM slopes
      |), ms AS (
      |  SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
      |    sum(slope) / CAST(count(*) AS DOUBLE) AS ts_slope_cents
      |  FROM rs
      |  WHERE rk = (n_pairs + 1) // 2 OR rk = n_pairs // 2 + 1
      |  GROUP BY event_type, n_pairs
      |), resid AS (
      |  SELECT dx.event_type,
      |    CAST(y_cents AS DOUBLE) - ts_slope_cents * CAST(x AS DOUBLE) AS r, x
      |  FROM dx JOIN ms ON dx.event_type = ms.event_type
      |), rr AS (
      |  SELECT event_type, r,
      |    row_number() OVER (PARTITION BY event_type ORDER BY r, x) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n_days
      |  FROM resid
      |), da AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, max(x) AS max_x
      |  FROM dx GROUP BY 1
      |), mi AS (
      |  SELECT event_type, sum(r) / CAST(count(*) AS DOUBLE) AS ts_intercept_cents
      |  FROM rr
      |  WHERE rk = (n_days + 1) // 2 OR rk = n_days // 2 + 1
      |  GROUP BY event_type
      |)
      |SELECT ms.event_type, da.n_days, ms.n_pairs, ms.ts_slope_cents,
      |  mi.ts_intercept_cents,
      |  (mi.ts_intercept_cents + ms.ts_slope_cents * CAST(max_x + 1 AS DOUBLE)) / 100.0
      |    AS forecast_next
      |FROM ms JOIN mi ON ms.event_type = mi.event_type
      |        JOIN da ON ms.event_type = da.event_type
      |ORDER BY ms.event_type""".stripMargin

  // ---- EWMA control chart ------------------------------------------------
  //   lambda = 0.2, L = 3 as shared literals; the burn-in (first 14 days)
  //   estimates the in-control center/sigma by LEFT-FOLD sums (a plain SQL
  //   SUM over doubles is order-arbitrary — exactly what the fold avoids).
  private val EwLambda = "0.2"; private val EwOneMinus = "0.8"
  private val EwBurn = 14; private val EwL = "3.0"

  /** EWMA control chart (Roberts 1959; the SPC standard NIST/SEMATECH
    * 6.3.2.4) on daily revenue: z_t = λ·y_t + (1−λ)·z_{t−1} from the
    * burn-in mean, with the per-day control half-width
    * L·σ̂·sqrt(λ/(2−λ)·(1−(1−λ)^{2t})) — small persistent shifts that a
    * Shewhart rule misses accumulate in z and cross the band (the batch
    * sibling of streaming/StatefulDrift's per-user EWMA, at the
    * fleet-monitoring grain, and the control-chart complement to CUSUM's
    * change-POINT detector).
    *
    * Shape discipline (the Holt/KM lesson): the day series materializes
    * once as a sorted struct array; burn-in μ̂/σ̂ are row-local LEFT
    * folds; the whole recursion is ONE array-accumulator `aggregate`
    * fold emitting per-day states (DuckDB mirrors with a recursive CTE
    * running the same per-step arithmetic text, and list_reduce for the
    * burn-in folds). Per-day (1−λ)^{2t} is one float32-collapsed power.
    * Calendar-bounded, never an iterative job. */
  def ewmaChart(cleanOrders: DataFrame): DataFrame = {
    val daily = cleanOrders
      .groupBy(col("order_date"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").as("y"))
    daily
      .agg(sort_array(collect_list(struct(col("order_date").as("d"),
        col("y").as("y")))).as("s"))
      .withColumn("ys", expr("transform(s, x -> x.y)"))
      .filter(size(col("ys")) > lit(EwBurn))
      .withColumn("mu", expr(
        s"aggregate(slice(ys, 1, $EwBurn), CAST(0.0 AS DOUBLE), (a, y) -> a + y) / $EwBurn.0"))
      .withColumn("sigma", expr(
        s"sqrt(aggregate(slice(ys, 1, $EwBurn), CAST(0.0 AS DOUBLE), " +
          s"(a, y) -> a + (y - mu) * (y - mu)) / ${EwBurn - 1}.0)"))
      .withColumn("zs", expr(
        """slice(aggregate(s,
          |  array(named_struct('d', CAST(NULL AS DATE), 'y', CAST(0.0 AS DOUBLE), 'z', mu)),
          |  (acc, x) -> concat(acc, array(named_struct('d', x.d, 'y', x.y,
          |    'z', 0.2 * x.y + 0.8 * element_at(acc, -1).z)))), 2, size(s))""".stripMargin))
      .select(col("mu"), col("sigma"), posexplode(col("zs")).as(Seq("p", "r")))
      .withColumn("t", (col("p") + 1).cast("long"))
      .withColumn("halfwidth", expr(
        s"$EwL * sigma * sqrt((CAST($EwLambda AS DOUBLE) / (2.0D - CAST($EwLambda AS DOUBLE))) * " +
          s"(1.0 - CAST(CAST(power(0.64, CAST(t AS DOUBLE)) AS FLOAT) AS DOUBLE)))"))
      .select(col("r.d").as("day"), col("t"), col("r.y").as("y"),
        col("r.z").as("ewma"), col("mu").as("center"), col("sigma"),
        col("halfwidth"),
        (abs(col("r.z") - col("mu")) > col("halfwidth")).as("out_of_control"))
      .orderBy("day")
  }

  /** DuckDB mirror of [[ewmaChart]] — recursive CTE for the z walk,
    * list_reduce left folds for the burn-in moments. */
  def ewmaChartOracleSql(cleanOrdersCte: String): String =
    cleanOrdersCte +
      s"""
         |, daily AS (
         |  SELECT order_date AS d,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
         |  FROM clean_orders GROUP BY 1
         |), lists AS (
         |  SELECT list(y ORDER BY d) AS ys FROM daily
         |), moments AS (
         |  SELECT
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[1:$EwBurn]),
         |      (a, y) -> a + y) / $EwBurn.0 AS mu, ys
         |  FROM lists WHERE len(ys) > $EwBurn
         |), moments2 AS (
         |  SELECT mu,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[1:$EwBurn]),
         |      (a, y) -> a + (y - mu) * (y - mu)) / ${EwBurn - 1}.0) AS sigma
         |  FROM moments
         |), ser AS (
         |  SELECT d, y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
         |  FROM daily
         |), walk AS (
         |  WITH RECURSIVE ew(t, z) AS (
         |    SELECT CAST(0 AS BIGINT), mu FROM moments2
         |    UNION ALL
         |    SELECT s.t, 0.2 * s.y + 0.8 * ew.z
         |    FROM ew JOIN ser s ON s.t = ew.t + 1
         |  ) SELECT * FROM ew WHERE t >= 1
         |)
         |SELECT s.d AS day, s.t, s.y, w.z AS ewma, m.mu AS center, m.sigma,
         |  $EwL * m.sigma * sqrt((CAST($EwLambda AS DOUBLE) / (CAST(2.0 AS DOUBLE) - CAST($EwLambda AS DOUBLE))) *
         |    (1.0 - CAST(CAST(power(0.64, CAST(s.t AS DOUBLE)) AS FLOAT) AS DOUBLE))) AS halfwidth,
         |  abs(w.z - m.mu) > $EwL * m.sigma * sqrt((CAST($EwLambda AS DOUBLE) / (CAST(2.0 AS DOUBLE) - CAST($EwLambda AS DOUBLE))) *
         |    (1.0 - CAST(CAST(power(0.64, CAST(s.t AS DOUBLE)) AS FLOAT) AS DOUBLE))) AS out_of_control
         |FROM ser s JOIN walk w ON s.t = w.t CROSS JOIN moments2 m
         |ORDER BY s.d""".stripMargin

  /** Holt double-exponential smoothing (Holt 1957): level + trend with
    * exponential discounting — the forecasting rung above the OLS trend
    * (q_revenue_trend fits one global slope; Holt adapts to slope
    * CHANGES). The one-step-ahead SSE rides along as the fit diagnostic.
    *
    * Shape discipline (the Kaplan–Meier lesson): the day series is
    * MATERIALIZED through the aggregation boundary as one sorted struct
    * array, and the entire recursion is a row-local HOF `aggregate` fold
    * over that array — calendar-bounded arithmetic, never an iterative
    * job or driver loop. The fold is an identical left-to-right IEEE
    * chain in Spark `aggregate` and DuckDB `list_reduce` (the CUSUM
    * contract), with the accumulator carried as a struct on both sides —
    * hash-exact. Init: L = y₂, B = y₂ − y₁; fold over y₃…; smoothing
    * constants are shared literals. */
  def holtForecast(cleanOrders: DataFrame, horizon: Int = 7): DataFrame = {
    val daily = cleanOrders
      .groupBy(col("order_date"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").as("y"))
    daily
      .agg(sort_array(collect_list(struct(col("order_date").as("d"),
        col("y").as("y")))).as("s"))
      .withColumn("ys", expr("transform(s, x -> x.y)"))
      .filter(size(col("ys")) >= 3)
      .withColumn("st", expr(HoltFold))
      .select(explode(expr(s"sequence(1L, ${horizon}L)")).as("h"),
        col("st"), size(col("ys")).cast("long").as("n_days"))
      .select(col("h"),
        (col("st.l") + col("h").cast("double") * col("st.b")).as("forecast"),
        col("st.l").as("level"), col("st.b").as("trend"),
        col("st.sse").as("sse"), col("n_days"))
  }

  // alpha = 0.5, beta = 0.3 as shared literals; l_new is inlined twice in
  // b_new (a HOF lambda cannot reference a sibling field) — the oracle
  // duplicates the same text so the IEEE chains agree.
  private val HoltFold =
    """aggregate(slice(ys, 3, size(ys) - 2),
      |  named_struct('l', element_at(ys, 2),
      |    'b', element_at(ys, 2) - element_at(ys, 1),
      |    'sse', cast(0.0 as double)),
      |  (acc, y) -> named_struct(
      |    'l', 0.5 * y + 0.5 * (acc.l + acc.b),
      |    'b', 0.3 * ((0.5 * y + 0.5 * (acc.l + acc.b)) - acc.l) + 0.7 * acc.b,
      |    'sse', acc.sse + (y - (acc.l + acc.b)) * (y - (acc.l + acc.b))))""".stripMargin

  // ---- Holt-Winters (triple exponential smoothing, additive weekly) ----
  // The engine-mirroring hazard here is TEXTUAL: l', b', s'ᵢ and the sse
  // error all reference each other, a HOF lambda cannot name a sibling
  // field, and the two engines must run the same IEEE chain — so ONE
  // generator below emits the arithmetic for both (Spark reads state off
  // `acc.` fields, DuckDB off recursive-CTE columns).

  private val HwAlpha = "0.3"; private val HwBeta = "0.1"
  private val HwGamma = "0.2"; private val HwSeason = 7

  /** `s[idx]` lookup for idx = (dayCounter % 7), as a 7-way CASE. */
  private def hwSidx(p: String, t: String): String =
    s"(CASE $t % $HwSeason " +
      (1 to HwSeason).map(i => s"WHEN ${i - 1} THEN ${p}s$i ").mkString +
      "ELSE CAST(NULL AS DOUBLE) END)"

  private def hwLnew(p: String, y: String, t: String): String =
    s"($HwAlpha * ($y - ${hwSidx(p, t)}) + (1.0 - $HwAlpha) * (${p}l + ${p}b))"

  /** One smoothing step's fields, shared verbatim by both engines.
    * @param p state prefix ("acc." for the Spark fold, "" for the CTE)
    * @param y the new observation's SQL text
    * @param t the day-counter SQL text (days folded so far, 7-phase) */
  private def hwStep(p: String, y: String, t: String): Seq[(String, String)] = {
    val lnew = hwLnew(p, y, t)
    Seq(
      "l" -> lnew,
      "b" -> s"($HwBeta * ($lnew - ${p}l) + (1.0 - $HwBeta) * ${p}b)") ++
      (1 to HwSeason).map(i => s"s$i" ->
        s"(CASE WHEN $t % $HwSeason = ${i - 1} THEN ($HwGamma * ($y - $lnew) + (1.0 - $HwGamma) * ${p}s$i) ELSE ${p}s$i END)") ++
      Seq(
        "t" -> s"($t + 1)",
        "sse" -> (s"(${p}sse + ($y - (${p}l + ${p}b + ${hwSidx(p, t)}))" +
          s" * ($y - (${p}l + ${p}b + ${hwSidx(p, t)})))"))
  }

  /** Deterministic two-week init: l₀ = mean(week1), b₀ = (mean(week2) −
    * mean(week1))/7, s₀ᵢ = yᵢ − l₀ — every term a fixed left-assoc chain. */
  private def hwInit(el: Int => String): Seq[(String, String)] = {
    def mean(from: Int): String =
      "((" + (from until from + HwSeason).map(el).mkString(" + ") + s") / 7.0)"
    Seq("l" -> mean(1),
      "b" -> s"((${mean(8)} - ${mean(1)}) / 7.0)") ++
      (1 to HwSeason).map(i => s"s$i" -> s"(${el(i)} - ${mean(1)})") ++
      Seq("t" -> "14", "sse" -> "CAST(0.0 AS DOUBLE)")
  }

  /** Holt-Winters additive forecast of daily revenue with a 7-day season
    * (α=0.3, β=0.1, γ=0.2): level + trend + day-of-cycle seasonal, the
    * completion of the forecasting family (OLS trend → Theil–Sen →
    * Holt → seasonal). Same shape as [[holtForecast]]: exact decimal
    * daily sums, one array fold (Spark `aggregate` HOF ≡ the oracle's
    * recursive CTE — both run the generator's identical IEEE chain),
    * forecasts for h = 1..horizon off the final state. Needs ≥ 14 days.
    * Scale: one date-grain partial agg; the fold runs once on the
    * calendar-bounded daily array. */
  def holtWintersForecast(cleanOrders: DataFrame, horizon: Int = 14): DataFrame = {
    val fields = hwStep("acc.", "y", "acc.t")
      .map { case (n, e) => s"'$n', $e" }.mkString(", ")
    val init = hwInit(i => s"element_at(ys, $i)")
      .map { case (n, e) => s"'$n', $e" }.mkString(", ")
    val fold =
      s"""aggregate(slice(ys, 15, size(ys) - 14),
         |  named_struct($init),
         |  (acc, y) -> named_struct($fields))""".stripMargin
    val seasonal = "(CASE CAST((n_days + h - 1) % 7 AS INT) " +
      (1 to HwSeason).map(i => s"WHEN ${i - 1} THEN st.s$i ").mkString +
      "ELSE CAST(NULL AS DOUBLE) END)"
    cleanOrders
      .groupBy(col("order_date"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").as("y"))
      .agg(sort_array(collect_list(struct(col("order_date").as("d"),
        col("y").as("y")))).as("s"))
      .withColumn("ys", expr("transform(s, x -> x.y)"))
      .filter(size(col("ys")) >= 14)
      .withColumn("st", expr(fold))
      .select(explode(expr(s"sequence(1L, ${horizon}L)")).as("h"),
        col("st"), size(col("ys")).cast("long").as("n_days"))
      .select(col("h"),
        (col("st.l") + col("h").cast("double") * col("st.b") +
          expr(seasonal)).as("forecast"),
        col("st.l").as("level"), col("st.b").as("trend"),
        expr(seasonal).as("seasonal"),
        col("st.sse").as("sse"), col("n_days"))
  }

  /** DuckDB mirror of [[holtWintersForecast]] — the same generated step
    * arithmetic as a recursive CTE (the [[holtOracleSql]] pattern; i IS
    * the day counter t). Callers open with `WITH RECURSIVE`. */
  def holtWintersOracleSql(horizon: Int = 14): String = {
    val cols = Seq("l", "b") ++ (1 to HwSeason).map(i => s"s$i") ++ Seq("t", "sse")
    val initSel = hwInit(i => s"ys[$i]").map(_._2).mkString(",\n      ")
    val stepSel = hwStep("", "ys[t + 1]", "t").map(_._2).mkString(",\n      ")
    val seasonal = "(CASE (n_days + h - 1) % 7 " +
      (1 to HwSeason).map(i => s"WHEN ${i - 1} THEN s$i ").mkString +
      "ELSE CAST(NULL AS DOUBLE) END)"
    s"""
       |, daily AS (
       |  SELECT order_date AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
       |  FROM clean_orders GROUP BY 1
       |), arr AS (
       |  SELECT list(y ORDER BY d) AS ys FROM daily WHERE 1 = 1
       |  HAVING count(*) >= 14
       |), hw(${cols.mkString(", ")}) AS (
       |    SELECT $initSel FROM arr
       |  UNION ALL
       |    SELECT $stepSel
       |    FROM hw, arr WHERE t < len(ys)
       |), fit AS (
       |  SELECT hw.*, CAST(len(ys) AS BIGINT) AS n_days
       |  FROM hw, arr WHERE t = len(ys)
       |)
       |SELECT h, l + CAST(h AS DOUBLE) * b + $seasonal AS forecast,
       |  l AS level, b AS trend, $seasonal AS seasonal, sse, n_days
       |FROM fit CROSS JOIN (SELECT unnest(range(1, ${horizon + 1})) AS h)
       |ORDER BY h""".stripMargin
  }

  /** Mann–Kendall trend test (Mann 1945, Kendall 1975) on the daily
    * revenue series per event type — the NONPARAMETRIC companion to
    * [[dailyTrend]]'s OLS slope and [[dailyTrendRobust]]'s Theil–Sen
    * estimate: is there a monotone trend AT ALL, judged only on the
    * signs of pairwise differences (so a heavy-tailed day or a level
    * spike cannot manufacture or hide a trend the way it bends OLS).
    *
    *   S  = Σ_{i<j} sgn(y_j − y_i)          (exact BIGINT)
    *   Var(S)·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)   (exact BIGINT,
    *               t = size of each tied-value group)
    *   z  = (S∓1)/√(Var S) with the continuity correction, 0 at S=0.
    *
    * Exactness: S and the variance numerator are pure integer sums;
    * z is one division-and-sqrt chain (sqrt is IEEE exact-rounded, no
    * float32 collapse needed — the Spearman contract). All-tied series
    * (Var = 0) report NULL z / 'n/a' instead of a 0-division.
    *
    * Scale shape: the fact table collapses once to DAY grain; the pair
    * join runs on calendar-bounded rows (≤366/yr per type — the
    * Theil–Sen justification verbatim), and the tie table is a second
    * partial agg of that same daily frame. Scan bound at any scale. */
  def mannKendall(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * lit(100)).cast("long").as("y_cents"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))

    val a = daily.select(col("event_type"), col("x").as("xi"), col("y_cents").as("yi"))
    val b = daily.select(col("event_type").as("et_b"), col("x").as("xj"),
      col("y_cents").as("yj"))
    val sStat = a.join(b, col("event_type") === col("et_b") && col("xi") < col("xj"))
      .groupBy("event_type")
      .agg(sum(when(col("yj") > col("yi"), 1L)
        .when(col("yj") < col("yi"), -1L).otherwise(0L)).cast("long").as("s_stat"))

    val ties = daily.groupBy(col("event_type"), col("y_cents"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .cast("long").as("tie_term"))
    val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))

    nDays.join(sStat, "event_type").join(ties, "event_type")
      .withColumn("var_num18",
        (col("n_days") * (col("n_days") - 1L) * (lit(2L) * col("n_days") + 5L)
          - col("tie_term")).cast("long"))
      .withColumn("z",
        when(col("var_num18") > 0L,
          when(col("s_stat") > 0L, (col("s_stat") - 1L).cast("double"))
            .when(col("s_stat") < 0L, (col("s_stat") + 1L).cast("double"))
            .otherwise(lit(0.0))
            / sqrt(col("var_num18").cast("double") / lit(18.0))))
      .withColumn("trend",
        when(col("z").isNull, "n/a")
          .when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing")
          .otherwise("no_trend"))
      .select("event_type", "n_days", "s_stat", "var_num18", "z", "trend")
      .orderBy("event_type")
  }

  /** DuckDB mirror of [[mannKendall]]. */
  def mannKendallOracleSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_cents,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2, 4
      |), s AS (
      |  SELECT a.event_type,
      |    CAST(sum(CASE WHEN b.y_cents > a.y_cents THEN 1
      |                  WHEN b.y_cents < a.y_cents THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.x < b.x
      |  GROUP BY 1
      |), ties AS (
      |  SELECT event_type,
      |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT event_type, y_cents, CAST(count(*) AS BIGINT) AS t
      |        FROM daily GROUP BY 1, 2) g
      |  GROUP BY 1
      |), nd AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
      |), fin AS (
      |  SELECT nd.event_type, n_days, s_stat,
      |    CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS BIGINT) AS var_num18
      |  FROM nd JOIN s ON nd.event_type = s.event_type
      |  JOIN ties ON nd.event_type = ties.event_type
      |), z AS (
      |  SELECT *,
      |    CASE WHEN var_num18 > 0 THEN
      |      (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
      |            WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
      |            ELSE CAST(0.0 AS DOUBLE) END)
      |      / sqrt(CAST(var_num18 AS DOUBLE) / 18.0) END AS z
      |  FROM fin
      |)
      |SELECT event_type, n_days, s_stat, var_num18, z,
      |  CASE WHEN z IS NULL THEN 'n/a'
      |       WHEN z > 1.96 THEN 'increasing'
      |       WHEN z < -1.96 THEN 'decreasing'
      |       ELSE 'no_trend' END AS trend
      |FROM z ORDER BY event_type""".stripMargin

  /** Kendall τ-b rank correlation (Kendall 1945) between daily revenue
    * and daily event VOLUME per event type — "do busier days earn more,
    * monotonically?" at the series grain, completing the rank-
    * correlation family next to the customer-grain [[graft.operators
    * .Profiling.spearman]]: τ judges only pairwise order agreement, so
    * one whale day can't fake a volume→revenue link.
    *
    *   τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂)),  n₀ = n(n−1)/2,
    *   n₁/n₂ = Σ t(t−1)/2 over tied-value groups of each variable.
    *
    * Exactness: C, D and all tie counts are exact BIGINTs from the same
    * calendar-bounded pair join as [[mannKendall]]; τ is one
    * multiply/sqrt/divide chain on exact integers (sqrt exact-rounded).
    * Degenerate series (either variable all-tied) report NULL.
    *
    * Scale shape: identical to [[mannKendall]] — day-grain collapse,
    * calendar-bounded pair join, two tiny tie aggs. */
  def kendallTau(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * lit(100)).cast("long").as("y_cents"),
        count(lit(1)).as("n_ev"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))

    val a = daily.select(col("event_type"), col("x").as("xi"),
      col("y_cents").as("yi"), col("n_ev").as("vi"))
    val b = daily.select(col("event_type").as("et_b"), col("x").as("xj"),
      col("y_cents").as("yj"), col("n_ev").as("vj"))
    val sgnY = when(col("yj") > col("yi"), 1).when(col("yj") < col("yi"), -1).otherwise(0)
    val sgnV = when(col("vj") > col("vi"), 1).when(col("vj") < col("vi"), -1).otherwise(0)
    val pairAgg = a.join(b, col("event_type") === col("et_b") && col("xi") < col("xj"))
      .groupBy("event_type")
      .agg(sum(when(sgnY * sgnV === 1, 1L).otherwise(0L)).cast("long").as("concordant"),
        sum(when(sgnY * sgnV === -1, 1L).otherwise(0L)).cast("long").as("discordant"))

    def tiePairs(c: Column, out: String): DataFrame = daily
      .groupBy(col("event_type"), c)
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg((sum(col("t") * (col("t") - 1L)) / lit(2)).cast("long").as(out))

    val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    nDays.join(pairAgg, "event_type")
      .join(tiePairs(col("y_cents"), "ties_y"), "event_type")
      .join(tiePairs(col("n_ev"), "ties_v"), "event_type")
      .withColumn("n0", (col("n_days") * (col("n_days") - 1L) / lit(2)).cast("long"))
      .withColumn("tau_b",
        when((col("n0") - col("ties_y")) > 0L && (col("n0") - col("ties_v")) > 0L,
          (col("concordant") - col("discordant")).cast("double") /
            sqrt((col("n0") - col("ties_y")).cast("double") *
              (col("n0") - col("ties_v")).cast("double"))))
      .select("event_type", "n_days", "concordant", "discordant",
        "ties_y", "ties_v", "tau_b")
      .orderBy("event_type")
  }

  /** DuckDB mirror of [[kendallTau]]. */
  def kendallTauOracleSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_cents,
      |    CAST(count(*) AS BIGINT) AS n_ev,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2, 5
      |), pr AS (
      |  SELECT a.event_type,
      |    CAST(sum(CASE WHEN (CASE WHEN b.y_cents > a.y_cents THEN 1
      |                             WHEN b.y_cents < a.y_cents THEN -1 ELSE 0 END)
      |                     * (CASE WHEN b.n_ev > a.n_ev THEN 1
      |                             WHEN b.n_ev < a.n_ev THEN -1 ELSE 0 END) = 1
      |             THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      |    CAST(sum(CASE WHEN (CASE WHEN b.y_cents > a.y_cents THEN 1
      |                             WHEN b.y_cents < a.y_cents THEN -1 ELSE 0 END)
      |                     * (CASE WHEN b.n_ev > a.n_ev THEN 1
      |                             WHEN b.n_ev < a.n_ev THEN -1 ELSE 0 END) = -1
      |             THEN 1 ELSE 0 END) AS BIGINT) AS discordant
      |  FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.x < b.x
      |  GROUP BY 1
      |), ty AS (
      |  SELECT event_type, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS ties_y
      |  FROM (SELECT event_type, y_cents, CAST(count(*) AS BIGINT) AS t
      |        FROM daily GROUP BY 1, 2) g GROUP BY 1
      |), tv AS (
      |  SELECT event_type, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS ties_v
      |  FROM (SELECT event_type, n_ev, CAST(count(*) AS BIGINT) AS t
      |        FROM daily GROUP BY 1, 2) g GROUP BY 1
      |), nd AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
      |), fin AS (
      |  SELECT nd.event_type, n_days, concordant, discordant, ties_y, ties_v,
      |    CAST(n_days * (n_days - 1) // 2 AS BIGINT) AS n0
      |  FROM nd JOIN pr ON nd.event_type = pr.event_type
      |  JOIN ty ON nd.event_type = ty.event_type
      |  JOIN tv ON nd.event_type = tv.event_type
      |)
      |SELECT event_type, n_days, concordant, discordant, ties_y, ties_v,
      |  CASE WHEN (n0 - ties_y) > 0 AND (n0 - ties_v) > 0 THEN
      |    CAST(concordant - discordant AS DOUBLE)
      |    / sqrt(CAST(n0 - ties_y AS DOUBLE) * CAST(n0 - ties_v AS DOUBLE)) END AS tau_b
      |FROM fin ORDER BY event_type""".stripMargin

  /** DuckDB mirror of [[holtForecast]] — the fold runs as a RECURSIVE CTE
    * with the (l, b, sse) state carried as plain columns: one row per
    * step, exactly Spark's left fold. (A list_reduce with a STRUCT
    * accumulator was tried first and DuckDB 1.0 evaluated different
    * fields of the lambda against inconsistent accumulator values —
    * caught by this oracle gate; recursive CTEs have no such quirk.)
    * Callers must open the chain with `WITH RECURSIVE`. */
  def holtOracleSql(horizon: Int = 7): String =
    s"""
       |, daily AS (
       |  SELECT order_date AS d,
       |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
       |  FROM clean_orders GROUP BY 1
       |), arr AS (
       |  SELECT list(y ORDER BY d) AS ys FROM daily WHERE 1 = 1
       |  HAVING count(*) >= 3
       |), hw(i, l, b, sse) AS (
       |    SELECT 2, ys[2], ys[2] - ys[1], CAST(0.0 AS DOUBLE) FROM arr
       |  UNION ALL
       |    SELECT i + 1,
       |      0.5 * ys[i + 1] + 0.5 * (l + b),
       |      0.3 * ((0.5 * ys[i + 1] + 0.5 * (l + b)) - l) + 0.7 * b,
       |      sse + (ys[i + 1] - (l + b)) * (ys[i + 1] - (l + b))
       |    FROM hw, arr WHERE i < len(ys)
       |), fit AS (
       |  SELECT l, b, sse, CAST(len(ys) AS BIGINT) AS n_days
       |  FROM hw, arr WHERE i = len(ys)
       |)
       |SELECT h, l + CAST(h AS DOUBLE) * b AS forecast,
       |  l AS level, b AS trend, sse, n_days
       |FROM fit CROSS JOIN (SELECT unnest(range(1, ${horizon + 1})) AS h)
       |ORDER BY h""".stripMargin
}
