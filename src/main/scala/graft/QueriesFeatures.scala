package graft

import graft.gold.{Attribution, DataQuality, Drift, Forensics, FraudSummary, Graph, Markov, Pipelines, Revenue, Rings, Seasonal, StarSchema}
import graft.ml.{Evaluation, FraudScore, GbtModel, TrainedModel}
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, Bronze, Cleaning, Enrichment, Features, MergeUpsert, RangeJoin, Resample, Sessionize}
import graft.sim.Similarity
import graft.text.{Components, Dedup, MinHash, SimHash, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueriesShared._

/** Registry slice: window features, as-of/range/interval joins, ML eval, data quality, dashboards.
  * Split from the monolithic Queries.scala (r11) — a pure move with zero
  * behavior change; shared oracle CTE fragments live in [[QueriesShared]].
  */
private[graft] object QueriesFeatures {
  private[graft] lazy val defs: Seq[QueryDef] = Seq(

    QueryDef("q_txn_features",
      (s, d) => Features.txnFeatures(Cleaning.cleanOrders(Tables.orders(s, d)))
        .select("o_orderkey", "o_custkey", "o_totalprice", "amount_log",
          "order_month", "order_dow", "is_weekend", "user_order_count",
          "user_avg_amount", "user_max_amount", "user_min_amount", "amount_vs_user_avg")
        .orderBy("o_orderkey"),
      Some(CleanOrdersCte +
        """
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(ln(1.0 + o_totalprice) AS FLOAT) AS amount_log,
        |  CAST(month(order_date) AS BIGINT) AS order_month,
        |  CAST(dayofweek(order_date) + 1 AS BIGINT) AS order_dow,
        |  (dayofweek(order_date) IN (0, 6)) AS is_weekend,
        |  count(*) OVER w AS user_order_count,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) / count(*) OVER w AS user_avg_amount,
        |  max(o_totalprice) OVER w AS user_max_amount,
        |  min(o_totalprice) OVER w AS user_min_amount,
        |  o_totalprice / (CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) / count(*) OVER w) AS amount_vs_user_avg
        |FROM clean_orders WINDOW w AS (PARTITION BY o_custkey)
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q_user_percentiles",
      (s, d) => Features.userPercentiles(Cleaning.cleanOrders(Tables.orders(s, d)))
        .orderBy("o_custkey"),
      Some(CleanOrdersCte +
        """
        |SELECT o_custkey, count(*) AS order_count,
        |  quantile_cont(o_totalprice, 0.5) AS p50_amount,
        |  quantile_cont(o_totalprice, 0.95) AS p95_amount,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM clean_orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    QueryDef("q_velocity",
      (s, d) => Features.velocity(Tables.events(s, d))
        .select("event_id", "user_id", "event_type", "value", "ts_us",
          "velocity_1h", "velocity_24h", "velocity_7d", "value_sum_24h")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us,
        |  count(*) OVER w1 AS velocity_1h,
        |  count(*) OVER w24 AS velocity_24h,
        |  count(*) OVER w7d AS velocity_7d,
        |  COALESCE(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w24 AS DOUBLE), 0.0) AS value_sum_24h
        |FROM events
        |WINDOW
        |  w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING),
        |  w24 AS (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING),
        |  w7d AS (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin)),

    QueryDef("q_lag_lead",
      (s, d) => Features.lagLead(Tables.events(s, d))
        .select("event_id", "user_id", "event_type", "ts_us", "prev_ts_us",
          "prev_event_type", "next_event_type", "micros_since_prev", "seq_in_user")
        .orderBy("event_id"),
      Some(EventsUsCte +
        """
        |SELECT event_id, user_id, event_type, ts_us,
        |  lag(ts_us, 1) OVER w AS prev_ts_us,
        |  lag(event_type, 1) OVER w AS prev_event_type,
        |  lead(event_type, 1) OVER w AS next_event_type,
        |  ts_us - lag(ts_us, 1) OVER w AS micros_since_prev,
        |  CAST(row_number() OVER w AS BIGINT) AS seq_in_user
        |FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY event_id""".stripMargin)),

    QueryDef("q_rank_ntile",
      (s, d) => Features.spendRanking(Cleaning.cleanOrders(Tables.orders(s, d)))
        .orderBy("o_custkey"),
      Some(CleanOrdersCte +
        """
        |, per_cust AS (
        |  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM clean_orders GROUP BY o_custkey
        |)
        |SELECT o_custkey, revenue,
        |  CAST(ntile(10) OVER wt AS BIGINT) AS revenue_decile,
        |  CAST(rank() OVER wv AS BIGINT) AS revenue_rank,
        |  CAST(dense_rank() OVER wv AS BIGINT) AS revenue_dense_rank,
        |  CAST(row_number() OVER wt AS BIGINT) AS revenue_row
        |FROM per_cust
        |WINDOW wv AS (ORDER BY revenue DESC),
        |       wt AS (ORDER BY revenue DESC, o_custkey ASC)
        |ORDER BY o_custkey""".stripMargin)),

    // Remaining analytic-window breadth: percent_rank/cume_dist + value
    // navigation, all over PARTITIONED windows (per-customer — scale-safe).
    QueryDef("q_window_suite",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Cleaning.cleanOrders(Tables.orders(s, d))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("pct_rank", percent_rank().over(w))
          .withColumn("cume_dist", cume_dist().over(w))
          .withColumn("largest_amount", first(col("o_totalprice")).over(wf))
          .withColumn("smallest_amount", last(col("o_totalprice")).over(wf))
          .withColumn("second_amount", nth_value(col("o_totalprice"), 2).over(wf))
          .orderBy("o_orderkey")
      },
      Some(CleanOrdersCte +
        """
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume_dist,
        |  first_value(o_totalprice) OVER wf AS largest_amount,
        |  last_value(o_totalprice) OVER wf AS smallest_amount,
        |  nth_value(o_totalprice, 2) OVER wf AS second_amount
        |FROM clean_orders
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q_running_totals",
      (s, d) => Features.runningTotals(Cleaning.cleanOrders(Tables.orders(s, d)))
        .select("status_normalized", "order_date", "daily_orders", "gmv",
          "cumulative_gmv", "cumulative_orders")
        .orderBy("status_normalized", "order_date"),
      Some(CleanOrdersCte +
        """
        |, daily AS (
        |  SELECT status_normalized, order_date,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS gmv_dec,
        |    count(*) AS daily_orders
        |  FROM clean_orders GROUP BY 1, 2
        |)
        |SELECT status_normalized, order_date, daily_orders,
        |  CAST(gmv_dec AS DOUBLE) AS gmv,
        |  CAST(sum(gmv_dec) OVER w AS DOUBLE) AS cumulative_gmv,
        |  CAST(sum(daily_orders) OVER w AS BIGINT) AS cumulative_orders
        |FROM daily
        |WINDOW w AS (PARTITION BY status_normalized ORDER BY order_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY status_normalized, order_date""".stripMargin)),

    // Time-series resampling: 6-hour OHLC bars of purchase values per
    // user. One (user, bucket) exchange shared by the open/close window
    // and the bar aggregation.
    QueryDef("q_ohlc_bars",
      (s, d) => Resample.ohlcBars(Tables.events(s, d), 21600000000L)
        .orderBy("user_id", "bucket"),
      Some("""WITH ev AS (
        |  SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'purchase'
        |), b AS (
        |  SELECT *, ts_us // 21600000000 AS bucket,
        |    first_value(value) OVER w AS open,
        |    last_value(value) OVER w AS close
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id, ts_us // 21600000000
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, bucket, max(open) AS open, max(close) AS close,
        |  max(value) AS high, min(value) AS low,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
        |  bucket * 21600000000 AS bucket_start_us
        |FROM b GROUP BY user_id, bucket
        |ORDER BY user_id, bucket""".stripMargin)),

    // Gap-filled daily series with forward-filled close: the dense
    // time-axis every dashboard needs; spine bounded by buckets/key.
    QueryDef("q_gap_fill",
      (s, d) => Resample.gapFill(Resample.ohlcBars(Tables.events(s, d), 86400000000L))
        .orderBy("user_id", "bucket"),
      Some("""WITH ev AS (
        |  SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'purchase'
        |), b AS (
        |  SELECT *, ts_us // 86400000000 AS bucket,
        |    first_value(value) OVER w AS open,
        |    last_value(value) OVER w AS close
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id, ts_us // 86400000000
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |), bars AS (
        |  SELECT user_id, bucket, max(close) AS close, count(*) AS n_events
        |  FROM b GROUP BY user_id, bucket
        |), spans AS (
        |  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM bars GROUP BY user_id
        |), spine AS (
        |  SELECT user_id, unnest(generate_series(b0, b1)) AS bucket FROM spans
        |)
        |SELECT s.user_id, s.bucket, bars.n_events IS NULL AS is_gap,
        |  last_value(bars.close IGNORE NULLS)
        |    OVER (PARTITION BY s.user_id ORDER BY s.bucket) AS close_ff,
        |  COALESCE(bars.n_events, 0) AS n_events
        |FROM spine s LEFT JOIN bars USING (user_id, bucket)
        |ORDER BY user_id, bucket""".stripMargin)),

    // Bad-record audit over the bronze parse path: per-reason counts of
    // the quarantine split (null/invalid/bad-key/ok) — the explicit form
    // of from_json's silent nulling. Rich cases covered in OperatorsSpec
    // on synthetic malformed payloads.
    QueryDef("q_bronze_quarantine",
      (s, d) => Bronze.withQuarantineReason(Tables.events(s, d))
        .groupBy("quarantine_reason").agg(count(lit(1)).as("n"))
        .orderBy("quarantine_reason"),
      Some("""SELECT quarantine_reason, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN props IS NULL THEN 'null_props'
        |    WHEN NOT json_valid(props) THEN 'invalid_json'
        |    WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL THEN 'bad_k'
        |    ELSE 'ok' END AS quarantine_reason
        |  FROM events) t
        |GROUP BY quarantine_reason ORDER BY quarantine_reason""".stripMargin)),

    // Per-user EWMA drift baseline + spike flags (batch mirror of the
    // transformWithState StatefulProcessor — StreamingSpec asserts stream
    // parity; rows-only: the EWMA recursion has no stable closed SQL form).
    QueryDef("q_ewma_drift",
      (s, d) => {
        import s.implicits._
        graft.streaming.StatefulDrift.driftBatch(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"),
              expr("ts_ns div 1000").as("ts_us"), col("event_type"), col("value"))
            .as[graft.streaming.StreamOps.Ev])
          .toDF().orderBy("event_id")
      },
      None),

    QueryDef("q_sessionize",
      (s, d) => Sessionize.sessionStats(Tables.events(s, d))
        .select("user_id", "session_idx", "event_count", "session_start_us",
          "session_end_us", "duration_us", "session_value", "purchases", "errors")
        .orderBy("user_id", "session_idx"),
      Some(EventsUsCte +
        """
        |, b AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000
        |                 THEN 1 ELSE 0 END AS is_boundary
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sx AS (
        |  SELECT *, sum(is_boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM b
        |)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS event_count,
        |  min(ts_us) AS session_start_us,
        |  max(ts_us) AS session_end_us,
        |  max(ts_us) - min(ts_us) AS duration_us,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        |FROM sx GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin)),

    // Interval-overlap join via bin blocking (operators.IntervalJoin):
    // co-active session pairs — an interval×interval predicate joined as
    // an EQUI-join on exploded time bins, never a nested-loop cross
    // product. Oracle = DuckDB's native IEJoin over the same sessions.
    QueryDef("q_interval_join",
      (s, d) => operators.IntervalJoin.coActiveSessions(
          Sessionize.sessionStats(Tables.events(s, d)))
        .orderBy("user_a", "user_b"),
      Some(EventsUsCte +
        """
        |, b AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000
        |                 THEN 1 ELSE 0 END AS is_boundary
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sx AS (
        |  SELECT *, sum(is_boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM b
        |), sessions AS (
        |  SELECT user_id, session_idx, min(ts_us) AS s_start, max(ts_us) AS s_end
        |  FROM sx GROUP BY user_id, session_idx
        |)
        |SELECT x.user_id AS user_a, y.user_id AS user_b, count(*) AS overlap_count
        |FROM sessions x JOIN sessions y
        |  ON x.user_id < y.user_id AND x.s_start <= y.s_end AND y.s_start <= x.s_end
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef("q_asof_join",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            expr("ts_ns div 1000").as("ts_us"))
        AsOfJoin.asOf(
          ev.filter(col("event_type") === "error").drop("event_type"),
          ev.filter(col("event_type") === "purchase").drop("event_type"))
          .select("event_id", "user_id", "ts_us", "value", "asof_value",
            "asof_ts_us", "micros_since_match")
          .orderBy("event_id")
      },
      Some(EventsUsCte +
        """
        |, e AS (SELECT * FROM ev WHERE event_type = 'error'),
        |  p AS (SELECT * FROM ev WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, e.ts_us, e.value,
        |  p.value AS asof_value, p.ts_us AS asof_ts_us,
        |  e.ts_us - p.ts_us AS micros_since_match
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
        |ORDER BY e.event_id""".stripMargin)),

    QueryDef("q_asof_native",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            expr("ts_ns div 1000").as("ts_us"))
        graft.plans.NativeAsOf.asOf(
            ev.filter(col("event_type") === "error").drop("event_type"),
            ev.filter(col("event_type") === "purchase").drop("event_type"),
            "user_id", "ts_us", "value")
          .withColumn("micros_since_match", col("ts_us") - col("asof_ts_us"))
          .select("event_id", "user_id", "ts_us", "value", "asof_value",
            "asof_ts_us", "micros_since_match")
          .orderBy("event_id")
      },
      Some(EventsUsCte +
        """
        |, e AS (SELECT * FROM ev WHERE event_type = 'error'),
        |  p AS (SELECT * FROM ev WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, e.ts_us, e.value,
        |  p.value AS asof_value, p.ts_us AS asof_ts_us,
        |  e.ts_us - p.ts_us AS micros_since_match
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
        |ORDER BY e.event_id""".stripMargin)),

    // The same as-of join through SQL TEXT (graft.plans.GraftSqlParser,
    // Snowflake MATCH_CONDITION grammar) — the reference's consumers are
    // SQL-first, so the custom operator must be reachable from spark.sql.
    // Oracle identical to q_asof_native: the parser is pure surface.
    QueryDef("q_asof_sql",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            expr("ts_ns div 1000").as("ts_us"))
        ev.filter(col("event_type") === "error").drop("event_type")
          .createOrReplaceTempView("asof_errors")
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts_us", "value")
          .createOrReplaceTempView("asof_purchases")
        s.sql("""
          SELECT e.event_id, e.user_id, e.ts_us, e.value, e.asof_value,
                 e.asof_ts_us, e.ts_us - e.asof_ts_us AS micros_since_match
          FROM asof_errors e ASOF JOIN asof_purchases p
          MATCH_CONDITION(e.ts_us >= p.ts_us)
          ON e.user_id = p.user_id
          ORDER BY e.event_id""")
      },
      Some(EventsUsCte +
        """
        |, e AS (SELECT * FROM ev WHERE event_type = 'error'),
        |  p AS (SELECT * FROM ev WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, e.ts_us, e.value,
        |  p.value AS asof_value, p.ts_us AS asof_ts_us,
        |  e.ts_us - p.ts_us AS micros_since_match
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
        |ORDER BY e.event_id""".stripMargin)),

    // Generalized-type as-of through the same exec: STRING key (the
    // Catalyst-ordering compare path) and STRING payload (the
    // copyValue path for buffer-backed values).
    QueryDef("q_asof_typed",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id").cast("string").as("user_key"),
            col("event_type"), col("props"), expr("ts_ns div 1000").as("ts_us"))
        graft.plans.NativeAsOf.asOf(
            ev.filter(col("event_type") === "error").drop("event_type"),
            ev.filter(col("event_type") === "purchase").drop("event_type"),
            "user_key", "ts_us", "props")
          .select(col("event_id"), col("user_key"), col("ts_us"),
            col("asof_value").as("matched_props"), col("asof_ts_us"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (
        |  SELECT event_id, CAST(user_id AS VARCHAR) AS user_key, event_type, props,
        |         epoch_us(ts) AS ts_us FROM events
        |), e AS (SELECT * FROM ev WHERE event_type = 'error'),
        |  p AS (SELECT * FROM ev WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_key, e.ts_us,
        |  p.props AS matched_props, p.ts_us AS asof_ts_us
        |FROM e ASOF LEFT JOIN p ON e.user_key = p.user_key AND e.ts_us >= p.ts_us
        |ORDER BY e.event_id""".stripMargin)),

    // Forward as-of: each error joined to the user's EARLIEST purchase
    // at-or-after it (same custom exec, direction flipped).
    QueryDef("q_asof_forward",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            expr("ts_ns div 1000").as("ts_us"))
        graft.plans.NativeAsOf.asOf(
            ev.filter(col("event_type") === "error").drop("event_type"),
            ev.filter(col("event_type") === "purchase").drop("event_type"),
            "user_id", "ts_us", "value", forward = true)
          .withColumn("micros_to_match", col("asof_ts_us") - col("ts_us"))
          .select("event_id", "user_id", "ts_us", "value", "asof_value",
            "asof_ts_us", "micros_to_match")
          .orderBy("event_id")
      },
      Some(EventsUsCte +
        """
        |, e AS (SELECT * FROM ev WHERE event_type = 'error'),
        |  p AS (SELECT * FROM ev WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, e.ts_us, e.value,
        |  p.value AS asof_value, p.ts_us AS asof_ts_us,
        |  p.ts_us - e.ts_us AS micros_to_match
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts_us <= p.ts_us
        |ORDER BY e.event_id""".stripMargin)),

    // Tolerance as-of: backward match nulled when older than 1 hour
    // (pandas merge_asof tolerance semantics, same single-pass merge).
    QueryDef("q_asof_tolerance",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
            expr("ts_ns div 1000").as("ts_us"))
        graft.plans.NativeAsOf.asOf(
            ev.filter(col("event_type") === "error").drop("event_type"),
            ev.filter(col("event_type") === "purchase").drop("event_type"),
            "user_id", "ts_us", "value", toleranceUs = 3600000000L)
          .select("event_id", "user_id", "ts_us", "value", "asof_value", "asof_ts_us")
          .orderBy("event_id")
      },
      Some(EventsUsCte +
        """
        |, e AS (SELECT * FROM ev WHERE event_type = 'error'),
        |  p AS (SELECT * FROM ev WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, e.ts_us, e.value,
        |  CASE WHEN e.ts_us - p.ts_us <= 3600000000 THEN p.value END AS asof_value,
        |  CASE WHEN e.ts_us - p.ts_us <= 3600000000 THEN p.ts_us END AS asof_ts_us
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts_us >= p.ts_us
        |ORDER BY e.event_id""".stripMargin)),

    QueryDef("q_range_join",
      (s, d) => RangeJoin.partPriceBands(s, Tables.part(s, d)).orderBy("p_partkey"),
      Some("""WITH bands(band_name, band_lo, band_hi) AS (VALUES
        |  ('p0_cheap', 0.0, 500.0), ('p1_low', 500.0, 900.0), ('p2_mid', 900.0, 1300.0),
        |  ('p3_high', 1300.0, 1700.0), ('p4_premium', 1700.0, 1e308))
        |SELECT p_partkey, p_type, p_retailprice, band_name
        |FROM part JOIN bands ON p_retailprice >= band_lo AND p_retailprice < band_hi
        |ORDER BY p_partkey""".stripMargin)),

    QueryDef("q_dq_checks",
      (s, d) => DataQuality.suite(Tables.orders(s, d), Tables.lineitem(s, d),
          Tables.customer(s, d), Tables.events(s, d))
        .orderBy("check_name"),
      Some("""SELECT * FROM (
        |  SELECT 'orders_orderkey_not_null' AS check_name, 'orders' AS table_name,
        |    count(*) AS violation_count, count(*) = 0 AS passed FROM orders WHERE o_orderkey IS NULL
        |  UNION ALL
        |  SELECT 'orders_amount_positive', 'orders', count(*), count(*) = 0 FROM orders WHERE o_totalprice <= 0
        |  UNION ALL
        |  SELECT 'orders_amount_upper_bound', 'orders', count(*), count(*) = 0 FROM orders WHERE o_totalprice >= 10000000
        |  UNION ALL
        |  SELECT 'orders_status_domain', 'orders', count(*), count(*) = 0 FROM orders WHERE o_orderstatus NOT IN ('O','F','P')
        |  UNION ALL
        |  SELECT 'orders_orderkey_unique', 'orders', count(*), count(*) = 0 FROM
        |    (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1) t
        |  UNION ALL
        |  SELECT 'lineitem_quantity_positive', 'lineitem', count(*), count(*) = 0 FROM lineitem WHERE l_quantity <= 0
        |  UNION ALL
        |  SELECT 'lineitem_discount_range', 'lineitem', count(*), count(*) = 0 FROM lineitem WHERE l_discount < 0 OR l_discount > 1
        |  UNION ALL
        |  SELECT 'lineitem_returnflag_domain', 'lineitem', count(*), count(*) = 0 FROM lineitem WHERE l_returnflag NOT IN ('A','N','R')
        |  UNION ALL
        |  SELECT 'customer_acctbal_not_null', 'customer', count(*), count(*) = 0 FROM customer WHERE c_acctbal IS NULL
        |  UNION ALL
        |  SELECT 'events_type_domain', 'events', count(*), count(*) = 0 FROM events WHERE event_type NOT IN ('click','view','signup','purchase','error')
        |  UNION ALL
        |  SELECT 'events_value_not_negative', 'events', count(*), count(*) = 0 FROM events WHERE value < 0
        |) t ORDER BY check_name""".stripMargin)),

    QueryDef("q_dq_referential",
      (s, d) => DataQuality.referential(Tables.orders(s, d), Tables.lineitem(s, d),
          Tables.customer(s, d), Tables.events(s, d))
        .orderBy("check_name"),
      Some("""SELECT * FROM (
        |  SELECT 'lineitem_orderkey_in_orders' AS check_name, 'lineitem' AS table_name,
        |    count(*) AS violation_count, count(*) = 0 AS passed
        |  FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_custkey_in_customer', 'orders', count(*), count(*) = 0
        |  FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'events_userid_in_customer', 'events', count(*), count(*) = 0
        |  FROM events e WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
        |) t ORDER BY check_name""".stripMargin)),

    // Z-order layout key: sorting the fact by the interleaved code
    // co-locates rows close in BOTH (date, customer) — the reference's
    // Delta Z-ORDER BY re-expressed as a native codegen expression + sort.
    QueryDef("q_zorder_orders",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Cleaning.cleanOrders(Tables.orders(s, d))
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(col("order_date"), lit("1970-01-01").cast("date"))
              .cast("long").as("day_key"))
          .withColumn("z_key", expr("morton2(day_key, o_custkey)"))
          .orderBy("o_orderkey")
      },
      Some(CleanOrdersCte +
        s"""
        |SELECT o_orderkey, o_custkey, day_key,
        |  ${// the spread chain textually duplicates its input ~32×, so bind
           // short aliases in a subquery instead of inlining the CAST
           graft.functions.MortonSql.morton2Sql("sa", "sb")} AS z_key
        |FROM (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(order_date - DATE '1970-01-01' AS BIGINT) AS day_key,
        |    CAST(order_date - DATE '1970-01-01' AS BIGINT) AS sa,
        |    o_custkey AS sb
        |  FROM clean_orders
        |) t ORDER BY o_orderkey""".stripMargin)),

    // Equi-width histogram profile: O(bins) output from one exchange,
    // exact min/max bounds broadcast back (never a driver literal), the
    // distribution shape the exact-percentile path doesn't give.
    QueryDef("q_histogram",
      (s, d) => operators.Profiling.histogram(Tables.orders(s, d), "o_totalprice")
        .orderBy("bucket"),
      Some(operators.Profiling.histogramOracleSql("orders", "o_totalprice"))),

    QueryDef("q_profile_lineitem",
      (s, d) => operators.Profiling.profileNumeric(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("column_name"),
      Some {
        // text-path decimal→double (exact text, one correctly-rounded
        // parse) — second moments exceed the 2^53 direct-cast bound
        def one(c: String) =
          s"""SELECT '$c' AS column_name, count(*) AS row_count, count($c) AS value_count,
             |    CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
             |    count(DISTINCT $c) AS distinct_count,
             |    CAST(min($c) AS DOUBLE) AS min_value, CAST(max($c) AS DOUBLE) AS max_value,
             |    CAST(CAST(sum(CAST($c AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
             |    CAST(CAST(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sumsq_value
             |  FROM lineitem""".stripMargin
        val union = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(one).mkString("\n  UNION ALL ")
        s"""SELECT column_name, row_count, value_count, null_count, distinct_count, min_value,
           |  max_value, sum_value,
           |  sum_value / value_count AS mean,
           |  (sumsq_value - sum_value * sum_value / value_count) / value_count AS variance,
           |  sqrt((sumsq_value - sum_value * sum_value / value_count) / value_count) AS stddev
           |FROM (
           |  $union
           |) t ORDER BY column_name""".stripMargin
      }),

    QueryDef("q_corr_lineitem",
      (s, d) => operators.Profiling.correlation(Tables.lineitem(s, d),
        "l_quantity", "l_extendedprice"),
      Some("""SELECT 'l_quantity' AS x_column, 'l_extendedprice' AS y_column, n,
        |  sum_xy / n - (sum_x / n) * (sum_y / n) AS covariance,
        |  (sum_xy / n - (sum_x / n) * (sum_y / n))
        |    / (sqrt(sum_x2 / n - (sum_x / n) * (sum_x / n))
        |     * sqrt(sum_y2 / n - (sum_y / n) * (sum_y / n))) AS corr
        |FROM (
        |  SELECT count(*) AS n,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_x,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_y,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_xy,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_x2,
        |    CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_y2
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |) t""".stripMargin)),

    QueryDef("q_dq_marts",
      (s, d) => DataQuality.martsSuite(
          StarSchema.dimCustomers(Tables.customer(s, d), Tables.nation(s, d),
            Tables.region(s, d)),
          StarSchema.dimDates(Tables.orders(s, d)),
          StarSchema.factOrders(Tables.orders(s, d), Tables.lineitem(s, d)),
          StarSchema.factEvents(Tables.events(s, d)))
        .orderBy("check_name"),
      Some("""WITH dim_customers AS (
        |  SELECT md5(CAST(c_custkey AS VARCHAR)) AS customer_sk, c_custkey AS customer_id,
        |    r_name AS region_name, c_mktsegment AS market_segment
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |), dim_dates AS (
        |  SELECT md5(CAST(date_day AS VARCHAR)) AS date_sk,
        |    CAST(year(date_day) AS BIGINT) AS year,
        |    CAST(dayofweek(date_day) + 1 AS BIGINT) AS day_of_week,
        |    (dayofweek(date_day) IN (0, 6)) AS is_weekend
        |  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date_day FROM orders) t
        |), line_rollup AS (
        |  SELECT l_orderkey, count(*) AS line_count,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS net_revenue,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_lines
        |  FROM lineitem GROUP BY l_orderkey
        |), fact_orders AS (
        |  SELECT md5(CAST(o_orderkey AS VARCHAR)) AS order_sk,
        |    CAST(o_orderdate AS DATE) AS order_date, o_orderstatus AS order_status,
        |    o_totalprice AS order_amount,
        |    COALESCE(line_count, 0) AS line_count,
        |    COALESCE(net_revenue, 0.0) AS net_revenue,
        |    COALESCE(returned_lines, 0) AS returned_lines
        |  FROM orders LEFT JOIN line_rollup ON o_orderkey = l_orderkey
        |), fact_events AS (
        |  SELECT md5(CAST(event_id AS VARCHAR)) AS event_sk, CAST(ts AS DATE) AS event_date,
        |    (event_type = 'error') AS is_error, (event_type = 'purchase') AS is_purchase
        |  FROM events
        |), checks AS (
        |  SELECT 'dim_customers_sk_not_null' AS check_name, 'dim_customers' AS table_name,
        |    CAST(sum(CASE WHEN customer_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violation_count FROM dim_customers
        |  UNION ALL SELECT 'dim_customers_id_not_null', 'dim_customers',
        |    CAST(sum(CASE WHEN customer_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM dim_customers
        |  UNION ALL SELECT 'dim_customers_segment_domain', 'dim_customers',
        |    CAST(sum(CASE WHEN market_segment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY') THEN 1 ELSE 0 END) AS BIGINT) FROM dim_customers
        |  UNION ALL SELECT 'dim_customers_region_domain', 'dim_customers',
        |    CAST(sum(CASE WHEN region_name NOT IN ('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST') THEN 1 ELSE 0 END) AS BIGINT) FROM dim_customers
        |  UNION ALL SELECT 'dim_dates_sk_not_null', 'dim_dates',
        |    CAST(sum(CASE WHEN date_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM dim_dates
        |  UNION ALL SELECT 'dim_dates_year_bounds', 'dim_dates',
        |    CAST(sum(CASE WHEN year < 1990 OR year > 2010 THEN 1 ELSE 0 END) AS BIGINT) FROM dim_dates
        |  UNION ALL SELECT 'dim_dates_weekend_consistent', 'dim_dates',
        |    CAST(sum(CASE WHEN is_weekend != (day_of_week IN (1, 7)) THEN 1 ELSE 0 END) AS BIGINT) FROM dim_dates
        |  UNION ALL SELECT 'fact_orders_sk_not_null', 'fact_orders',
        |    CAST(sum(CASE WHEN order_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM fact_orders
        |  UNION ALL SELECT 'fact_orders_date_not_null', 'fact_orders',
        |    CAST(sum(CASE WHEN order_date IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM fact_orders
        |  UNION ALL SELECT 'fact_orders_amount_nonneg', 'fact_orders',
        |    CAST(sum(CASE WHEN order_amount < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM fact_orders
        |  UNION ALL SELECT 'fact_orders_net_revenue_nonneg', 'fact_orders',
        |    CAST(sum(CASE WHEN net_revenue < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM fact_orders
        |  UNION ALL SELECT 'fact_orders_status_domain', 'fact_orders',
        |    CAST(sum(CASE WHEN order_status NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) FROM fact_orders
        |  UNION ALL SELECT 'fact_orders_returns_bounded', 'fact_orders',
        |    CAST(sum(CASE WHEN returned_lines > line_count THEN 1 ELSE 0 END) AS BIGINT) FROM fact_orders
        |  UNION ALL SELECT 'fact_events_sk_not_null', 'fact_events',
        |    CAST(sum(CASE WHEN event_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM fact_events
        |  UNION ALL SELECT 'fact_events_date_not_null', 'fact_events',
        |    CAST(sum(CASE WHEN event_date IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM fact_events
        |  UNION ALL SELECT 'fact_events_flags_exclusive', 'fact_events',
        |    CAST(sum(CASE WHEN is_error AND is_purchase THEN 1 ELSE 0 END) AS BIGINT) FROM fact_events
        |  UNION ALL SELECT 'dim_customers_sk_unique', 'dim_customers',
        |    count(customer_sk) - count(DISTINCT customer_sk) FROM dim_customers
        |  UNION ALL SELECT 'dim_dates_sk_unique', 'dim_dates',
        |    count(date_sk) - count(DISTINCT date_sk) FROM dim_dates
        |  UNION ALL SELECT 'fact_orders_sk_unique', 'fact_orders',
        |    count(order_sk) - count(DISTINCT order_sk) FROM fact_orders
        |  UNION ALL SELECT 'fact_events_sk_unique', 'fact_events',
        |    count(event_sk) - count(DISTINCT event_sk) FROM fact_events
        |)
        |SELECT check_name, table_name, violation_count, violation_count = 0 AS passed
        |FROM checks ORDER BY check_name""".stripMargin)),

    // Fraud-side dbt parity: gold-source checks + fraud-mart
    // accepted_values/accepted_range + the two singular data tests.
    QueryDef("q_dq_fraud_marts",
      (s, d) => {
        val enriched = Enrichment.enrichOrders(
          Cleaning.cleanOrders(Tables.orders(s, d)),
          Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))
        DataQuality.fraudMartsSuite(
            Revenue.revenueDaily(enriched),
            FraudSummary.fraudSummaryDaily(Tables.events(s, d)),
            FraudSummary.userRiskScores(Tables.events(s, d)),
            FraudScore.score(FraudScore.featureVector(enriched)))
          .orderBy("check_name")
      },
      Some(EnrichedFeaturesCte +
        s"""
        |, enr2 AS (
        |  SELECT co.*, r.r_name AS region_name,
        |    (${Enrichment.riskCaseSql("r.r_name")}) > 0.05 AS is_high_risk
        |  FROM clean_orders co
        |  JOIN customer c ON co.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |), rev AS (
        |  SELECT order_date, region_name, status_normalized, amount_tier,
        |    count(*) AS total_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
        |    CAST(sum(CASE WHEN is_high_risk THEN 1 ELSE 0 END) AS BIGINT) / (count(*) + CAST(0.001 AS DOUBLE)) AS fraud_rate
        |  FROM enr2 GROUP BY 1, 2, 3, 4
        |), fsum AS (
        |  SELECT CAST(ts AS DATE) AS event_date,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS error_rate,
        |    CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
        |      / (CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
        |         + CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)) AS error_value_rate
        |  FROM events GROUP BY 1
        |), ur AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 0.55
        |      + (1.0 - CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 0.25
        |      + (CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) / 1000.0) * 0.20 AS composite_risk_score
        |  FROM events GROUP BY user_id
        |), ur2 AS (
        |  SELECT user_id, composite_risk_score,
        |    CASE WHEN composite_risk_score >= 0.50 THEN 'high'
        |         WHEN composite_risk_score >= 0.30 THEN 'medium'
        |         ELSE 'low' END AS risk_label
        |  FROM ur
        |), zed AS (
        |  SELECT o_orderkey, total_amount,
        |    CAST(CAST(-4.0 AS DOUBLE) + amount_vs_user_avg * CAST(0.9 AS DOUBLE)
        |         + region_risk * CAST(11.0 AS DOUBLE)
        |         + CAST(is_high_risk_region AS DOUBLE) * CAST(0.8 AS DOUBLE)
        |         + CAST(negative_balance AS DOUBLE) * CAST(0.6 AS DOUBLE)
        |         + CAST(is_weekend AS DOUBLE) * CAST(0.15 AS DOUBLE)
        |         + CAST(amount_log AS DOUBLE) * CAST(0.12 AS DOUBLE) AS FLOAT) AS z
        |  FROM fv
        |), fsc AS (
        |  SELECT o_orderkey, total_amount,
        |    CAST(1.0 / (1.0 + exp(-z)) AS FLOAT) AS fraud_score FROM zed
        |), fsc2 AS (
        |  SELECT o_orderkey, total_amount, fraud_score,
        |    CASE WHEN fraud_score >= 0.50 THEN 'high'
        |         WHEN fraud_score >= 0.20 THEN 'medium'
        |         ELSE 'low' END AS risk_label,
        |    CAST(fraud_score >= 0.5 AS BIGINT) AS predicted_fraud
        |  FROM fsc
        |), checks AS (
        |  SELECT 'revenue_daily_date_not_null' AS check_name, 'revenue_daily' AS table_name,
        |    CAST(sum(CASE WHEN order_date IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violation_count FROM rev
        |  UNION ALL SELECT 'revenue_daily_orders_not_null', 'revenue_daily',
        |    CAST(sum(CASE WHEN total_orders IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM rev
        |  UNION ALL SELECT 'revenue_daily_gmv_not_null', 'revenue_daily',
        |    CAST(sum(CASE WHEN gmv IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM rev
        |  UNION ALL SELECT 'revenue_daily_fraud_rate_range', 'revenue_daily',
        |    CAST(sum(CASE WHEN fraud_rate < 0 OR fraud_rate > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM rev
        |  UNION ALL SELECT 'fraud_summary_date_not_null', 'fraud_summary',
        |    CAST(sum(CASE WHEN event_date IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM fsum
        |  UNION ALL SELECT 'fraud_summary_error_rate_range', 'fraud_summary',
        |    CAST(sum(CASE WHEN error_rate < 0 OR error_rate > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM fsum
        |  UNION ALL SELECT 'fraud_summary_error_value_rate_range', 'fraud_summary',
        |    CAST(sum(CASE WHEN error_value_rate < 0 OR error_value_rate > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM fsum
        |  UNION ALL SELECT 'fraud_summary_error_rate_suspicious', 'fraud_summary',
        |    CAST(sum(CASE WHEN error_rate > 0.5 THEN 1 ELSE 0 END) AS BIGINT) FROM fsum
        |  UNION ALL SELECT 'user_risk_user_not_null', 'user_risk_scores',
        |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM ur2
        |  UNION ALL SELECT 'user_risk_score_range', 'user_risk_scores',
        |    CAST(sum(CASE WHEN composite_risk_score < 0 OR composite_risk_score > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM ur2
        |  UNION ALL SELECT 'user_risk_label_domain', 'user_risk_scores',
        |    CAST(sum(CASE WHEN risk_label NOT IN ('low','medium','high') THEN 1 ELSE 0 END) AS BIGINT) FROM ur2
        |  UNION ALL SELECT 'fraud_scores_key_not_null', 'fraud_scores',
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM fsc2
        |  UNION ALL SELECT 'fraud_scores_score_range', 'fraud_scores',
        |    CAST(sum(CASE WHEN fraud_score < 0 OR fraud_score > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM fsc2
        |  UNION ALL SELECT 'fraud_scores_risk_label_domain', 'fraud_scores',
        |    CAST(sum(CASE WHEN risk_label NOT IN ('low','medium','high') THEN 1 ELSE 0 END) AS BIGINT) FROM fsc2
        |  UNION ALL SELECT 'fraud_scores_predicted_domain', 'fraud_scores',
        |    CAST(sum(CASE WHEN predicted_fraud NOT IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) FROM fsc2
        |  UNION ALL SELECT 'fraud_scores_amount_positive', 'fraud_scores',
        |    CAST(sum(CASE WHEN total_amount < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM fsc2
        |  UNION ALL SELECT 'user_risk_user_unique', 'user_risk_scores',
        |    count(user_id) - count(DISTINCT user_id) FROM ur2
        |  UNION ALL SELECT 'fraud_scores_key_unique', 'fraud_scores',
        |    count(o_orderkey) - count(DISTINCT o_orderkey) FROM fsc2
        |)
        |SELECT check_name, table_name, violation_count, violation_count = 0 AS passed
        |FROM checks ORDER BY check_name""".stripMargin)),

    QueryDef("q_feature_vector",
      (s, d) => FraudScore.featureVector(Enrichment.enrichOrders(
          Cleaning.cleanOrders(Tables.orders(s, d)),
          Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)))
        .orderBy("o_orderkey"),
      Some(EnrichedFeaturesCte +
        """
        |SELECT * FROM fv ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q_feature_vector_full",
      (s, d) => {
        val clean = Cleaning.cleanOrders(Tables.orders(s, d))
        FraudScore.fullFeatureVector(
          Enrichment.enrichOrders(clean,
            Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
          clean,
          Cleaning.cleanLineitem(Tables.lineitem(s, d)))
          .orderBy("o_orderkey")
      },
      Some(CleanOrdersCte + ", " + CleanLineitemCte.stripPrefix("WITH ") +
        s"""
        |, enr2 AS (
        |  SELECT co.o_orderkey, co.o_custkey, co.o_totalprice, co.amount_tier, co.order_date,
        |    co.o_orderpriority, c.c_acctbal,
        |    CAST(${Enrichment.riskCaseSql("r.r_name")} AS DOUBLE) AS region_risk
        |  FROM clean_orders co
        |  JOIN customer c ON co.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |), fx2 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, amount_tier, o_orderpriority, region_risk, c_acctbal,
        |    CAST(ln(1.0 + o_totalprice) AS FLOAT) AS amount_log,
        |    CAST(month(order_date) AS BIGINT) AS order_month,
        |    CAST(dayofweek(order_date) + 1 AS BIGINT) AS order_dow,
        |    CAST(dayofweek(order_date) IN (0, 6) AS BIGINT) AS is_weekend,
        |    count(*) OVER w AS user_order_count,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) / count(*) OVER w AS user_avg_amount,
        |    max(o_totalprice) OVER w AS user_max_amount,
        |    min(o_totalprice) OVER w AS user_min_amount,
        |    quantile_cont(o_totalprice, 0.95) OVER w AS user_p95_amount,
        |    o_totalprice / (CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) / count(*) OVER w) AS amount_vs_user_avg,
        |    o_totalprice / (quantile_cont(o_totalprice, 0.95) OVER w + CAST(0.01 AS DOUBLE)) AS amount_vs_user_p95,
        |    CAST(order_date - min(order_date) OVER w AS BIGINT) AS account_age_days
        |  FROM enr2 WINDOW w AS (PARTITION BY o_custkey)
        |), tall AS (
        |  SELECT o_custkey AS uid, order_date - DATE '1970-01-01' AS day,
        |    CAST(1 AS BIGINT) AS w_order, CAST(0 AS BIGINT) AS w_refund, o_orderkey AS v_okey
        |  FROM clean_orders
        |  UNION ALL
        |  SELECT co.o_custkey, cl.ship_date - DATE '1970-01-01',
        |    CAST(0 AS BIGINT), CAST(1 AS BIGINT), NULL
        |  FROM clean_lineitem cl JOIN clean_orders co ON cl.l_orderkey = co.o_orderkey
        |  WHERE cl.is_refund
        |), vel AS (
        |  SELECT v_okey,
        |    CAST(COALESCE(sum(w_order) OVER (PARTITION BY uid ORDER BY day RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS velocity_7d,
        |    CAST(COALESCE(sum(w_order) OVER (PARTITION BY uid ORDER BY day RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS velocity_30d,
        |    CAST(COALESCE(sum(w_order) OVER (PARTITION BY uid ORDER BY day RANGE BETWEEN 90 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS velocity_90d,
        |    CAST(COALESCE(sum(w_refund) OVER (PARTITION BY uid ORDER BY day RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS refund_count_30d,
        |    CAST(sum(w_refund) OVER (PARTITION BY uid) AS BIGINT) AS user_refund_count
        |  FROM tall
        |)
        |SELECT fx2.o_orderkey, fx2.o_custkey,
        |  COALESCE(o_totalprice, CAST(0.0 AS DOUBLE)) AS total_amount,
        |  COALESCE(amount_log, CAST(0.0 AS FLOAT)) AS amount_log,
        |  order_month, order_dow, is_weekend, user_order_count,
        |  COALESCE(user_avg_amount, CAST(0.0 AS DOUBLE)) AS user_avg_amount,
        |  user_max_amount, user_min_amount,
        |  COALESCE(amount_vs_user_avg, CAST(1.0 AS DOUBLE)) AS amount_vs_user_avg,
        |  user_p95_amount,
        |  COALESCE(amount_vs_user_p95, CAST(1.0 AS DOUBLE)) AS amount_vs_user_p95,
        |  account_age_days,
        |  velocity_7d, velocity_30d, velocity_90d, refund_count_30d, user_refund_count,
        |  CAST(user_refund_count AS DOUBLE) / CAST(user_order_count + 1 AS DOUBLE) AS refund_rate,
        |  CAST(CASE amount_tier WHEN 'micro' THEN 0 WHEN 'low' THEN 1 WHEN 'medium' THEN 2
        |       WHEN 'high' THEN 3 ELSE 4 END AS BIGINT) AS tier_encoded,
        |  CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT) AS is_priority_order,
        |  COALESCE(region_risk, CAST(0.05 AS DOUBLE)) AS region_risk,
        |  CAST(region_risk > 0.05 AS BIGINT) AS is_high_risk_region,
        |  CAST(c_acctbal < 0 AS BIGINT) AS negative_balance,
        |  COALESCE(c_acctbal, CAST(0.0 AS DOUBLE)) AS account_balance,
        |  CAST((amount_vs_user_avg > 2.5 AND region_risk > 0.05)
        |       OR (amount_tier = 'premium' AND region_risk >= 0.09) AS BIGINT) AS label
        |FROM fx2 JOIN vel ON fx2.o_orderkey = vel.v_okey
        |ORDER BY fx2.o_orderkey""".stripMargin)),

    QueryDef("q_fraud_score",
      (s, d) => FraudScore.score(FraudScore.featureVector(Enrichment.enrichOrders(
          Cleaning.cleanOrders(Tables.orders(s, d)),
          Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))))
        .select("o_orderkey", "z", "fraud_score", "risk_label", "predicted_fraud", "label")
        .orderBy("o_orderkey"),
      Some(EnrichedFeaturesCte +
        """
        |, zed AS (
        |  SELECT o_orderkey, label,
        |    CAST(CAST(-4.0 AS DOUBLE) + amount_vs_user_avg * CAST(0.9 AS DOUBLE)
        |         + region_risk * CAST(11.0 AS DOUBLE)
        |         + CAST(is_high_risk_region AS DOUBLE) * CAST(0.8 AS DOUBLE)
        |         + CAST(negative_balance AS DOUBLE) * CAST(0.6 AS DOUBLE)
        |         + CAST(is_weekend AS DOUBLE) * CAST(0.15 AS DOUBLE)
        |         + CAST(amount_log AS DOUBLE) * CAST(0.12 AS DOUBLE) AS FLOAT) AS z
        |  FROM fv
        |), scored AS (
        |  SELECT o_orderkey, label, z, CAST(1.0 / (1.0 + exp(-z)) AS FLOAT) AS fraud_score FROM zed
        |)
        |SELECT o_orderkey, z, fraud_score,
        |  CASE WHEN fraud_score >= 0.50 THEN 'high'
        |       WHEN fraud_score >= 0.20 THEN 'medium'
        |       ELSE 'low' END AS risk_label,
        |  CAST(fraud_score >= 0.5 AS BIGINT) AS predicted_fraud,
        |  label
        |FROM scored ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q_model_eval",
      (s, d) => FraudScore.evaluate(FraudScore.score(FraudScore.featureVector(
          Enrichment.enrichOrders(
            Cleaning.cleanOrders(Tables.orders(s, d)),
            Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))))),
      Some(EnrichedFeaturesCte +
        """
        |, zed AS (
        |  SELECT o_orderkey, label,
        |    CAST(CAST(-4.0 AS DOUBLE) + amount_vs_user_avg * CAST(0.9 AS DOUBLE)
        |         + region_risk * CAST(11.0 AS DOUBLE)
        |         + CAST(is_high_risk_region AS DOUBLE) * CAST(0.8 AS DOUBLE)
        |         + CAST(negative_balance AS DOUBLE) * CAST(0.6 AS DOUBLE)
        |         + CAST(is_weekend AS DOUBLE) * CAST(0.15 AS DOUBLE)
        |         + CAST(amount_log AS DOUBLE) * CAST(0.12 AS DOUBLE) AS FLOAT) AS z
        |  FROM fv
        |), scored AS (
        |  SELECT o_orderkey, label,
        |    CAST(CAST(1.0 / (1.0 + exp(-z)) AS FLOAT) >= 0.5 AS BIGINT) AS predicted_fraud
        |  FROM zed
        |), test AS (
        |  SELECT * FROM scored WHERE o_orderkey % 5 = 0
        |), cm AS (
        |  SELECT count(*) AS n_test,
        |    CAST(sum(CASE WHEN predicted_fraud = 1 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN predicted_fraud = 1 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN predicted_fraud = 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN predicted_fraud = 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM test
        |)
        |SELECT n_test, tp, fp, fn, tn,
        |  CAST(tp AS DOUBLE) / (tp + fp) AS precision,
        |  CAST(tp AS DOUBLE) / (tp + fn) AS recall,
        |  CAST(tp + tn AS DOUBLE) / n_test AS accuracy
        |FROM cm""".stripMargin)),

    // Trained-model metrics: learned LR weights aren't cross-engine
    // reproducible → rows-only for the driver; MlSpec asserts the trained
    // metrics beat the literal-weight scorer on the same held-out split.
    QueryDef("q_model_trained_eval",
      (s, d) => {
        val clean = Cleaning.cleanOrders(Tables.orders(s, d))
        TrainedModel.trainEval(FraudScore.fullFeatureVector(
          Enrichment.enrichOrders(clean,
            Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
          clean,
          Cleaning.cleanLineitem(Tables.lineitem(s, d))))
      },
      None),

    // GBT fraud model: the XGBoost analog (tree ensemble on the same 25
    // features). Learned trees aren't cross-engine portable -> rows-only;
    // MlSpec asserts it beats the literal scorer on the same split.
    QueryDef("q_model_gbt_eval",
      (s, d) => {
        val clean = Cleaning.cleanOrders(Tables.orders(s, d))
        // maxIter 10: boosting is sequential (each tree level is a full
        // distributed pass), so iteration count is the wall-clock axis; the
        // rule label saturates well inside 10 trees (MlSpec holds at 5)
        GbtModel.trainEval(FraudScore.fullFeatureVector(
          Enrichment.enrichOrders(clean,
            Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
          clean,
          Cleaning.cleanLineitem(Tables.lineitem(s, d))), maxIter = 10)
      },
      None),

    // Seeded 3-fold CrossValidator grid over the GBT (the deterministic
    // Optuna mirror). Reports the winning grid point + its CV AUC alongside
    // the held-out confusion matrix -> rows-only.
    QueryDef("q_model_tuned_eval",
      (s, d) => {
        val clean = Cleaning.cleanOrders(Tables.orders(s, d))
        // maxIter 5 per candidate: the search ranks grid points, it does
        // not need converged ensembles (reference Optuna trials are equally
        // truncated); 12 seeded CV fits run 8-way parallel
        GbtModel.tunedEval(FraudScore.fullFeatureVector(
          Enrichment.enrichOrders(clean,
            Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
          clean,
          Cleaning.cleanLineitem(Tables.lineitem(s, d))), maxIter = 5)
      },
      None),

    // Train -> versioned registry save -> reload "latest" -> score with the
    // RELOADED model (the reference's decoupled train/serve loop). The
    // reload_mismatches column must be 0; learned trees are engine-local
    // -> rows-only. Registry root is a per-run temp dir (the query's write
    // side effect, like Medallion's warehouse).
    QueryDef("q_model_reload_eval",
      (s, d) => {
        val clean = Cleaning.cleanOrders(Tables.orders(s, d))
        val root = graft.util.Scratch.dir("graft-registry")
        val feats = FraudScore.fullFeatureVector(
          Enrichment.enrichOrders(clean,
            Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
          clean,
          Cleaning.cleanLineitem(Tables.lineitem(s, d)))
        // shared seeded fit: q_model_importance's identical feature frame
        // gets the SAME trees from util.FitMemo — one training pass per
        // run. Bench caveat: whichever of the two runs first absorbs the
        // training cost — only their SUM is comparable across rounds.
        GbtModel.reloadEval(feats, root, maxIter = 5,
          pretrained = Some(GbtModel.fittedShared(feats, maxIter = 5)))
      },
      None),

    // Per-feature importances of the trained GBT, ranked (serving API's
    // explainability surface). Learned split gains are engine-local ->
    // rows-only; MlSpec pins sum==1 and signal-over-noise ordering.
    QueryDef("q_model_importance",
      (s, d) => {
        val clean = Cleaning.cleanOrders(Tables.orders(s, d))
        val feats = FraudScore.fullFeatureVector(
          Enrichment.enrichOrders(clean,
            Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d)),
          clean,
          Cleaning.cleanLineitem(Tables.lineitem(s, d)))
        // importances come off the fit shared with q_model_reload_eval
        // (util.FitMemo) — zero extra training passes
        GbtModel.featureImportance(feats, maxIter = 5,
          pretrained = Some(GbtModel.fittedShared(feats, maxIter = 5)))
      },
      None),

    // Learned document-quality classifier (fastText/CCNet shape): hashed
    // n-gram features + LR against the Gopher weak label, scoring every
    // doc. Rows-only: learned weights are engine-local (SURVEY §4);
    // MlSpec binds held-out AUC, determinism, and structure.
    QueryDef("q_quality_classifier",
      (s, d) => ml.QualityClassifier.trainScore(Tables.documents(s, d))
        .orderBy("doc_id"),
      None),

    // Uplift T-learner decile table (Künzel et al.; Qini): two seeded LR
    // fits over the md5-split arms, predicted vs actual per-decile uplift
    // + the cumulative Qini curve. Rows-only: learned LR weights are
    // engine-local (SURVEY §4); MlSpec binds a planted heterogeneous
    // effect (top decile captures it, bottom does not, Qini ends at the
    // true incremental total).
    QueryDef("q_uplift_deciles",
      (s, d) => ml.Uplift.upliftDeciles(Tables.events(s, d)),
      None),

    QueryDef("q_fraud_summary",
      (s, d) => FraudSummary.fraudSummaryDaily(Tables.events(s, d))
        .select("event_date", "total_events", "error_events", "purchase_events",
          "purchase_value", "error_value", "active_users", "error_rate", "error_value_rate")
        .orderBy("event_date"),
      Some("""SELECT CAST(ts AS DATE) AS event_date,
        |  count(*) AS total_events,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_events,
        |  CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value,
        |  CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS error_value,
        |  count(DISTINCT user_id) AS active_users,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS error_rate,
        |  CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
        |    / (CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)
        |       + CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE)) AS error_value_rate
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef("q_user_risk_scores",
      (s, d) => FraudSummary.userRiskScores(Tables.events(s, d))
        .select("user_id", "events_total", "errors_total", "purchases_total",
          "purchase_value", "avg_event_value", "error_rate", "purchase_rate",
          "composite_risk_score", "risk_label")
        .orderBy("user_id"),
      Some("""SELECT user_id,
        |  count(*) AS events_total,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors_total,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases_total,
        |  CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_event_value,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS error_rate,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS purchase_rate,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 0.55
        |    + (1.0 - CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 0.25
        |    + (CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) / 1000.0) * 0.20 AS composite_risk_score,
        |  CASE WHEN CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 0.55
        |    + (1.0 - CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 0.25
        |    + (CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) / 1000.0) * 0.20 >= 0.50 THEN 'high'
        |       WHEN CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 0.55
        |    + (1.0 - CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 0.25
        |    + (CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) / 1000.0) * 0.20 >= 0.30 THEN 'medium'
        |       ELSE 'low' END AS risk_label
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // The reference's Grafana KPI tiles (Today's GMV / Orders / Fraud
    // Rate / High-Risk Users) as one (kpi, value) frame; "today" = the
    // corpus' newest date, a deterministic CURRENT_DATE.
    QueryDef("q_dashboard_kpis",
      (s, d) => gold.Dashboard.kpis(Tables.events(s, d),
        Cleaning.cleanOrders(Tables.orders(s, d))).orderBy("kpi"),
      Some(CleanOrdersCte +
        """
        |, daily AS (
        |  SELECT order_date,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
        |    CAST(count(*) AS DOUBLE) AS orders
        |  FROM clean_orders GROUP BY 1),
        |latest AS (SELECT * FROM daily WHERE order_date = (SELECT max(order_date) FROM daily)),
        |fs AS (
        |  SELECT CAST(ts AS DATE) AS event_date,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS error_rate
        |  FROM events GROUP BY 1),
        |fsl AS (SELECT * FROM fs WHERE event_date = (SELECT max(event_date) FROM fs)),
        |risk AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 0.55
        |    + (1.0 - CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 0.25
        |    + (CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) / 1000.0) * 0.20 AS c
        |  FROM events GROUP BY user_id)
        |SELECT kpi, value FROM (
        |  SELECT 'todays_gmv' AS kpi, gmv AS value FROM latest
        |  UNION ALL SELECT 'todays_orders', orders FROM latest
        |  UNION ALL SELECT 'todays_error_rate', error_rate FROM fsl
        |  UNION ALL SELECT 'high_risk_users', CAST(count(*) AS DOUBLE) FROM risk WHERE c >= 0.50
        |) t ORDER BY kpi""".stripMargin)),

    // The two 7-day trend panels: per-day event-sourced GMV vs fraud
    // amount and the fraud-rate trend over the trailing week.
    QueryDef("q_dashboard_trend",
      (s, d) => gold.Dashboard.trend(Tables.events(s, d)).orderBy("event_date"),
      Some("""WITH fs AS (
        |  SELECT CAST(ts AS DATE) AS event_date,
        |    CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
        |    CAST(sum(CAST(CASE WHEN event_type = 'error' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS fraud_amount,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS error_rate
        |  FROM events GROUP BY 1)
        |SELECT event_date, gmv, fraud_amount, error_rate FROM fs
        |WHERE event_date >= (SELECT max(event_date) FROM fs) - 6
        |ORDER BY event_date""".stripMargin))
  )
}
