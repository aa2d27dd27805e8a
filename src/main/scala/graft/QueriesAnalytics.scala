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

/** Registry slice: model-evaluation statistics, drift, forensics, graph/ring analytics, attribution.
  * Split from the monolithic Queries.scala (r11) — a pure move with zero
  * behavior change; shared oracle CTE fragments live in [[QueriesShared]].
  */
private[graft] object QueriesAnalytics {
  // r8 batch: model-evaluation statistics, drift monitoring, forensic
  // screens, fraud-ring pairs, and revenue attribution.
  private[graft] lazy val defs: Seq[QueryDef] = Seq(

    // Exact distributed ROC-AUC of the literal scorer as a Mann–Whitney
    // rank statistic — ScalableRank global ranking + one aggregate, all
    // integer until the final division (ml/Evaluation.scala).
    QueryDef("q_roc_auc",
      (s, d) => Evaluation.rocAuc(literalScored(s, d), "fraud_score", "label",
          "o_orderkey")
        .orderBy("pos_n"),
      Some(ScoredCte +
        """
        |, r AS (
        |  SELECT label,
        |    2 * rank() OVER (ORDER BY fraud_score)
        |      + count(*) OVER (PARTITION BY fraud_score) - 1 AS r2
        |  FROM scored
        |), agg AS (
        |  SELECT CAST(sum(label) AS BIGINT) AS pos_n,
        |         CAST(count(*) - sum(label) AS BIGINT) AS neg_n,
        |         CAST(sum(CASE WHEN label = 1 THEN r2 ELSE 0 END) AS BIGINT) AS rank_sum2
        |  FROM r
        |), a2 AS (
        |  SELECT pos_n, neg_n, rank_sum2,
        |    CAST(rank_sum2 - pos_n * (pos_n + 1) AS DOUBLE) / (2.0 * pos_n * neg_n) AS auc
        |  FROM agg
        |)
        |SELECT pos_n, neg_n, rank_sum2, auc, 2.0 * auc - 1.0 AS gini
        |FROM a2 ORDER BY pos_n""".stripMargin)),

    // Per-segment AUC with DeLong 95% CIs — the fairness/cohort panel:
    // exact within-segment midranks, centered integer components folded
    // pos/neg-weighted at (segment, score) grain, exact decimal squared
    // sums, one mirrored IEEE chain per segment.
    QueryDef("q_auc_by_segment",
      (s, d) => Evaluation.aucBySegment(literalScored(s, d),
          "region_risk", "fraud_score", "label")
        .orderBy("segment"),
      Some(ScoredCte +
        """
        |, sb AS (
        |  SELECT f.region_risk AS seg, s.label, s.fraud_score
        |  FROM scored s JOIN fv f USING (o_orderkey)
        |), gg AS (
        |  SELECT seg, fraud_score AS sv, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(label) AS BIGINT) AS pos
        |  FROM sb GROUP BY 1, 2
        |), hh AS (
        |  SELECT seg, cnt, pos,
        |    2 * coalesce(sum(cnt) OVER w, 0) + cnt + 1 AS h2,
        |    2 * coalesce(sum(pos) OVER w, 0) + pos + 1 AS h2p,
        |    2 * (coalesce(sum(cnt) OVER w, 0) - coalesce(sum(pos) OVER w, 0))
        |      + (cnt - pos) + 1 AS h2n
        |  FROM gg WINDOW w AS (PARTITION BY seg ORDER BY sv
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), sc AS (
        |  SELECT seg, CAST(sum(pos) AS BIGINT) AS m,
        |    CAST(sum(cnt - pos) AS BIGINT) AS n,
        |    CAST(sum(pos * h2) AS BIGINT) AS r2,
        |    CAST(sum((cnt - pos) * h2) AS BIGINT) AS q2
        |  FROM hh GROUP BY 1
        |), sc2 AS (
        |  SELECT seg, m, n, r2 - m * (m + 1) AS s_off, q2 - n * (n + 1) AS t_off
        |  FROM sc
        |), comp AS (
        |  SELECT h.seg, s.m, s.n, s.s_off,
        |    CAST(h.pos AS HUGEINT) *
        |      (CAST(s.m AS HUGEINT) * (h.h2 - h.h2p) - s.s_off) *
        |      (CAST(s.m AS HUGEINT) * (h.h2 - h.h2p) - s.s_off) AS a2,
        |    CAST(h.cnt - h.pos AS HUGEINT) *
        |      (CAST(s.n AS HUGEINT) * (h.h2 - h.h2n) - s.t_off) *
        |      (CAST(s.n AS HUGEINT) * (h.h2 - h.h2n) - s.t_off) AS b2
        |  FROM hh h JOIN sc2 s USING (seg)
        |), agg AS (
        |  SELECT seg, m, n, s_off, sum(a2) AS sum_a2, sum(b2) AS sum_b2
        |  FROM comp GROUP BY 1, 2, 3, 4
        |), fin AS (
        |  SELECT seg, m, n, s_off, sum_a2, sum_b2,
        |    2.0 * CAST(m AS DOUBLE) * CAST(n AS DOUBLE) AS c2
        |  FROM agg
        |), fin2 AS (
        |  SELECT seg, m, n,
        |    CASE WHEN m > 0 AND n > 0 THEN CAST(s_off AS DOUBLE) / c2
        |         ELSE NULL END AS auc,
        |    CASE WHEN m > 1 AND n > 1 THEN
        |      sqrt(CAST(sum_a2 AS DOUBLE)
        |          / ((CAST(m AS DOUBLE) - 1.0) * c2 * c2 * CAST(m AS DOUBLE))
        |        + CAST(sum_b2 AS DOUBLE)
        |          / ((CAST(n AS DOUBLE) - 1.0) * c2 * c2 * CAST(n AS DOUBLE)))
        |    ELSE NULL END AS se
        |  FROM fin
        |)
        |SELECT seg AS segment, m AS pos_n, n AS neg_n, auc, se,
        |  auc - 1.96 * se AS ci_lo, auc + 1.96 * se AS ci_hi
        |FROM fin2 ORDER BY segment""".stripMargin)),

    // Exact tie-corrected Spearman: monotone association between account
    // balance and lifetime spend per customer — doubled midranks (the
    // rocAuc integer-tie contract), Pearson over ranks from exact decimal
    // sums, one IEEE chain.
    QueryDef("q_spearman",
      (s, d) => {
        val perCust = Cleaning.cleanOrders(Tables.orders(s, d))
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").as("spend"))
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal")),
            col("o_custkey") === col("c_custkey"))
        graft.operators.Profiling.spearman(perCust, "c_acctbal", "spend")
          .orderBy("n")
      },
      Some(CleanOrdersCte +
        """
        |, pc AS (
        |  SELECT co.o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS spend,
        |    any_value(c.c_acctbal) AS bal
        |  FROM clean_orders co JOIN customer c ON co.o_custkey = c.c_custkey
        |  GROUP BY 1
        |), rk AS (
        |  SELECT
        |    2 * rank() OVER (ORDER BY bal) + count(*) OVER (PARTITION BY bal) - 1 AS u2,
        |    2 * rank() OVER (ORDER BY spend) + count(*) OVER (PARTITION BY spend) - 1 AS v2
        |  FROM pc
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(u2 AS HUGEINT)) AS su, sum(CAST(v2 AS HUGEINT)) AS sv,
        |    sum(CAST(u2 AS HUGEINT) * v2) AS suv,
        |    sum(CAST(u2 AS HUGEINT) * u2) AS suu,
        |    sum(CAST(v2 AS HUGEINT) * v2) AS svv
        |  FROM rk
        |), f AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) AS vy,
        |    CAST(n AS DOUBLE) * CAST(suv AS DOUBLE) - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE) AS cxy
        |  FROM m
        |)
        |SELECT n, CASE WHEN vx > 0 AND vy > 0 THEN cxy / sqrt(vx * vy)
        |             ELSE NULL END AS rho
        |FROM f ORDER BY n""".stripMargin)),

    // Log-log price elasticity per product category: OLS of ln(qty) on
    // ln(net unit price) with float32-collapsed micro-nat logs and exact
    // decimal moments (the zipfFit contract) — slope = % demand per
    // % price.
    QueryDef("q_price_elasticity",
      (s, d) => gold.Elasticity.priceElasticity(
          Tables.lineitem(s, d), Tables.part(s, d)).orderBy("p_type"),
      Some(gold.Elasticity.priceElasticityOracleSql)),

    // Holt double-exponential smoothing forecast: the day series
    // materialized as ONE sorted struct array, the whole recursion a
    // row-local HOF fold (identical left fold in DuckDB list_reduce),
    // h-step forecasts + one-step-ahead SSE.
    // EWMA control chart on daily revenue (Roberts 1959): recursive
    // z-walk from the burn-in mean with time-varying 3-sigma control
    // bands — the small-persistent-shift detector complementing CUSUM's
    // change-point screen. Left-fold burn-in moments, one array-fold
    // recursion vs the oracle's recursive CTE, per-day float32-collapsed
    // power — hash-exact.
    QueryDef("q_ewma_chart",
      (s, d) => gold.Seasonal.ewmaChart(
          Cleaning.cleanOrders(Tables.orders(s, d))),
      Some(gold.Seasonal.ewmaChartOracleSql(CleanOrdersCte))),

    QueryDef("q_holt_forecast",
      (s, d) => gold.Seasonal.holtForecast(
          Cleaning.cleanOrders(Tables.orders(s, d))).orderBy("h"),
      Some("WITH RECURSIVE " + CleanOrdersCte.stripPrefix("WITH ") +
        gold.Seasonal.holtOracleSql())),

    // Holt-Winters additive forecast with a 7-day season — level, trend,
    // and day-of-cycle seasonal off one array fold whose step arithmetic
    // is GENERATED once for both engines (Spark aggregate HOF ≡ the
    // oracle's recursive CTE), completing the forecasting family.
    QueryDef("q_holt_winters",
      (s, d) => gold.Seasonal.holtWintersForecast(
          Cleaning.cleanOrders(Tables.orders(s, d))).orderBy("h"),
      Some("WITH RECURSIVE " + CleanOrdersCte.stripPrefix("WITH ") +
        gold.Seasonal.holtWintersOracleSql())),

    // Exact unbinned two-sample Kolmogorov-Smirnov drift test per
    // priority segment: sup ECDF gap at every distinct amount as an
    // exact integer ratio, distributed prefix sums (no one-partition
    // window), truncated-Kolmogorov p with float32-collapsed exps.
    QueryDef("q_ks_exact",
      (s, d) => gold.Drift.ksExact(
          Cleaning.cleanOrders(Tables.orders(s, d)),
          col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * lit(100)).cast("long"),
          col("order_date") < to_date(lit("1998-01-01"))),
      Some(CleanOrdersCte + gold.Drift.ksExactOracleSql("1998-01-01"))),

    // Mann-Whitney U two-sample drift test: exact-rank (unbinned) shift
    // detection on order amounts between periods — doubled midranks,
    // exact tie correction, one mirrored IEEE chain for u/mu/sigma/z.
    QueryDef("q_mannwhitney",
      (s, d) => gold.Drift.mannWhitney(
          Cleaning.cleanOrders(Tables.orders(s, d)),
          col("o_totalprice"), col("order_date") < to_date(lit("1997-01-01")))
        .orderBy("m"),
      Some(CleanOrdersCte +
        """
        |, rows_mw AS (
        |  SELECT o_totalprice AS v,
        |    CASE WHEN order_date < DATE '1997-01-01' THEN 1 ELSE 0 END AS a
        |  FROM clean_orders
        |), g AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(a) AS BIGINT) AS ca
        |  FROM rows_mw GROUP BY 1
        |), h AS (
        |  SELECT cnt, ca,
        |    2 * coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS h2
        |  FROM g
        |), agg AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS m,
        |    CAST(sum(cnt - ca) AS BIGINT) AS n,
        |    CAST(sum(ca * h2) AS BIGINT) AS r2a,
        |    sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
        |  FROM h
        |), s1 AS (
        |  SELECT m, n, r2a - m * (m + 1) AS u2, ties FROM agg
        |), s2 AS (
        |  SELECT m, n, u2,
        |    CAST(u2 AS DOUBLE) / 2.0 AS u,
        |    CAST(m AS DOUBLE) * CAST(n AS DOUBLE) / 2.0 AS mu,
        |    sqrt(CAST(m AS DOUBLE) * CAST(n AS DOUBLE) / 12.0 *
        |      ((CAST(m + n AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
        |        (CAST(m + n AS DOUBLE) * (CAST(m + n AS DOUBLE) - 1.0)))) AS sigma
        |  FROM s1
        |)
        |SELECT m, n, u2, u, mu, sigma,
        |  CASE WHEN sigma > 0 THEN (u - mu) / sigma ELSE NULL END AS z,
        |  2.0 * (u / (CAST(m AS DOUBLE) * CAST(n AS DOUBLE))) - 1.0 AS rank_biserial
        |FROM s2 ORDER BY m""".stripMargin)),

    // Per-brand Mann-Whitney drift screen with Benjamini-Hochberg FDR
    // control: one tie-corrected rank test per part brand (pre vs post
    // cutoff price distribution), two-sided p via the A&S 26.2.17 normal
    // CDF polynomial (pure arithmetic + one float32-collapsed exp — no
    // erf builtin needed in either engine), BH step-up adjustment across
    // the family. The multiple-testing correction a segment-grain
    // monitoring screen needs before paging anyone.
    QueryDef("q_drift_fdr",
      (s, d) => gold.Drift.bhAdjust(
          gold.Drift.mannWhitneyByGroup(
            Tables.lineitem(s, d).select("l_partkey", "l_extendedprice", "l_shipdate")
              .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
                col("l_partkey") === col("p_partkey")),
            col("p_brand"), col("l_extendedprice"),
            col("l_shipdate") < to_timestamp(lit("1997-06-01 00:00:00"))),
          "grp", "z")
        .withColumnRenamed("grp", "brand")
        .orderBy("brand"),
      Some(s"""WITH rows_mw AS (
        |  SELECT p_brand AS grp, l_extendedprice AS v,
        |    CASE WHEN l_shipdate < TIMESTAMP '1997-06-01 00:00:00' THEN 1 ELSE 0 END AS a
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |), g AS (
        |  SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(a) AS BIGINT) AS ca
        |  FROM rows_mw GROUP BY 1, 2
        |), h AS (
        |  SELECT grp, cnt, ca,
        |    2 * coalesce(sum(cnt) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS h2
        |  FROM g
        |), agg AS (
        |  SELECT grp, CAST(sum(ca) AS BIGINT) AS m,
        |    CAST(sum(cnt - ca) AS BIGINT) AS n,
        |    CAST(sum(ca * h2) AS BIGINT) AS r2a,
        |    sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
        |  FROM h GROUP BY 1
        |), s1 AS (
        |  SELECT grp, m, n, r2a - m * (m + 1) AS u2, ties FROM agg
        |), s2 AS (
        |  SELECT grp, m, n,
        |    CAST(u2 AS DOUBLE) / 2.0 AS u,
        |    CAST(m AS DOUBLE) * CAST(n AS DOUBLE) / 2.0 AS mu,
        |    sqrt(CAST(m AS DOUBLE) * CAST(n AS DOUBLE) / 12.0 *
        |      ((CAST(m + n AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
        |        (CAST(m + n AS DOUBLE) * (CAST(m + n AS DOUBLE) - 1.0)))) AS sigma
        |  FROM s1
        |), s3 AS (
        |  SELECT grp, m, n, u,
        |    CASE WHEN sigma > 0 THEN (u - mu) / sigma ELSE NULL END AS z
        |  FROM s2
        |), pz AS (
        |  SELECT grp, m, n, u, z, abs(z) AS az,
        |    ${gold.Drift.TSql} AS t
        |  FROM s3
        |), pv AS (
        |  SELECT grp, m, n, u, z,
        |    CASE WHEN z IS NOT NULL THEN ${gold.Drift.TwoSidedPSql} END AS p_two
        |  FROM pz
        |), rk AS (
        |  SELECT *,
        |    CAST(sum(CASE WHEN p_two IS NOT NULL THEN 1 ELSE 0 END) OVER () AS BIGINT) AS m_tests,
        |    CASE WHEN p_two IS NOT NULL THEN
        |      CAST(row_number() OVER (ORDER BY p_two ASC NULLS LAST, grp ASC) AS BIGINT)
        |    END AS bh_rank
        |  FROM pv
        |), adj AS (
        |  SELECT *,
        |    CASE WHEN p_two IS NOT NULL THEN
        |      least(1.0, min(p_two * CAST(m_tests AS DOUBLE) / CAST(bh_rank AS DOUBLE))
        |        OVER (ORDER BY bh_rank DESC NULLS LAST
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    END AS p_adj
        |  FROM rk
        |)
        |SELECT grp AS brand, m, n, u, z, p_two, m_tests, bh_rank, p_adj,
        |  coalesce(p_adj <= 0.05, false) AS discovery
        |FROM adj ORDER BY brand""".stripMargin)),

    // CUPED variance reduction (Deng et al. 2013): per-customer pre/post
    // revenue, pooled theta from exact decimal power sums, adjusted
    // metric micro/milli-quantized before any cross-row sum. The
    // experiment-readout frame that makes small revenue effects
    // detectable without more traffic.
    QueryDef("q_cuped",
      (s, d) => gold.Experiment.cuped(
          Cleaning.cleanOrders(Tables.orders(s, d))).orderBy("arm"),
      Some(CleanOrdersCte +
        """
        |, pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CASE WHEN order_date < DATE '1997-01-01'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DECIMAL(18,2)) AS x,
        |    CAST(sum(CASE WHEN order_date >= DATE '1997-01-01'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DECIMAL(18,2)) AS y,
        |    CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM clean_orders GROUP BY o_custkey
        |), mo AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_all,
        |    sum(CAST(x AS DECIMAL(38,6))) AS sx, sum(CAST(y AS DECIMAL(38,6))) AS sy,
        |    sum(CAST(x * x AS DECIMAL(38,6))) AS sxx,
        |    sum(CAST(x * y AS DECIMAL(38,6))) AS sxy
        |  FROM pc
        |), th AS (
        |  SELECT
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n_all AS DOUBLE))
        |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n_all AS DOUBLE)) AS theta,
        |    CAST(sx AS DOUBLE) / CAST(n_all AS DOUBLE) AS xbar
        |  FROM mo
        |), adj AS (
        |  SELECT arm, theta, CAST(y AS DECIMAL(18,2)) AS y_dec,
        |    CAST(floor((CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar))
        |      * 1000000.0) AS BIGINT) AS ya_micro,
        |    CAST(floor((CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar))
        |      * (CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar))
        |      * 1000.0) AS BIGINT) AS ya2_milli,
        |    CAST(floor(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) * 1000.0) AS BIGINT) AS y2_milli
        |  FROM pc CROSS JOIN th
        |), ag AS (
        |  SELECT arm, theta, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y_dec) AS DECIMAL(38,2)) AS ysum,
        |    sum(CAST(y2_milli AS HUGEINT)) AS y2,
        |    sum(CAST(ya_micro AS HUGEINT)) AS ya,
        |    sum(CAST(ya2_milli AS HUGEINT)) AS ya2
        |  FROM adj GROUP BY 1, 2
        |), f AS (
        |  SELECT arm, n, theta,
        |    CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
        |    CAST(ya AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mean_y_adj,
        |    CAST(y2 AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)
        |      - (CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE)) AS var_y,
        |    CAST(ya2 AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)
        |      - (CAST(ya AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
        |        * (CAST(ya AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)) AS var_y_adj
        |  FROM ag
        |)
        |SELECT arm, n, theta, mean_y, mean_y_adj, var_y, var_y_adj,
        |  1.0 - var_y_adj / var_y AS var_reduction
        |FROM f ORDER BY arm""".stripMargin)),

    // Difference-in-differences: two-period customer panel, parity arms,
    // effect = mean(post−pre | A) − mean(post−pre | B). Exact decimal
    // cell sums, milli-quantized second moments, one IEEE chain (sqrt is
    // IEEE-exact) — hash-exact like q_cuped.
    QueryDef("q_did",
      (s, d) => gold.Experiment.diffInDiff(
          Cleaning.cleanOrders(Tables.orders(s, d))).orderBy("arm"),
      Some(CleanOrdersCte +
        """
        |, pc AS (
        |  SELECT o_custkey,
        |    CAST(sum(CASE WHEN order_date < DATE '1997-01-01'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DECIMAL(18,2)) AS pre,
        |    CAST(sum(CASE WHEN order_date >= DATE '1997-01-01'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DECIMAL(18,2)) AS post,
        |    CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM clean_orders GROUP BY o_custkey
        |), pd AS (
        |  SELECT arm, pre, post, CAST(post - pre AS DECIMAL(18,2)) AS d,
        |    CAST(floor(CAST(post - pre AS DOUBLE) * CAST(post - pre AS DOUBLE) * 1000.0) AS BIGINT) AS d2_milli
        |  FROM pc
        |), ag AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pre) AS DECIMAL(38,2)) AS spre,
        |    CAST(sum(post) AS DECIMAL(38,2)) AS spost,
        |    CAST(sum(d) AS DECIMAL(38,2)) AS sd,
        |    sum(CAST(d2_milli AS HUGEINT)) AS sd2
        |  FROM pd GROUP BY 1
        |), f AS (
        |  SELECT arm, n,
        |    CAST(spre AS DOUBLE) / CAST(n AS DOUBLE) AS mean_pre,
        |    CAST(spost AS DOUBLE) / CAST(n AS DOUBLE) AS mean_post,
        |    CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_diff,
        |    CAST(sd2 AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)
        |      - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) AS var_diff
        |  FROM ag
        |), sc AS (
        |  SELECT
        |    sum(CASE WHEN arm = 'A' THEN mean_diff END)
        |      - sum(CASE WHEN arm = 'B' THEN mean_diff END) AS did_estimate,
        |    sqrt(sum(CASE WHEN arm = 'A' THEN var_diff / CAST(n AS DOUBLE) END)
        |      + sum(CASE WHEN arm = 'B' THEN var_diff / CAST(n AS DOUBLE) END)) AS se_did
        |  FROM f
        |)
        |SELECT arm, n, mean_pre, mean_post, mean_diff, var_diff,
        |  did_estimate, se_did, did_estimate / se_did AS t_stat
        |FROM f CROSS JOIN sc ORDER BY arm""".stripMargin)),

    // Isotonic (PAV) calibration map: distributed Spark-ML fit; the
    // bounded (boundary, calibrated_p) table serving broadcasts.
    // Rows-only (learned map, SURVEY section 4); MlSpec pins the PAV hand
    // example, monotonicity, and the Brier improvement direction.
    QueryDef("q_isotonic_map",
      (s, d) => graft.ml.Calibration.isotonicMap(literalScored(s, d),
          "fraud_score", "label")
        .orderBy("boundary"),
      None),

    // Calibration payoff in one row: micro-quantized Brier before/after
    // the isotonic map on the same rows. Rows-only (learned predictions).
    QueryDef("q_isotonic_gain",
      (s, d) => graft.ml.Calibration.brierGain(literalScored(s, d),
          "fraud_score", "label")
        .orderBy("n"),
      None),

    // Split-conformal anomaly thresholds: per miscoverage level alpha,
    // the exact-rank calibration-negative cutoff whose false-flag rate is
    // distribution-free bounded by alpha. One global ranking + a 4-row
    // broadcast over the test slice.
    QueryDef("q_conformal",
      (s, d) => Evaluation.conformalThresholds(literalScored(s, d),
          "fraud_score", "label", "o_orderkey")
        .orderBy("alpha"),
      Some(ScoredCte +
        """
        |, b AS (
        |  SELECT o_orderkey AS id, fraud_score AS sv, label,
        |    o_orderkey % 5 <> 0 AS cal
        |  FROM scored
        |), cn AS (
        |  SELECT sv, row_number() OVER (ORDER BY sv, id) AS rn
        |  FROM b WHERE cal AND label = 0
        |), nc AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_cal FROM b WHERE cal AND label = 0
        |), grid AS (
        |  SELECT unnest([0.01, 0.05, 0.1, 0.2]) AS alpha
        |), ks AS (
        |  SELECT alpha, n_cal,
        |    CAST(ceil((n_cal + 1) * (1.0 - alpha)) AS BIGINT) AS k
        |  FROM grid CROSS JOIN nc
        |), thr AS (
        |  SELECT ks.alpha, ks.n_cal, ks.k, cn.sv AS threshold
        |  FROM ks LEFT JOIN cn ON ks.k = cn.rn
        |), m AS (
        |  SELECT t.alpha, t.n_cal, t.k, t.threshold,
        |    CAST(sum(CASE WHEN b.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test_neg,
        |    CAST(sum(CASE WHEN b.label = 0 AND t.threshold IS NOT NULL
        |      AND b.sv > t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS false_flags,
        |    CAST(sum(CASE WHEN b.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_test_pos,
        |    CAST(sum(CASE WHEN b.label = 1 AND t.threshold IS NOT NULL
        |      AND b.sv > t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS detected
        |  FROM b CROSS JOIN thr t WHERE NOT b.cal
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT alpha, n_cal, k, threshold, n_test_neg, false_flags,
        |  n_test_pos, detected,
        |  CASE WHEN n_test_neg > 0
        |    THEN CAST(false_flags AS DOUBLE) / CAST(n_test_neg AS DOUBLE)
        |    ELSE NULL END AS fp_rate,
        |  CASE WHEN n_test_pos > 0
        |    THEN CAST(detected AS DOUBLE) / CAST(n_test_pos AS DOUBLE)
        |    ELSE NULL END AS recall
        |FROM m ORDER BY alpha""".stripMargin)),

    // DeLong paired-AUC comparison (DeLong, DeLong & Clarke-Pearson 1988):
    // is the literal logistic actually better than the amount-only
    // baseline on the SAME orders? Exact doubled midranks -> centered
    // INTEGER structural components -> exact decimal (co)variance sums ->
    // one mirrored IEEE chain for auc_a/auc_b/delta/se/z. Fully
    // distributed (score-grain prefix sums via ScalableRank, scalars
    // broadcast back) — the sklearn-free significance test.
    QueryDef("q_delong_auc",
      (s, d) => Evaluation.delongCompare(literalScored(s, d),
          "fraud_score", "amount_log", "label")
        .orderBy("pos_n"),
      Some(ScoredCte +
        """
        |, sbase AS (
        |  SELECT s.o_orderkey, s.label, s.fraud_score, f.amount_log
        |  FROM scored s JOIN fv f USING (o_orderkey)
        |), ga AS (
        |  SELECT fraud_score AS sv, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(label) AS BIGINT) AS pos
        |  FROM sbase GROUP BY 1
        |), gaa AS (
        |  SELECT sv,
        |    2 * coalesce(sum(cnt) OVER w, 0) + cnt + 1 AS a_h2,
        |    2 * coalesce(sum(pos) OVER w, 0) + pos + 1 AS a_h2p,
        |    2 * (coalesce(sum(cnt) OVER w, 0) - coalesce(sum(pos) OVER w, 0))
        |      + (cnt - pos) + 1 AS a_h2n
        |  FROM ga WINDOW w AS (ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), gb AS (
        |  SELECT amount_log AS sv, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(label) AS BIGINT) AS pos
        |  FROM sbase GROUP BY 1
        |), gbb AS (
        |  SELECT sv,
        |    2 * coalesce(sum(cnt) OVER w, 0) + cnt + 1 AS b_h2,
        |    2 * coalesce(sum(pos) OVER w, 0) + pos + 1 AS b_h2p,
        |    2 * (coalesce(sum(cnt) OVER w, 0) - coalesce(sum(pos) OVER w, 0))
        |      + (cnt - pos) + 1 AS b_h2n
        |  FROM gb WINDOW w AS (ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), rk AS (
        |  SELECT sbase.label, a.a_h2, a.a_h2p, a.a_h2n, b.b_h2, b.b_h2p, b.b_h2n
        |  FROM sbase JOIN gaa a ON sbase.fraud_score = a.sv
        |             JOIN gbb b ON sbase.amount_log = b.sv
        |), sc AS (
        |  SELECT CAST(sum(label) AS BIGINT) AS m,
        |    CAST(count(*) - sum(label) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN label = 1 THEN a_h2 ELSE 0 END) AS BIGINT) AS ra,
        |    CAST(sum(CASE WHEN label = 1 THEN b_h2 ELSE 0 END) AS BIGINT) AS rb,
        |    CAST(sum(CASE WHEN label = 0 THEN a_h2 ELSE 0 END) AS BIGINT) AS qa,
        |    CAST(sum(CASE WHEN label = 0 THEN b_h2 ELSE 0 END) AS BIGINT) AS qb
        |  FROM rk
        |), sc2 AS (
        |  SELECT m, n, ra - m * (m + 1) AS s_a, rb - m * (m + 1) AS s_b,
        |    qa - n * (n + 1) AS t_a, qb - n * (n + 1) AS t_b
        |  FROM sc
        |), comp AS (
        |  SELECT
        |    CASE WHEN r.label = 1 THEN CAST(s.m AS HUGEINT) * (r.a_h2 - r.a_h2p) - s.s_a ELSE 0 END AS caa,
        |    CASE WHEN r.label = 1 THEN CAST(s.m AS HUGEINT) * (r.b_h2 - r.b_h2p) - s.s_b ELSE 0 END AS cab,
        |    CASE WHEN r.label = 0 THEN CAST(s.n AS HUGEINT) * (r.a_h2 - r.a_h2n) - s.t_a ELSE 0 END AS cba,
        |    CASE WHEN r.label = 0 THEN CAST(s.n AS HUGEINT) * (r.b_h2 - r.b_h2n) - s.t_b ELSE 0 END AS cbb
        |  FROM rk r CROSS JOIN sc2 s
        |), sums AS (
        |  SELECT sum(caa * caa) AS paa, sum(cab * cab) AS pbb, sum(caa * cab) AS pab,
        |    sum(cba * cba) AS qaa, sum(cbb * cbb) AS qbb, sum(cba * cbb) AS qab
        |  FROM comp
        |), fin AS (
        |  SELECT m, n, paa, pbb, pab, qaa, qbb, qab, s_a, s_b,
        |    2.0 * CAST(m AS DOUBLE) * CAST(n AS DOUBLE) AS c2
        |  FROM sc2 CROSS JOIN sums
        |), fin2 AS (
        |  SELECT m, n,
        |    CAST(s_a AS DOUBLE) / c2 AS auc_a,
        |    CAST(s_b AS DOUBLE) / c2 AS auc_b,
        |    (CAST(paa AS DOUBLE) + CAST(pbb AS DOUBLE) - 2.0 * CAST(pab AS DOUBLE))
        |      / ((CAST(m AS DOUBLE) - 1.0) * c2 * c2 * CAST(m AS DOUBLE)) AS var10,
        |    (CAST(qaa AS DOUBLE) + CAST(qbb AS DOUBLE) - 2.0 * CAST(qab AS DOUBLE))
        |      / ((CAST(n AS DOUBLE) - 1.0) * c2 * c2 * CAST(n AS DOUBLE)) AS var01
        |  FROM fin
        |)
        |SELECT m AS pos_n, n AS neg_n, auc_a, auc_b, auc_a - auc_b AS delta,
        |  sqrt(var10 + var01) AS se,
        |  CASE WHEN sqrt(var10 + var01) = 0 THEN NULL
        |       ELSE (auc_a - auc_b) / sqrt(var10 + var01) END AS z
        |FROM fin2 ORDER BY pos_n""".stripMargin)),

    // Reliability-diagram decile bins; micro-unit quantization keeps the
    // double sums hash-exact (SURVEY §4 / UnigramLm contract).
    QueryDef("q_calibration",
      (s, d) => Evaluation.calibrationBins(literalScored(s, d), "fraud_score",
        "label", bins = 10),
      Some(ScoredCte +
        """
        |, b AS (
        |  SELECT least(CAST(floor(CAST(fraud_score AS DOUBLE) * 10) AS BIGINT), 9) AS bin,
        |    label,
        |    CAST(floor(CAST(fraud_score AS DOUBLE) * 1000000.0) AS BIGINT) AS s_micro,
        |    CAST(floor((CAST(fraud_score AS DOUBLE) - label) * (CAST(fraud_score AS DOUBLE) - label)
        |      * 1000000000.0) AS BIGINT) AS sq_nano
        |  FROM scored
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS positives,
        |    CAST(sum(s_micro) AS BIGINT) AS sum_score_micro,
        |    CAST(sum(sq_nano) AS BIGINT) AS brier_sum_nano
        |  FROM b GROUP BY 1
        |)
        |SELECT bin, n, positives, sum_score_micro, brier_sum_nano,
        |  CAST(bin AS DOUBLE) / 10 AS bin_lo,
        |  CAST(positives AS DOUBLE) / n AS pos_rate,
        |  CAST(sum_score_micro AS DOUBLE) / 1000000.0 / n AS mean_pred,
        |  CAST(sum_score_micro AS DOUBLE) / 1000000.0 / n
        |    - CAST(positives AS DOUBLE) / n AS calib_gap
        |FROM g ORDER BY bin""".stripMargin)),

    // Operating-point sweep: precision/recall/F1 at every occupied grid
    // threshold — suffix sums over the ≤20-row bin frame, no per-threshold
    // rescan (ml/Evaluation.scala).
    // Murphy Brier decomposition on the calibration bins: REL − RES +
    // UNC via bin-sorted left folds (aggregate HOF ↔ list_reduce),
    // scalar accumulators only (ml/Evaluation.brierDecomposition).
    QueryDef("q_brier_decomposition",
      (s, d) => Evaluation.brierDecomposition(literalScored(s, d),
          "fraud_score", "label"),
      Some(ScoredCte +
        """
        |, b AS (
        |  SELECT least(CAST(floor(CAST(fraud_score AS DOUBLE) * 10) AS BIGINT), 9) AS bin,
        |    label,
        |    CAST(floor(CAST(fraud_score AS DOUBLE) * 1000000.0) AS BIGINT) AS s_micro
        |  FROM scored
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS nb, CAST(sum(label) AS BIGINT) AS pos,
        |    CAST(sum(s_micro) AS BIGINT) AS sm
        |  FROM b GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(nb) AS BIGINT) AS n_total, CAST(sum(pos) AS BIGINT) AS pos_total
        |  FROM g
        |), terms AS (
        |  SELECT g.bin, t.n_total, t.pos_total,
        |    CAST(g.nb AS DOUBLE)
        |      * ((CAST(g.sm AS DOUBLE) / (CAST(g.nb AS DOUBLE) * CAST(1000000.0 AS DOUBLE)))
        |         - (CAST(g.pos AS DOUBLE) / CAST(g.nb AS DOUBLE)))
        |      * ((CAST(g.sm AS DOUBLE) / (CAST(g.nb AS DOUBLE) * CAST(1000000.0 AS DOUBLE)))
        |         - (CAST(g.pos AS DOUBLE) / CAST(g.nb AS DOUBLE))) AS rel_term,
        |    CAST(g.nb AS DOUBLE)
        |      * ((CAST(g.pos AS DOUBLE) / CAST(g.nb AS DOUBLE))
        |         - CAST(t.pos_total AS DOUBLE) / CAST(t.n_total AS DOUBLE))
        |      * ((CAST(g.pos AS DOUBLE) / CAST(g.nb AS DOUBLE))
        |         - CAST(t.pos_total AS DOUBLE) / CAST(t.n_total AS DOUBLE)) AS res_term
        |  FROM g CROSS JOIN tot t
        |), one AS (
        |  SELECT max(n_total) AS n_total, max(pos_total) AS pos_total,
        |    list(rel_term ORDER BY bin) AS rts, list(res_term ORDER BY bin) AS sts
        |  FROM terms
        |), parts AS (
        |  SELECT n_total, pos_total,
        |    CAST(pos_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS base_rate,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), rts), (a, x) -> a + x)
        |      / CAST(n_total AS DOUBLE) AS reliability,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), sts), (a, x) -> a + x)
        |      / CAST(n_total AS DOUBLE) AS resolution
        |  FROM one
        |), unc AS (
        |  SELECT *, base_rate * (1.0 - base_rate) AS uncertainty FROM parts
        |)
        |SELECT n_total, pos_total, base_rate, reliability, resolution, uncertainty,
        |  reliability - resolution + uncertainty AS brier_binned
        |FROM unc""".stripMargin)),

    // Decile gains/lift table: ScalableRank arithmetic ntile cut, exact
    // BIGINT counts, single-IEEE-chain capture/lift — the "review the
    // top decile, catch X% at Y× random" fraud-ops view
    // (ml/Evaluation.gainsTable).
    QueryDef("q_gains_table",
      (s, d) => Evaluation.gainsTable(literalScored(s, d),
          "fraud_score", "label", "o_orderkey"),
      Some(ScoredCte +
        """
        |, tiled AS (
        |  SELECT label,
        |    ntile(10) OVER (ORDER BY fraud_score DESC, o_orderkey ASC) AS decile
        |  FROM scored
        |), pt AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(label) AS BIGINT) AS pos
        |  FROM tiled GROUP BY 1
        |), c AS (
        |  SELECT *, CAST(sum(n) OVER () AS BIGINT) AS n_total,
        |    CAST(sum(pos) OVER () AS BIGINT) AS pos_total,
        |    CAST(sum(n) OVER wc AS BIGINT) AS cum_n,
        |    CAST(sum(pos) OVER wc AS BIGINT) AS cum_pos
        |  FROM pt WINDOW wc AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT CAST(decile AS BIGINT) AS decile, n, pos, cum_n, cum_pos,
        |  CAST(cum_pos AS DOUBLE) / CAST(pos_total AS DOUBLE) AS capture_rate,
        |  CAST(pos AS DOUBLE) * CAST(n_total AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(pos_total AS DOUBLE)) AS lift,
        |  CAST(cum_pos AS DOUBLE) * CAST(n_total AS DOUBLE)
        |    / (CAST(cum_n AS DOUBLE) * CAST(pos_total AS DOUBLE)) AS cum_lift
        |FROM c ORDER BY decile""".stripMargin)),

    QueryDef("q_threshold_sweep",
      (s, d) => Evaluation.thresholdSweep(literalScored(s, d), "fraud_score",
        "label", steps = 20),
      Some(ScoredCte +
        """
        |, b AS (
        |  SELECT least(CAST(floor(CAST(fraud_score AS DOUBLE) * 20) AS BIGINT), 19) AS bin, label
        |  FROM scored
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos
        |  FROM b GROUP BY 1
        |), c AS (
        |  SELECT bin,
        |    CAST(sum(pos) OVER () AS BIGINT) AS total_pos,
        |    CAST(sum(n) OVER () AS BIGINT) AS total,
        |    CAST(sum(pos) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS predicted_pos
        |  FROM g
        |), f AS (
        |  SELECT bin AS threshold_step, CAST(bin AS DOUBLE) / 20 AS threshold,
        |    tp, predicted_pos - tp AS fp, total_pos - tp AS fn,
        |    total - predicted_pos - total_pos + tp AS tn,
        |    CAST(tp AS DOUBLE) / predicted_pos AS "precision",
        |    CAST(tp AS DOUBLE) / total_pos AS recall
        |  FROM c
        |)
        |SELECT threshold_step, threshold, tp, fp, fn, tn, "precision", recall,
        |  CASE WHEN "precision" + recall > 0.0
        |       THEN 2.0 * "precision" * recall / ("precision" + recall)
        |       ELSE 0.0 END AS f1
        |FROM f ORDER BY threshold_step""".stripMargin)),

    // Brute cosine top-k over the int8-dequantized corpus — the 4×-fewer-
    // bytes search path, hash-exact because reconstruction is IEEE float
    // rounding, not a trained codebook (sim/Quantize.scala).
    QueryDef("q_knn_int8",
      (s, d) => graft.sim.Quantize.knnInt8(Tables.embeddings(s, d))
        .orderBy("query_id", "rank"),
      Some(graft.sim.Quantize.dequantCteSql +
        s"""
        |, q AS (
        |  SELECT vec_id AS query_id, dq AS qv FROM dqt WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id, e.label,
        |    ${cosSql("q.qv", "e.dq")} AS cos_sim
        |  FROM dqt e JOIN q ON e.vec_id != q.query_id
        |), ranked AS (
        |  SELECT query_id, vec_id, label, cos_sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, vec_id, label, cos_sim FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // PSI + chi-square + binned-KS drift between the first and second
    // halves of the order history, binned by amount tier (gold/Drift.scala).
    QueryDef("q_psi_drift",
      (s, d) => Drift.binnedDrift(
        Cleaning.cleanOrders(Tables.orders(s, d)),
        col("amount_tier"), Drift.tierOrd(col("amount_tier")),
        col("order_date") < lit("1998-01-01").cast("date"), bins = 5),
      Some(CleanOrdersCte +
        """
        |, cnt AS (
        |  SELECT amount_tier AS bin,
        |    CAST(CASE amount_tier WHEN 'micro' THEN 0 WHEN 'low' THEN 1
        |         WHEN 'medium' THEN 2 WHEN 'high' THEN 3 ELSE 4 END AS BIGINT) AS bin_ord,
        |    CAST(sum(CASE WHEN order_date < DATE '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |    CAST(sum(CASE WHEN order_date < DATE '1998-01-01' THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
        |  FROM clean_orders GROUP BY 1, 2
        |), tot AS (
        |  SELECT *,
        |    CAST(sum(cnt_a) OVER () AS BIGINT) AS tot_a,
        |    CAST(sum(cnt_b) OVER () AS BIGINT) AS tot_b,
        |    CAST(sum(cnt_a) OVER (ORDER BY bin_ord) AS BIGINT) AS cum_a,
        |    CAST(sum(cnt_b) OVER (ORDER BY bin_ord) AS BIGINT) AS cum_b
        |  FROM cnt
        |), m AS (
        |  SELECT *,
        |    CAST(cnt_a + 1 AS DOUBLE) / CAST(tot_a + 5 AS DOUBLE) AS p_a,
        |    CAST(cnt_b + 1 AS DOUBLE) / CAST(tot_b + 5 AS DOUBLE) AS p_b,
        |    CAST(cnt_a + cnt_b AS DOUBLE) * CAST(tot_a AS DOUBLE)
        |      / CAST(tot_a + tot_b AS DOUBLE) AS exp_a,
        |    CAST(cnt_a + cnt_b AS DOUBLE) * CAST(tot_b AS DOUBLE)
        |      / CAST(tot_a + tot_b AS DOUBLE) AS exp_b
        |  FROM tot
        |)
        |SELECT bin, bin_ord, cnt_a, cnt_b,
        |  CAST(cnt_a AS DOUBLE) / tot_a AS share_a,
        |  CAST(cnt_b AS DOUBLE) / tot_b AS share_b,
        |  (p_a - p_b) * ln(p_a / p_b) AS psi_term,
        |  (CAST(cnt_a AS DOUBLE) - exp_a) * (CAST(cnt_a AS DOUBLE) - exp_a) / exp_a
        |    + (CAST(cnt_b AS DOUBLE) - exp_b) * (CAST(cnt_b AS DOUBLE) - exp_b) / exp_b AS chi2_term,
        |  abs(CAST(cum_a AS DOUBLE) / tot_a - CAST(cum_b AS DOUBLE) / tot_b) AS ecdf_gap
        |FROM m ORDER BY bin_ord""".stripMargin)),

    // Benford leading-digit screen per return-flag segment; exact digit
    // via the decimal(18,2) cents cast (gold/Forensics.scala).
    QueryDef("q_benford",
      (s, d) => Forensics.benford(
        Cleaning.cleanLineitem(Tables.lineitem(s, d)),
        col("l_returnflag"), col("l_extendedprice")),
      Some(CleanLineitemCte +
        """
        |, dg AS (
        |  SELECT l_returnflag AS segment,
        |    CAST(substr(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM clean_lineitem
        |), g AS (
        |  SELECT segment, digit, CAST(count(*) AS BIGINT) AS observed FROM dg GROUP BY 1, 2
        |), t AS (
        |  SELECT *, CAST(sum(observed) OVER (PARTITION BY segment) AS BIGINT) AS segment_total,
        |    ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS expected_p
        |  FROM g
        |), e AS (
        |  SELECT *, CAST(segment_total AS DOUBLE) * expected_p AS expected_n FROM t
        |)
        |SELECT segment, digit, observed, segment_total,
        |  CAST(observed AS DOUBLE) / segment_total AS observed_p,
        |  expected_p,
        |  (CAST(observed AS DOUBLE) - expected_n) * (CAST(observed AS DOUBLE) - expected_n)
        |    / expected_n AS chi2_term
        |FROM e ORDER BY segment, digit""".stripMargin)),

    // Shared-device fraud-ring pairs with the deterministic occupancy
    // governor (gold/Rings.scala).
    QueryDef("q_shared_device_pairs",
      (s, d) => Rings.sharedDevicePairs(Tables.events(s, d)),
      Some("""WITH b AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS device, user_id
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND json_extract_string(props, '$.k') IS NOT NULL
        |), ok AS (
        |  SELECT day, device FROM b GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 50
        |), adm AS (
        |  SELECT b.* FROM b JOIN ok USING (day, device)
        |)
        |SELECT x.user_id AS user_a, y.user_id AS user_b,
        |  CAST(count(*) AS BIGINT) AS shared_device_days,
        |  CAST(count(DISTINCT x.device) AS BIGINT) AS shared_devices,
        |  min(x.day) AS first_day, max(x.day) AS last_day
        |FROM adm x JOIN adm y USING (day, device)
        |WHERE x.user_id < y.user_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // Adamic–Adar link prediction over the governed user×device-day
    // bipartite graph: rarity-weighted co-occurrence (1/ln occupancy,
    // float32-rounded micro-units summed exactly) + degree-normalized
    // Jaccard — the ranking layer over q_shared_device_pairs' counts.
    QueryDef("q_link_prediction",
      (s, d) => Rings.adamicAdarPairs(Tables.events(s, d))
        .orderBy("user_a", "user_b"),
      Some(Rings.adamicAdarOracleSql())),

    // Multi-touch attribution: 24h-lookback purchase×touch pairing via
    // the RangeJoin day-bin trick, linear/first/last credit
    // (gold/Attribution.scala).
    QueryDef("q_attribution",
      (s, d) => Attribution.multiTouch(Tables.events(s, d)),
      Some(AttributionCredCtes +
        """
        |SELECT purchase_id, user_id, purchase_value, p_ts_us, touch_id, touch_type, t_ts_us,
        |  n_touches, purchase_value / CAST(n_touches AS DOUBLE) AS credit_linear,
        |  touch_id = first_t AS is_first_touch, touch_id = last_t AS is_last_touch
        |FROM cred ORDER BY purchase_id, touch_id""".stripMargin)),

    // Channel-grain attribution rollup: per-row linear credit
    // micro-quantized BEFORE the sum (exact integers, not an
    // order-dependent double sum), first/last revenue on the decimal
    // money contract (Attribution.creditRollup).
    QueryDef("q_attribution_rollup",
      (s, d) => Attribution.creditRollup(Tables.events(s, d)),
      Some(AttributionCredCtes +
        """
        |, r AS (
        |  SELECT touch_type, purchase_id, purchase_value,
        |    CAST(floor((purchase_value / CAST(n_touches AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS credit_micro,
        |    (touch_id = first_t) AS isf, (touch_id = last_t) AS isl
        |  FROM cred
        |)
        |SELECT touch_type, CAST(count(*) AS BIGINT) AS touches,
        |  CAST(count(DISTINCT purchase_id) AS BIGINT) AS purchases_touched,
        |  CAST(sum(credit_micro) AS BIGINT) AS linear_credit_micro,
        |  CAST(sum(credit_micro) AS DOUBLE) / 1000000.0 AS linear_credit,
        |  CAST(sum(CASE WHEN isf THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |  CAST(sum(CASE WHEN isl THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
        |  CAST(sum(CASE WHEN isf THEN CAST(purchase_value AS DECIMAL(18,2)) END) AS DOUBLE) AS first_touch_value,
        |  CAST(sum(CASE WHEN isl THEN CAST(purchase_value AS DECIMAL(18,2)) END) AS DOUBLE) AS last_touch_value
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- r8 graph / resolution / robust-stats pack ----

    // Integer-exact PageRank over the shared-device ring graph
    // (gold/Graph.scala): BIGINT fixed-point mass, integer div per
    // contribution, unrolled to the same 5 iterations in the oracle.
    QueryDef("q_device_pagerank",
      (s, d) => Graph.pageRank(Rings.sharedDevicePairs(Tables.events(s, d))),
      Some(pageRankOracle)),

    // Degree-ordered triangle counting + local clustering coefficient on
    // the same graph; per-node counts are orientation-invariant, which is
    // exactly what the id-ordered oracle enumeration checks.
    QueryDef("q_triangles",
      (s, d) => Graph.triangles(Rings.sharedDevicePairs(Tables.events(s, d))),
      Some(DevicePairsCtes +
        """
        |, tri AS (
        |  SELECT x.user_a AS a, x.user_b AS b, y.user_b AS c
        |  FROM pairs x
        |  JOIN pairs y ON y.user_a = x.user_a AND y.user_b > x.user_b
        |  JOIN pairs z ON z.user_a = x.user_b AND z.user_b = y.user_b
        |), roles AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri
        |), tc AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM roles GROUP BY 1
        |)
        |SELECT d.node AS user_id, d.degree,
        |  COALESCE(t.triangles, 0) AS triangles,
        |  CASE WHEN d.degree < 2 THEN 0.0
        |       ELSE 2.0 * COALESCE(t.triangles, 0) / (d.degree * (d.degree - 1))
        |  END AS clustering
        |FROM deg d LEFT JOIN tc t USING (node)
        |ORDER BY user_id""".stripMargin)),

    // Incrementally-maintained device-pair graph (Rings.pairDeviceStore):
    // base days + delta days build separate mergeable (pair, device)
    // stores; merged + rolled up they are BIT-IDENTICAL to the full
    // recompute (day buckets are self-contained), so the oracle is the
    // same SQL as q_shared_device_pairs.
    QueryDef("q_ring_pairs_incremental",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cut = ev.agg(date_sub(max(to_date(col("ts"))), 7).as("cut"))
        val tagged = ev.crossJoin(broadcast(cut))
        graft.util.CacheRegistry.release(Rings)
        val base = Rings.pairDeviceStore(
          tagged.filter(to_date(col("ts")) <= col("cut")), releaseFirst = false)
        val delta = Rings.pairDeviceStore(
          tagged.filter(to_date(col("ts")) > col("cut")), releaseFirst = false)
        Rings.pairsFromStore(Rings.mergePairStores(base, delta))
      },
      Some("""WITH b AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS device, user_id
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND json_extract_string(props, '$.k') IS NOT NULL
        |), ok AS (
        |  SELECT day, device FROM b GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 50
        |), adm AS (
        |  SELECT b.* FROM b JOIN ok USING (day, device)
        |)
        |SELECT x.user_id AS user_a, y.user_id AS user_b,
        |  CAST(count(*) AS BIGINT) AS shared_device_days,
        |  CAST(count(DISTINCT x.device) AS BIGINT) AS shared_devices,
        |  min(x.day) AS first_day, max(x.day) AS last_day
        |FROM adm x JOIN adm y USING (day, device)
        |WHERE x.user_id < y.user_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // Ring membership via star-contraction connected components over the
    // device-pair graph (Graph.ringClusters); oracle = recursive CTE.
    QueryDef("q_ring_clusters",
      (s, d) => Graph.ringClusters(Rings.sharedDevicePairs(Tables.events(s, d))),
      Some("WITH RECURSIVE " + DevicePairsCtes.stripPrefix("WITH ") +
        """
        |, edges2 AS (
        |  SELECT user_a AS a, user_b AS b FROM pairs
        |  UNION ALL SELECT user_b, user_a FROM pairs
        |), walk(node, reach) AS (
        |  SELECT a, a FROM edges2
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges2 e ON w.reach = e.a
        |), lab AS (
        |  SELECT node AS user_id, min(reach) AS ring_id FROM walk GROUP BY 1
        |), sz AS (
        |  SELECT ring_id, CAST(count(*) AS BIGINT) AS ring_size FROM lab GROUP BY 1
        |)
        |SELECT l.user_id, l.ring_id, sz.ring_size,
        |  l.user_id = l.ring_id AS is_canonical
        |FROM lab l JOIN sz USING (ring_id)
        |ORDER BY l.user_id""".stripMargin)),

    // Blocked fuzzy entity resolution (operators/EntityResolution.scala):
    // (nation × segment) blocks behind an occupancy governor, Levenshtein
    // + balance-band verify.
    QueryDef("q_entity_match",
      (s, d) => operators.EntityResolution.matchCustomers(Tables.customer(s, d)),
      Some("""WITH c AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal FROM customer
        |), ok AS (
        |  SELECT c_nationkey, c_mktsegment FROM c
        |  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 500
        |), adm AS (
        |  SELECT c.* FROM c JOIN ok USING (c_nationkey, c_mktsegment)
        |)
        |SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
        |  a.c_nationkey, a.c_mktsegment,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist,
        |  abs(a.c_acctbal - b.c_acctbal) AS bal_diff
        |FROM adm a JOIN adm b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |WHERE a.c_custkey < b.c_custkey
        |  AND levenshtein(a.c_name, b.c_name) <= 2
        |  AND abs(a.c_acctbal - b.c_acctbal) <= 100.0
        |ORDER BY cust_a, cust_b""".stripMargin)),

    // DSIR hashed-ngram importance weights (text/Dsir.scala): target =
    // the corpus' en slice, raw = full corpus, 1024 md5 buckets,
    // micro-nat-quantized log-ratio summed as exact BIGINTs.
    QueryDef("q_dsir_weights",
      (s, d) => text.Dsir.importanceWeights(
        Tables.documents(s, d), col("lang") === "en"),
      Some(s"""WITH tok AS (
        |  SELECT doc_id, lang, (lang = 'en') AS is_target,
        |    unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), tok2 AS (
        |  SELECT doc_id, lang, is_target, token,
        |    CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % 1024 AS bucket
        |  FROM tok WHERE token <> ''
        |), raw AS (
        |  SELECT bucket, count(*) AS cr FROM tok2 GROUP BY 1
        |), tgt AS (
        |  SELECT bucket, count(*) AS ct FROM tok2 WHERE is_target GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT sum(cr) FROM raw) AS tr, (SELECT sum(ct) FROM tgt) AS tt
        |), w AS (
        |  SELECT r.bucket,
        |    CAST(floor(CAST(CAST(ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE)) AS FLOAT) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
        |    - CAST(floor(CAST(CAST(ln(CAST(r.cr + 1 AS DOUBLE) / CAST(tr + 1024 AS DOUBLE)) AS FLOAT) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS w_micro
        |  FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tot
        |), agg AS (
        |  SELECT doc_id, lang, count(*) AS n_tokens, sum(w_micro) AS sum_w_micro
        |  FROM tok2 JOIN w USING (bucket) GROUP BY 1, 2
        |)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(sum_w_micro AS BIGINT) AS sum_w_micro,
        |  CAST(sum_w_micro AS DOUBLE) / CAST(1000000.0 AS DOUBLE) / n_tokens AS dsir_weight
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // Median/MAD robust outliers (operators/Robust.scala) on event values
    // per type — the heavy-tail-safe twin of q_amount_outliers' z-score.
    QueryDef("q_mad_outliers",
      (s, d) => operators.Robust.madOutliers(
          Tables.events(s, d).select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), "value", k = 3.0)
        .select("event_id", "event_type", "value", "med", "mad", "abs_dev")
        .orderBy("event_id"),
      Some("""WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
        |), dev AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |    abs(e.value - m.med) AS abs_dev
        |  FROM events e JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad FROM dev GROUP BY 1
        |)
        |SELECT d.event_id, d.event_type, d.value, d.med, m.mad, d.abs_dev
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE d.abs_dev > 3.0 * 1.4826 * m.mad
        |ORDER BY d.event_id""".stripMargin)),

    // First-order Markov transition matrix over per-user event sequences
    // (gold/Markov.scala): counts exact, probability one IEEE division,
    // surprisal micro-nat-quantized.
    QueryDef("q_event_transitions",
      (s, d) => Markov.transitions(Tables.events(s, d)),
      Some(EventsUsCte +
        """
        |, seqd AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
        |  FROM ev
        |), cells AS (
        |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM seqd WHERE prev_type IS NOT NULL GROUP BY 1, 2
        |), rt AS (
        |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS row_total
        |  FROM cells
        |)
        |SELECT prev_type, event_type, cnt, row_total,
        |  CAST(cnt AS DOUBLE) / CAST(row_total AS DOUBLE) AS prob,
        |  CAST(floor(CAST(CAST(-ln(CAST(cnt AS DOUBLE) / CAST(row_total AS DOUBLE)) AS FLOAT) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS surprisal_micro
        |FROM rt ORDER BY prev_type, event_type""".stripMargin)),

    // Seasonal (dow × hour) baseline anomaly screen (gold/Seasonal.scala):
    // hourly decimal totals vs the calendar-grain baseline.
    QueryDef("q_seasonal_anomaly",
      (s, d) => Seasonal.hourlyAnomalies(Tables.events(s, d)),
      Some("""WITH hourly AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS BIGINT) AS hr,
        |    sum(CAST(value AS DECIMAL(18,2))) AS dec_total
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |), base AS (
        |  SELECT dayofweek(day) + 1 AS dow, hr, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(dec_total) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS baseline
        |  FROM hourly GROUP BY 1, 2
        |)
        |SELECT h.day, h.hr, CAST(b.dow AS BIGINT) AS dow, b.n_days,
        |  CAST(h.dec_total AS DOUBLE) AS actual, b.baseline,
        |  CAST(h.dec_total AS DOUBLE) / b.baseline AS ratio,
        |  (CAST(h.dec_total AS DOUBLE) / b.baseline < 0.5
        |    OR CAST(h.dec_total AS DOUBLE) / b.baseline > 2.0) AS is_anomalous
        |FROM hourly h JOIN base b ON dayofweek(h.day) + 1 = b.dow AND h.hr = b.hr
        |ORDER BY h.day, h.hr""".stripMargin)),

    // Efraimidis–Spirakis deterministic weighted sampling
    // (Sampling.sampleWeighted): top-20 per language, inclusion odds
    // proportional to n_chars, md5-derived uniforms.
    QueryDef("q_sample_weighted",
      (s, d) => operators.Sampling.sampleWeighted(
          Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          col("lang"), col("doc_id"), col("n_chars"), 20)
        .orderBy("lang", "sample_rank"),
      Some("""WITH keyed AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(floor(CAST(CAST(ln((CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + CAST(1.0 AS DOUBLE)) / CAST(1152921504606846976.0 AS DOUBLE)) AS FLOAT) AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS lnum
        |  FROM documents
        |), ranked AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(lnum AS DOUBLE) / CAST(n_chars AS DOUBLE) AS es_key,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(lnum AS DOUBLE) / CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS BIGINT) AS sample_rank
        |  FROM keyed
        |)
        |SELECT doc_id, lang, n_chars, es_key, sample_rank
        |FROM ranked WHERE sample_rank <= 20
        |ORDER BY lang, sample_rank""".stripMargin)),

    // PMI collocations (text/Colloc.scala): top-50 adjacent-pair
    // collocations by integer-assembled micro-nat PMI.
    QueryDef("q_pmi_collocations",
      (s, d) => text.Colloc.pmiCollocations(Tables.documents(s, d)),
      Some(text.Colloc.oracleSql())),

    // Skip-gram / GloVe co-occurrence extraction: row-local windowed pair
    // generation (token array zipped with its d-shifted self), symmetric
    // orientation, micro-quantized 1/d weights summed as exact integers —
    // the (center, context, X_ij) table embedding training consumes.
    QueryDef("q_skipgram_pairs",
      (s, d) => text.Colloc.skipgramPairs(Tables.documents(s, d))
        .orderBy("center", "context"),
      Some(text.Colloc.skipgramOracleSql())),

    // RAKE keyword extraction: stopword-delimited candidate phrases,
    // word score = degree/freq (one IEEE division of exact BIGINTs),
    // phrase score = exact integer micro-score sum.
    QueryDef("q_rake_words",
      (s, d) => text.Keywords.rakeWordScores(Tables.documents(s, d))
        .orderBy("word"),
      Some(text.Keywords.wordOracleSql)),

    QueryDef("q_rake_phrases",
      (s, d) => text.Keywords.rakePhrases(Tables.documents(s, d))
        .orderBy("phrase"),
      Some(text.Keywords.phraseOracleSql)),

    // TextRank: integer-exact PageRank over the content-word adjacency
    // graph — an iterative graph query on text, hash-exact vs the
    // recursive DuckDB oracle (the device-PageRank arithmetic).
    QueryDef("q_textrank",
      (s, d) => text.Keywords.textrank(Tables.documents(s, d))
        .orderBy("token"),
      Some(text.Keywords.textrankOracleSql())),

    // Session path mining (Markov.sessionPaths): top-20 complete
    // event-type journeys per 30-min gap session.
    QueryDef("q_session_paths",
      (s, d) => Markov.sessionPaths(Tables.events(s, d)),
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
        |), sp AS (
        |  SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS path_len,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM sx GROUP BY 1, 2
        |)
        |SELECT path, path_len, CAST(count(*) AS BIGINT) AS sessions
        |FROM sp GROUP BY 1, 2
        |ORDER BY sessions DESC, path LIMIT 20""".stripMargin)),

    // Frequent contiguous session trigrams (Markov.sessionTrigrams):
    // PrefixSpan-style support for length-3 windows — row-local trigram
    // generation from bounded per-session arrays, pattern-grain
    // partial-agg counts, 1-row total broadcast. 24h gap (daily journey
    // windows): the synthetic stream is too sparse for 3-event 30-min
    // sessions, and the wider window is the realistic grain for
    // cross-visit patterns anyway.
    QueryDef("q_seq_patterns",
      (s, d) => Markov.sessionTrigrams(Tables.events(s, d),
          gapUs = 86400000000L)
        .orderBy("pattern"),
      Some(EventsUsCte +
        """
        |, b AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 86400000000
        |                 THEN 1 ELSE 0 END AS is_boundary
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sx AS (
        |  SELECT *, sum(is_boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM b
        |), tg AS (
        |  SELECT user_id, session_idx, event_type AS t1,
        |    lead(event_type, 1) OVER w2 AS t2,
        |    lead(event_type, 2) OVER w2 AS t3
        |  FROM sx WINDOW w2 AS (PARTITION BY user_id, session_idx ORDER BY ts_us, event_id)
        |), tri AS (
        |  SELECT user_id, session_idx, t1 || '>' || t2 || '>' || t3 AS pattern
        |  FROM tg WHERE t3 IS NOT NULL
        |), occ AS (
        |  SELECT pattern, CAST(count(*) AS BIGINT) AS occurrences FROM tri GROUP BY 1
        |), sc AS (
        |  SELECT pattern, CAST(count(*) AS BIGINT) AS sessions
        |  FROM (SELECT DISTINCT user_id, session_idx, pattern FROM tri)
        |  GROUP BY 1 HAVING count(*) >= 2
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total_sessions
        |  FROM (SELECT user_id, session_idx FROM sx GROUP BY 1, 2 HAVING count(*) >= 3)
        |)
        |SELECT o.pattern, o.occurrences, s.sessions, tot.total_sessions,
        |  CAST(s.sessions AS DOUBLE) / CAST(tot.total_sessions AS DOUBLE) AS support
        |FROM occ o JOIN sc s USING (pattern) CROSS JOIN tot
        |ORDER BY o.pattern""".stripMargin)),

    // Hill tail-index estimator on the top-100 order amounts: exact
    // integer micro-nat sums after per-value float32 ln rounding, alpha
    // in one IEEE chain, two-phase top-k cut — the heavy-tail screen
    // next to Benford (Forensics.hillTailIndex).
    QueryDef("q_tail_index",
      (s, d) => Forensics.hillTailIndex(Tables.orders(s, d),
          col("o_totalprice"), col("o_orderkey")),
      Some(Forensics.hillOracleSql())),

    // Behavioral-entropy screen (Forensics.userEntropy): per-user
    // Shannon entropy of the event-type mix from float32-rounded
    // micro-nat terms summed exactly — the WHAT-variety twin of
    // q_bot_timing's WHEN-regularity cv².
    QueryDef("q_user_entropy",
      (s, d) => Forensics.userEntropy(Tables.events(s, d))
        .orderBy("user_id"),
      Some(Forensics.userEntropyOracleSql())),

    // Bot-timing screen (Forensics.botTiming): inter-event-gap cv² per
    // user from exact integer second-grain moments.
    QueryDef("q_bot_timing",
      (s, d) => Forensics.botTiming(Tables.events(s, d)),
      Some(EventsUsCte +
        """
        |, g AS (
        |  SELECT user_id,
        |    ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
        |  FROM ev
        |), g2 AS (
        |  SELECT user_id, gap_us // 1000000 AS gap_s FROM g WHERE gap_us IS NOT NULL
        |), agg AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    sum(CAST(gap_s AS DECIMAL(38,0))) AS sum_g,
        |    sum(CAST(gap_s * gap_s AS DECIMAL(38,0))) AS sum_g2
        |  FROM g2 GROUP BY 1
        |), st AS (
        |  SELECT user_id, n_gaps,
        |    CAST(CAST(sum_g AS VARCHAR) AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
        |    CAST(CAST(sum_g2 AS VARCHAR) AS DOUBLE) / CAST(n_gaps AS DOUBLE)
        |      - (CAST(CAST(sum_g AS VARCHAR) AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |      * (CAST(CAST(sum_g AS VARCHAR) AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS var_gap
        |  FROM agg
        |), cv AS (
        |  SELECT user_id, n_gaps, mean_gap_s,
        |    CASE WHEN mean_gap_s > 0 THEN var_gap / (mean_gap_s * mean_gap_s) END AS cv2
        |  FROM st
        |)
        |SELECT user_id, n_gaps, mean_gap_s, cv2,
        |  (n_gaps >= 20 AND cv2 IS NOT NULL AND cv2 < 0.1) AS is_bot_timing
        |FROM cv ORDER BY user_id""".stripMargin)),

    // RFM segmentation (gold/Rfm.scala): quintile-threshold scores from
    // one fused percentile aggregate, label when-chain.
    QueryDef("q_rfm_segments",
      (s, d) => gold.Rfm.segments(Tables.orders(s, d)),
      Some(gold.Rfm.oracleSql)),

    // Per-type OLS daily revenue trend (Seasonal.dailyTrend): exact
    // integer-cents moment sums, one-day-ahead forecast.
    // Trimmed + winsorized means per order priority: the robust location
    // estimates between mean and median; k = floor(n*frac) each tail by
    // rank under a total order, grouped-prefix-sum ranks, exact integer
    // clipping arithmetic.
    // Exact per-brand weighted median price (weight = quantity): the
    // crossing row of a ScalableRank distributed grouped prefix sum —
    // pure integer comparisons, untouched input double out, no
    // corpus-spanning Window.partitionBy (operators/Robust.scala).
    QueryDef("q_weighted_median",
      (s, d) => operators.Robust.weightedMedian(
          Tables.lineitem(s, d).join(
            broadcast(Tables.part(s, d)
              .select(col("p_partkey").as("l_partkey"), col("p_brand").as("brand"))),
            Seq("l_partkey")),
          "brand", "l_extendedprice", "l_quantity",
          Seq("l_orderkey", "l_linenumber"))
        .orderBy("brand"),
      Some(operators.Robust.weightedMedianOracleSql)),

    QueryDef("q_trimmed_stats",
      (s, d) => operators.Robust.trimmedStats(Tables.orders(s, d),
          "o_orderpriority", col("o_totalprice"), col("o_orderkey"))
        .orderBy("o_orderpriority"),
      Some(operators.Robust.trimmedStatsOracleSql(
        "orders", "o_orderpriority", "o_totalprice", "o_orderkey"))),

    // Kaplan-Meier repeat-purchase survival per segment: censoring-aware
    // retention (single-order customers censor at the horizon instead of
    // biasing the curve). Risk sets are prefix integer folds, the curve
    // a left-to-right IEEE double product — row-local over
    // duration-bounded arrays, hash-exact vs DuckDB list_reduce.
    QueryDef("q_kaplan_meier",
      (s, d) => gold.Survival.kaplanMeier(Tables.orders(s, d), Tables.customer(s, d)),
      Some(gold.Survival.oracleSql)),

    // Two-arm log-rank test on the same durations: observed vs expected
    // arm-A events at each pooled event time, hypergeometric variance —
    // per-time terms are exact micro integers via DECIMAL floor division
    // (no IEEE divide), z/chi2/p one final mirrored chain with the shared
    // A&S normal-CDF polynomial. "Do the arms' survival curves differ?"
    QueryDef("q_logrank",
      (s, d) => gold.Survival.logRank(Tables.orders(s, d)),
      Some(gold.Survival.logRankOracleSql)),

    // Nelson-Aalen cumulative hazard per segment: the additive dual of
    // the KM product — per-step d/n micro-quantized by integer floor
    // division BEFORE the packed prefix sum, so the running hazard and
    // its variance are exact integer cumsums (harmonic bound keeps both
    // lanes far under the 2^31 packing boundary at any corpus size).
    QueryDef("q_nelson_aalen",
      (s, d) => gold.Survival.nelsonAalen(Tables.orders(s, d),
        Tables.customer(s, d)),
      Some(gold.Survival.nelsonAalenOracleSql)),

    // Revenue concentration per region: rank-formula Gini + HHI +
    // top-decile share over exact integer cents; customer ranks ride the
    // grouped prefix-sum primitive, never a per-region window.
    QueryDef("q_concentration",
      (s, d) => gold.Concentration.revenueConcentration(
          Tables.orders(s, d), Tables.customer(s, d),
          Tables.nation(s, d), Tables.region(s, d))
        .orderBy("region"),
      Some(gold.Concentration.oracleSql)),

    // CUSUM change-point screen (Page 1954) per event type: sustained
    // mean shifts that per-day z thresholds miss. Day-grain collapse;
    // the recursive folds are row-local HOFs over calendar-bounded
    // arrays — no iterative jobs, identical left folds in both engines.
    QueryDef("q_cusum",
      (s, d) => Seasonal.cusum(Tables.events(s, d)),
      Some(Seasonal.cusumOracleSql())),

    // Rolling 7-day GMV-vs-error correlation: the "are failures tracking
    // revenue or breaking away" ops KPI. Day-grain collapse, then a
    // calendar-bounded trailing RANGE window of exact decimal moments.
    QueryDef("q_rolling_corr",
      (s, d) => Seasonal.rollingCorr(Tables.events(s, d)),
      Some(Seasonal.rollingCorrOracleSql())),

    // Theil–Sen robust trend (median of pairwise slopes): outlier-immune
    // twin of the OLS trend. Pair join at DAY grain — bounded by the
    // calendar, not the corpus; medians rank-selected explicitly and
    // averaged as order-safe two-term sums.
    QueryDef("q_theilsen_trend",
      (s, d) => Seasonal.dailyTrendRobust(Tables.events(s, d)),
      Some(Seasonal.robustTrendOracleSql)),

    // Mann–Kendall nonparametric trend test: sign-only monotone-trend
    // detection with tie-corrected variance and continuity-corrected z —
    // the "is there a trend at all" gate in front of the OLS/Theil–Sen
    // slope estimates. Exact integer S and variance numerator from the
    // calendar-bounded pair join.
    QueryDef("q_mann_kendall",
      (s, d) => Seasonal.mannKendall(Tables.events(s, d)),
      Some(Seasonal.mannKendallOracleSql)),

    // Kendall τ-b between daily revenue and daily event volume per type:
    // series-grain rank correlation (the customer-grain Spearman's
    // companion) from exact concordant/discordant/tie counts over the
    // same calendar-bounded pair join.
    QueryDef("q_kendall_tau",
      (s, d) => Seasonal.kendallTau(Tables.events(s, d)),
      Some(Seasonal.kendallTauOracleSql)),

    QueryDef("q_revenue_trend",
      (s, d) => Seasonal.dailyTrend(Tables.events(s, d)),
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_cents
        |  FROM events GROUP BY 1, 2
        |), dx AS (
        |  SELECT event_type, y_cents,
        |    CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS x
        |  FROM daily
        |), agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    max(x) AS max_x, CAST(sum(x) AS BIGINT) AS sum_x,
        |    CAST(sum(x * x) AS BIGINT) AS sum_x2,
        |    sum(CAST(y_cents AS DECIMAL(38,0))) AS sum_y_dec,
        |    sum(CAST(x * y_cents AS DECIMAL(38,0))) AS sum_xy_dec
        |  FROM dx GROUP BY 1
        |), st AS (
        |  SELECT event_type, n_days, max_x, sum_x, sum_x2,
        |    CAST(CAST(sum_y_dec AS VARCHAR) AS DOUBLE) AS sum_y,
        |    CAST(CAST(sum_xy_dec AS VARCHAR) AS DOUBLE) AS sum_xy
        |  FROM agg
        |), sl AS (
        |  SELECT *,
        |    (n_days * sum_xy - sum_x * sum_y)
        |      / CAST(n_days * sum_x2 - sum_x * sum_x AS DOUBLE) AS slope_cents
        |  FROM st
        |)
        |SELECT event_type, n_days, slope_cents,
        |  (sum_y - slope_cents * sum_x) / CAST(n_days AS DOUBLE) AS intercept_cents,
        |  ((sum_y - slope_cents * sum_x) / CAST(n_days AS DOUBLE)
        |    + slope_cents * CAST(max_x + 1 AS DOUBLE)) / 100.0 AS forecast_next
        |FROM sl ORDER BY event_type""".stripMargin)),

    // Market-basket association rules (Apriori size-2): row-local pair
    // generation from bounded sorted basket arrays behind an occupancy
    // governor, pair/item-grain partial-agg shuffles, 1-row N broadcast,
    // single-IEEE-chain support/confidence/lift (gold/Basket.scala).
    QueryDef("q_basket_rules",
      (s, d) => gold.Basket.associationRules(
          Tables.lineitem(s, d), Tables.part(s, d))
        .orderBy("antecedent", "consequent"),
      Some(gold.Basket.associationRulesOracleSql())),

    // Exact Shapley-value attribution over the 4-channel coalition
    // lattice: journey masks by (user, day)-binned equi-join, v(S) and
    // marginals as exact BIGINT sums on the 16-row lattice, factorial
    // weights kept integer (k! divided out in the final IEEE chain only).
    // Σ phi_scaled_micro = k!·v(U) — the Shapley efficiency identity —
    // holds bit-for-bit (BehaviorSpec).
    QueryDef("q_shapley_attribution",
      (s, d) => Attribution.shapley(Tables.events(s, d)),
      Some(EventsUsCte +
        """
        |, p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS value_micro,
        |    ts_us AS p_ts_us
        |  FROM ev WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id,
        |    CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |         WHEN 'signup' THEN 2 ELSE 3 END AS idx,
        |    ts_us AS t_ts_us
        |  FROM ev WHERE event_type IN ('click', 'view', 'signup', 'error')
        |), j AS (
        |  SELECT p.purchase_id, max(p.value_micro) AS value_micro,
        |    CAST(bit_or(1 << t.idx) AS INT) AS mask
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.t_ts_us >= p.p_ts_us - 86400000000 AND t.t_ts_us < p.p_ts_us
        |  GROUP BY p.purchase_id
        |), m AS (
        |  SELECT mask, CAST(sum(value_micro) AS BIGINT) AS v_micro,
        |    CAST(count(*) AS BIGINT) AS n_journeys
        |  FROM j GROUP BY mask
        |), s AS (SELECT CAST(i AS INT) AS cs FROM range(16) t(i)
        |), vs AS (
        |  SELECT cs, CAST(COALESCE(sum(m.v_micro), 0) AS BIGINT) AS v
        |  FROM s LEFT JOIN m ON (m.mask & s.cs) = m.mask GROUP BY cs
        |), ch(touch_type, idx) AS (
        |  VALUES ('click', 0), ('view', 1), ('signup', 2), ('error', 3)
        |), marg AS (
        |  SELECT ch.touch_type,
        |    CAST(sum((CASE bit_count(s0.cs) WHEN 0 THEN 6 WHEN 1 THEN 2
        |              WHEN 2 THEN 2 ELSE 6 END) * (s1.v - s0.v)) AS BIGINT)
        |      AS phi_scaled_micro
        |  FROM ch
        |  JOIN vs s0 ON ((s0.cs >> ch.idx) & 1) = 0
        |  JOIN vs s1 ON s1.cs = (s0.cs | (1 << ch.idx))
        |  GROUP BY ch.touch_type
        |), tch AS (
        |  SELECT ch.touch_type,
        |    CAST(COALESCE(sum(m.n_journeys), 0) AS BIGINT) AS journeys_touched
        |  FROM ch LEFT JOIN m ON ((m.mask >> ch.idx) & 1) = 1
        |  GROUP BY ch.touch_type
        |)
        |SELECT marg.touch_type, tch.journeys_touched, marg.phi_scaled_micro,
        |  CAST(marg.phi_scaled_micro AS DOUBLE) / 24.0 / 1000000.0 AS phi_revenue,
        |  CAST(marg.phi_scaled_micro AS DOUBLE)
        |    / CAST(nullif(sum(marg.phi_scaled_micro) OVER (), 0) AS DOUBLE)
        |    AS phi_share
        |FROM marg JOIN tch USING (touch_type) ORDER BY touch_type""".stripMargin)),

    // Cohort LTV curves: acquisition-cohort × month-age revenue, exact
    // decimal cumulative sums, one IEEE division per row for the per-head
    // LTV (gold/Behavior.cohortLtv) — the revenue-weighted completion of
    // q_retention_cohorts.
    QueryDef("q_cohort_ltv",
      (s, d) => gold.Behavior.cohortLtv(
        Tables.orders(s, d).select(col("o_custkey"),
          to_date(col("o_orderdate")).as("order_date"), col("o_totalprice")),
        "o_custkey", "order_date", "o_totalprice"),
      Some("""WITH o AS (
        |  SELECT o_custkey,
        |    date_trunc('month', CAST(o_orderdate AS DATE)) AS activity_month,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders
        |), w AS (
        |  SELECT o_custkey, activity_month, price,
        |    min(activity_month) OVER (PARTITION BY o_custkey) AS cohort_month
        |  FROM o
        |), grain AS (
        |  SELECT cohort_month,
        |    CAST((year(activity_month) * 12 + month(activity_month))
        |       - (year(cohort_month) * 12 + month(cohort_month)) AS BIGINT) AS months_since,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS active_customers,
        |    sum(price) AS rev
        |  FROM w GROUP BY 1, 2
        |), sz AS (
        |  SELECT cohort_month, CAST(count(DISTINCT o_custkey) AS BIGINT) AS cohort_size
        |  FROM w GROUP BY 1
        |), cum AS (
        |  SELECT g.*, sz.cohort_size,
        |    sum(g.rev) OVER (PARTITION BY g.cohort_month ORDER BY g.months_since
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM grain g JOIN sz USING (cohort_month)
        |)
        |SELECT cohort_month, months_since, active_customers, cohort_size,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(cum_rev AS DOUBLE) AS cum_revenue,
        |  CAST(cum_rev AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS cum_ltv_per_customer
        |FROM cum ORDER BY cohort_month, months_since""".stripMargin)),

    // Time-decay attribution: recency-weighted channel credit, weight
    // 2^(−Δt/6h) float32-rounded to micro-units (the one libm call), then
    // per-touch credit = (value_micro·w_micro) div Σw_micro — exact floor
    // division, BIGINT channel totals (Attribution.timeDecay).
    QueryDef("q_time_decay_attribution",
      (s, d) => Attribution.timeDecay(Tables.events(s, d)),
      Some(AttributionCredCtes +
        """
        |, dw AS (
        |  SELECT *,
        |    CAST(floor(purchase_value * 1000000.0) AS BIGINT) AS vm,
        |    greatest(CAST(floor(CAST(CAST(power(2.0, -(CAST(p_ts_us - t_ts_us AS DOUBLE)
        |      / 21600000000.0)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT), 1) AS wm
        |  FROM cred
        |), dc AS (
        |  SELECT *, (vm * wm) // sum(wm) OVER (PARTITION BY purchase_id) AS credit_micro
        |  FROM dw
        |)
        |SELECT touch_type, CAST(count(*) AS BIGINT) AS touches,
        |  CAST(count(DISTINCT purchase_id) AS BIGINT) AS purchases_touched,
        |  CAST(sum(credit_micro) AS BIGINT) AS decay_credit_micro,
        |  CAST(sum(credit_micro) AS DOUBLE) / 1000000.0 AS decay_credit,
        |  CAST(sum(wm) AS BIGINT) AS weight_micro_total
        |FROM dc GROUP BY touch_type ORDER BY touch_type""".stripMargin)),

    // Always-valid sequential A/B monitoring (mSPRT, Johari et al. 2017):
    // daily cumulative two-proportion state on a deterministic md5 user
    // split, mixture log-LR with float32-rounded ln/exp (micro-unit
    // integer p running min) — the peek-safe companion to q_funnel_ab's
    // fixed-horizon z-test (gold/Sequential.scala).
    QueryDef("q_msprt_ab",
      (s, d) => gold.Sequential.msprtDaily(Tables.events(s, d)),
      Some(gold.Sequential.msprtOracleSql())),

    // Markov removal-effect attribution (Anderl et al. 2014), the sixth
    // model: per-(user, day) journey chain, channel credit = conversion-
    // probability drop when its node is removed. q6 edge probs + a fixed
    // 32-step q12 integer power iteration (the device-pagerank playbook)
    // run driver-side over the ≤30-row transition matrix; the oracle
    // unrolls the same iteration as 32 vector CTEs over a 5-variant edge
    // table — exact BIGINTs end to end (gold/RemovalEffect.scala).
    QueryDef("q_removal_effect",
      (s, d) => gold.RemovalEffect.attribution(Tables.events(s, d)),
      Some(gold.RemovalEffect.oracleSql))
  )

  // r8 late batch: supervised categorical encoders (WOE/IV, K-fold OOF
  // target encoding) and hybrid lexical+semantic retrieval fusion.
}
