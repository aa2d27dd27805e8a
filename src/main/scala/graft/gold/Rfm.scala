package graft.gold

import graft.util.CacheRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RFM (recency / frequency / monetary) customer segmentation — the
  * classic gold-layer marketing/risk cut (Hughes 1994): score each
  * customer 1–5 on how recently, how often, and how much they buy,
  * then label the (r, f, m) cell ("champion", "at_risk", …). The
  * reference's user_fraud_scores builds the same per-user 30d
  * aggregate family (spark_jobs/gold/fraud_summary.py); RFM is its
  * marketing-facing twin and feeds the same dashboards.
  *
  * Scoring contract: quintile THRESHOLDS, not exact NTILE — the cut
  * points are the exact 20/40/60/80 rank percentiles (§4
  * percentile↔quantile_cont contract) computed in ONE 1-row aggregate
  * and broadcast back; each customer scores by comparison against
  * them. Unlike NTILE this needs no global ranking exchange at all
  * (scan + 1-row agg + broadcast — strictly cheaper than even
  * ScalableRank's balanced range exchange) and ties score
  * identically instead of splitting arbitrarily across buckets.
  *
  * Exactness: R/F/M base measures are integer days / counts / decimal
  * sums; thresholds are interpolated doubles identical in both
  * engines; comparisons and the label when-chain are deterministic.
  */
object Rfm {

  def segments(orders: DataFrame): DataFrame = {
    // The customer-grain base frame feeds the anchor, the quintile cuts,
    // AND the scored output — persisted so the orders fact table scans
    // exactly once per run (it is the only fact-sized input here).
    CacheRegistry.release(Rfm)
    val base = CacheRegistry.persist(Rfm, orders
      .filter(col("o_custkey").isNotNull && col("o_totalprice") > 0)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        max(col("o_orderdate").cast("date")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("monetary")))
    val anchor = base.agg(max(col("last_order")).as("anchor_date"))
    val rfm = base.crossJoin(broadcast(anchor))
      .withColumn("recency_days", datediff(col("anchor_date"), col("last_order")).cast("long"))
    // One fused 1-row aggregate: all 12 quintile cut points.
    val cuts = rfm.agg(
      expr("percentile(recency_days, 0.2)").as("r20"),
      expr("percentile(recency_days, 0.4)").as("r40"),
      expr("percentile(recency_days, 0.6)").as("r60"),
      expr("percentile(recency_days, 0.8)").as("r80"),
      expr("percentile(frequency, 0.2)").as("f20"),
      expr("percentile(frequency, 0.4)").as("f40"),
      expr("percentile(frequency, 0.6)").as("f60"),
      expr("percentile(frequency, 0.8)").as("f80"),
      expr("percentile(monetary, 0.2)").as("m20"),
      expr("percentile(monetary, 0.4)").as("m40"),
      expr("percentile(monetary, 0.6)").as("m60"),
      expr("percentile(monetary, 0.8)").as("m80"))

    def score(v: String, q20: String, q40: String, q60: String, q80: String,
              reversed: Boolean): org.apache.spark.sql.Column = {
      val c = expr(
        s"CASE WHEN $v <= $q20 THEN 1 WHEN $v <= $q40 THEN 2 WHEN $v <= $q60 THEN 3" +
          s" WHEN $v <= $q80 THEN 4 ELSE 5 END")
      (if (reversed) lit(6) - c else c).cast("long")
    }

    rfm.crossJoin(broadcast(cuts))
      .withColumn("r_score", score("recency_days", "r20", "r40", "r60", "r80", reversed = true))
      .withColumn("f_score", score("frequency", "f20", "f40", "f60", "f80", reversed = false))
      .withColumn("m_score", score("monetary", "m20", "m40", "m60", "m80", reversed = false))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
          .when(col("r_score") >= 4 && col("f_score") >= 3, "loyal")
          .when(col("r_score") >= 4, "recent")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("regular"))
      .select("custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score", "segment")
      .orderBy("custkey")
  }

  /** DuckDB mirror for the correctness oracle. */
  def oracleSql: String = {
    def score(v: String, p: String, reversed: Boolean): String = {
      val c = s"CASE WHEN $v <= ${p}20 THEN 1 WHEN $v <= ${p}40 THEN 2" +
        s" WHEN $v <= ${p}60 THEN 3 WHEN $v <= ${p}80 THEN 4 ELSE 5 END"
      if (reversed) s"CAST(6 - ($c) AS BIGINT)" else s"CAST($c AS BIGINT)"
    }
    s"""WITH base AS (
      |  SELECT o_custkey AS custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM orders WHERE o_custkey IS NOT NULL AND o_totalprice > 0
      |  GROUP BY 1
      |), anch AS (
      |  SELECT max(last_order) AS anchor_date FROM base
      |), rfm AS (
      |  SELECT base.*, CAST(date_diff('day', last_order, anchor_date) AS BIGINT) AS recency_days
      |  FROM base CROSS JOIN anch
      |), cuts AS (
      |  SELECT
      |    quantile_cont(recency_days, 0.2) AS r20, quantile_cont(recency_days, 0.4) AS r40,
      |    quantile_cont(recency_days, 0.6) AS r60, quantile_cont(recency_days, 0.8) AS r80,
      |    quantile_cont(frequency, 0.2) AS f20, quantile_cont(frequency, 0.4) AS f40,
      |    quantile_cont(frequency, 0.6) AS f60, quantile_cont(frequency, 0.8) AS f80,
      |    quantile_cont(monetary, 0.2) AS m20, quantile_cont(monetary, 0.4) AS m40,
      |    quantile_cont(monetary, 0.6) AS m60, quantile_cont(monetary, 0.8) AS m80
      |  FROM rfm
      |), scored AS (
      |  SELECT custkey, recency_days, frequency, monetary,
      |    ${score("recency_days", "r", reversed = true)} AS r_score,
      |    ${score("frequency", "f", reversed = false)} AS f_score,
      |    ${score("monetary", "m", reversed = false)} AS m_score
      |  FROM rfm CROSS JOIN cuts
      |)
      |SELECT *,
      |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |       WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
      |       WHEN r_score >= 4 THEN 'recent'
      |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      |       WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
      |       ELSE 'regular' END AS segment
      |FROM scored ORDER BY custkey""".stripMargin
  }
}
