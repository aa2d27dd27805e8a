package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy / governance audits over the customer dimension — the
  * compliance layer next to [[graft.operators.Masking]]'s
  * pseudonymization (ref spark_jobs/silver/transform_transactions.py
  * masks IPs but never AUDITS re-identification risk; a lakehouse that
  * exports marts needs the audit, not just the mask).
  *
  * Four standard constructions:
  *   - k-anonymity: every quasi-identifier (QI) combination must be
  *     shared by ≥ k rows, else its members are re-identifiable by
  *     linking the QI to an external dataset (Sweeney 2002).
  *   - l-diversity: a k-anonymous group still leaks if everyone in it
  *     shares the sensitive value; require ≥ l distinct sensitive
  *     values per QI group (Machanavajjhala 2007).
  *   - suppression to k: the cheapest lattice repair — QI combos below
  *     k collapse into one residual '*' group, everything else is
  *     published unchanged; the audit reports the suppression rate.
  *   - differentially-private release: Laplace(sensitivity/ε) noise on
  *     each aggregate (Dwork 2006). Noise here is DETERMINISTIC —
  *     derived from md5(group key ‖ release tag) via inverse-CDF — so
  *     the release is reproducible, testable, and oracle-checkable;
  *     a production release would swap the hash source for a CSPRNG
  *     keyed per release (the plan is identical).
  *
  * Scale shape: every audit is one partial-agged exchange at QI grain
  * (group states, not rows, shuffle); the DP release adds only
  * row-local projections after a nation-grain aggregate. Nothing here
  * materializes row-level pairs or collects to the driver.
  */
object Privacy {

  /** Banding used as the coarse QI for account balance (shared with
    * [[graft.operators.Masking]]'s band edges). */
  def acctbalBand(c: Column): Column =
    when(c < 0, lit("negative"))
      .when(c < 1000, lit("low"))
      .when(c < 5000, lit("mid"))
      .otherwise(lit("high"))

  val AcctbalBandSql: String =
    """CASE WHEN c_acctbal < 0 THEN 'negative'
      |     WHEN c_acctbal < 1000 THEN 'low'
      |     WHEN c_acctbal < 5000 THEN 'mid'
      |     ELSE 'high' END""".stripMargin

  /** Per-QI-group k-anonymity audit: group size and the k predicate.
    * One exchange at QI grain. */
  def kAnonymity(customer: DataFrame, k: Int = 10): DataFrame =
    customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        acctbalBand(col("c_acctbal")).as("acctbal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "acctbal_band")
      .agg(count(lit(1)).as("group_size"))
      .withColumn("meets_k", col("group_size") >= k)
      .orderBy("c_nationkey", "c_mktsegment", "acctbal_band")

  /** l-diversity of a sensitive attribute within each QI group, over
    * the fact joined to the dimension: distinct sensitive values and
    * the frequency share of the modal value (1/share is the
    * adversary's posterior odds). Distinct-count and mode are both
    * exact; the fact→dim join broadcasts the dimension. */
  def lDiversity(orders: DataFrame, customer: DataFrame,
                 l: Int = 3): DataFrame = {
    val joined = orders
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    // (QI, sensitive)-grain counts first: the wide exchange carries one
    // row per distinct (QI, priority), never raw orders.
    val cell = joined
      .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
    cell
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(
        count(lit(1)).as("distinct_sensitive"),
        sum(col("n")).as("group_size"),
        max(col("n")).as("modal_count"))
      .withColumn("modal_share",
        col("modal_count").cast("double") / col("group_size"))
      .withColumn("meets_l", col("distinct_sensitive") >= l)
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("group_size"), col("distinct_sensitive"),
        col("modal_count"), col("modal_share"), col("meets_l"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007 — the
    * distribution-level tightening of [[lDiversity]]: a class can be
    * l-diverse yet still leak when its sensitive mix skews far from the
    * table's): per QI class, the Earth-Mover's Distance between the
    * class's sensitive-attribute distribution P and the global Q over
    * the ORDERED sensitive domain, EMD = (1/(m−1))·Σᵢ|Σ_{j≤i}(Pⱼ−Qⱼ)|.
    *
    * Exactness: each cumulative difference forms as the INTEGER
    * numerator CPᵢ·N − CGᵢ·n over the common denominator n·N — products
    * carried as decimal(38,0) (HUGEINT in the oracle) so n·N never
    * overflows at any realistic scale — and the EMD is ONE IEEE chain
    * over the exact |numerator| sum.
    *
    * Scale shape: the corpus collapses to (QI, sensitive)-grain cells
    * first (the lDiversity contract); the full class×domain grid is the
    * class list crossed with an m-row broadcast of the global domain
    * (m = sensitive cardinality, a small constant), so the cumulative
    * window runs over m-row frames — bounded by the domain, never the
    * data. */
  def tCloseness(orders: DataFrame, customer: DataFrame,
                 t: Double = 0.2): DataFrame = {
    val joined = orders
      .join(broadcast(customer.select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
    val cell = joined
      .groupBy("c_nationkey", "c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val global = cell.groupBy("o_orderpriority").agg(sum(col("n")).as("g"))
    val classes = cell.groupBy("c_nationkey", "c_mktsegment")
      .agg(sum(col("n")).as("group_size"))
    val total = global.agg(sum(col("g")).as("n_total"),
      count(lit(1)).as("m_domain"))
    // full grid: every class × every global sensitive value, zero-filled
    val grid = classes
      .crossJoin(broadcast(global))
      .join(cell, Seq("c_nationkey", "c_mktsegment", "o_orderpriority"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("o_orderpriority")
    grid
      .withColumn("cp", sum(col("n")).over(w))
      .withColumn("cg", sum(col("g")).over(w))
      .crossJoin(broadcast(total))
      .withColumn("num", expr(
        "abs(CAST(cp AS DECIMAL(38,0)) * n_total - CAST(cg AS DECIMAL(38,0)) * group_size)"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(
        max(col("group_size")).as("group_size"),
        max(col("n_total")).as("n_total"),
        max(col("m_domain")).as("m_domain"),
        sum(col("num")).as("num_sum"))
      .withColumn("emd",
        col("num_sum").cast("string").cast("double")
          / (col("group_size").cast("double") * col("n_total").cast("double")
            * (col("m_domain") - lit(1L)).cast("double")))
      .withColumn("meets_t", col("emd") <= t)
      .select("c_nationkey", "c_mktsegment", "group_size", "emd", "meets_t")
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** DuckDB mirror of [[tCloseness]]. */
  def tClosenessOracleSql(t: Double = 0.2): String =
    s"""WITH cell AS (
      |  SELECT c_nationkey, c_mktsegment, o_orderpriority,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3
      |), gdist AS (
      |  SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS g FROM cell GROUP BY 1
      |), cls AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS group_size
      |  FROM cell GROUP BY 1, 2
      |), tot AS (
      |  SELECT CAST(sum(g) AS BIGINT) AS n_total,
      |    CAST(count(*) AS BIGINT) AS m_domain FROM gdist
      |), grid AS (
      |  SELECT cls.c_nationkey, cls.c_mktsegment, cls.group_size,
      |    gdist.o_orderpriority, gdist.g, COALESCE(cell.n, 0) AS n
      |  FROM cls CROSS JOIN gdist
      |  LEFT JOIN cell USING (c_nationkey, c_mktsegment, o_orderpriority)
      |), cum AS (
      |  SELECT *,
      |    sum(n) OVER wc AS cp, sum(g) OVER wc AS cg
      |  FROM grid
      |  WINDOW wc AS (PARTITION BY c_nationkey, c_mktsegment
      |                ORDER BY o_orderpriority ROWS UNBOUNDED PRECEDING)
      |), nums AS (
      |  SELECT c_nationkey, c_mktsegment, group_size, n_total, m_domain,
      |    abs(CAST(cp AS HUGEINT) * n_total - CAST(cg AS HUGEINT) * group_size) AS num
      |  FROM cum CROSS JOIN tot
      |), agg AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    max(group_size) AS group_size, max(n_total) AS n_total,
      |    max(m_domain) AS m_domain, sum(num) AS num_sum
      |  FROM nums GROUP BY 1, 2
      |)
      |SELECT c_nationkey, c_mktsegment, group_size,
      |  CAST(CAST(num_sum AS VARCHAR) AS DOUBLE)
      |    / (CAST(group_size AS DOUBLE) * CAST(n_total AS DOUBLE)
      |       * CAST(m_domain - 1 AS DOUBLE)) AS emd,
      |  (CAST(CAST(num_sum AS VARCHAR) AS DOUBLE)
      |    / (CAST(group_size AS DOUBLE) * CAST(n_total AS DOUBLE)
      |       * CAST(m_domain - 1 AS DOUBLE))) <= $t AS meets_t
      |FROM agg ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** Suppression-to-k release: QI combos below k collapse into one
    * residual '*' group (members stay countable, no QI published);
    * combos at/above k are released as-is. Two QI-grain aggregates —
    * sizes, then regroup of the suppressed labels — both on group
    * states. */
  def suppressToK(customer: DataFrame, k: Int = 10): DataFrame = {
    val sized = customer
      .select(col("c_nationkey").cast("string").as("nation_qi"),
        col("c_mktsegment").as("segment_qi"),
        acctbalBand(col("c_acctbal")).as("band_qi"))
      .groupBy("nation_qi", "segment_qi", "band_qi")
      .agg(count(lit(1)).as("n"))
    sized
      .withColumn("suppressed", col("n") < k)
      .withColumn("nation_qi",
        when(col("suppressed"), lit("*")).otherwise(col("nation_qi")))
      .withColumn("segment_qi",
        when(col("suppressed"), lit("*")).otherwise(col("segment_qi")))
      .withColumn("band_qi",
        when(col("suppressed"), lit("*")).otherwise(col("band_qi")))
      .groupBy("nation_qi", "segment_qi", "band_qi", "suppressed")
      .agg(sum(col("n")).as("group_size"),
        count(lit(1)).as("merged_combos"))
      .orderBy("nation_qi", "segment_qi", "band_qi")
  }

  /** Release tag folded into the noise hash: a new release re-draws all
    * noise (the standard "fresh randomness per release" requirement),
    * while one release is bit-reproducible. */
  val ReleaseTag = "graft-dp-release-1"

  /** Laplace inverse-CDF from a hash-derived uniform, deterministic and
    * cross-engine exact:
    *   v    = first 8 md5 hex digits of (key ‖ tag)   — exact integer
    *   u    = (v + 0.5) / 2^32                         — exact: dyadic
    *   |2u−1|, 1−|2u−1|                                — exact (< 2)
    *   ln(·)                                           — float32-collapsed
    *   noise = −b · sign(2u−1) · ln32                  — one IEEE multiply
    * Every step before the ln is exact in ANY IEEE engine (integers and
    * powers of two only); the single libm call is collapsed to float32
    * (the Bm25/UnigramLm pattern), so Spark and DuckDB agree bit-exactly.
    */
  def laplaceNoise(key: Column, scaleB: Double): Column = {
    val v = conv(substring(md5(concat(key.cast("string"),
      lit("|" + ReleaseTag))), 1, 8), 16, 10).cast("double")
    val twoUminus1 = (v * 2.0 + 1.0) / 4294967296.0 - 1.0
    val ln32 = log(lit(1.0) - abs(twoUminus1)).cast("float").cast("double")
    lit(-scaleB) * signum(twoUminus1) * ln32
  }

  /** SQL twin of [[laplaceNoise]] (DuckDB casts '0x…' to BIGINT). */
  def laplaceNoiseSql(keySql: String, scaleB: Double): String =
    s"""(-($scaleB)) * sign((CAST(concat('0x', substr(md5(concat(CAST($keySql AS VARCHAR), '|$ReleaseTag')), 1, 8)) AS BIGINT) * 2.0 + 1.0) / 4294967296.0 - 1.0)
       |  * CAST(CAST(ln(1.0 - abs((CAST(concat('0x', substr(md5(concat(CAST($keySql AS VARCHAR), '|$ReleaseTag')), 1, 8)) AS BIGINT) * 2.0 + 1.0) / 4294967296.0 - 1.0)) AS FLOAT) AS DOUBLE)""".stripMargin

  /** ε-DP *plan-shape demo* — NOT a differentially-private release.
    * Computes the exact decimal revenue sum and count per nation plus
    * Laplace(sensitivity/ε)-shaped noise per statistic. Two deliberate
    * departures from a real DP deployment, made so the output is
    * deterministic and oracle-checkable: (1) the true columns are
    * retained in the output (a real release would drop them — publishing
    * them voids any privacy guarantee); (2) the noise is derived
    * deterministically from the data-dependent group key rather than a
    * CSPRNG, so it carries no DP guarantee either. What this query
    * demonstrates is the *plan*: one broadcast-dim aggregate plus a
    * per-row noise expression, exactly the shape a real ε-DP release
    * would run with the two substitutions above. */
  def dpRevenueByNation(orders: DataFrame, customer: DataFrame,
                        nation: DataFrame,
                        epsilon: Double = 1.0,
                        sensitivity: Double = 600000.0): DataFrame = {
    val b = sensitivity / epsilon
    val base = orders
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(graft.util.Cols.sumMoney(col("o_totalprice")).as("true_revenue"),
        count(lit(1)).as("true_orders"))
    base
      .withColumn("noised_revenue",
        col("true_revenue") + laplaceNoise(concat(col("n_name"), lit("|rev")), b))
      .withColumn("noised_orders",
        col("true_orders") + laplaceNoise(concat(col("n_name"), lit("|cnt")), 1.0 / epsilon))
      .orderBy("n_name")
  }
}
