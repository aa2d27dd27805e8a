package graft.gold

import graft.util.CacheRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules (Agrawal & Srikant 1994, the Apriori
  * size-2 cut): which item pairs co-occur in the same order beyond
  * independence — the cross-sell / fraud-bundle signal over the
  * lakehouse's order-lines fact (ref dbt/models/marts/fact_orders.sql is
  * the order grain; this is its pairwise item completion, the analytics
  * the reference's product-metrics mart stops one step short of).
  *
  * Semantics: baskets are the DISTINCT item set per order; a rule
  * a→b reports pair support count, support fraction, confidence
  * P(b|a) and lift P(a,b)/(P(a)P(b)). Both directions of each
  * unordered pair are emitted (confidence is asymmetric).
  *
  * Scale shape: item-pair generation is ROW-LOCAL — each basket is
  * collected to a bounded sorted array and its C(m,2) pairs are produced
  * by a higher-order transform, never an order-grain self-join. Baskets
  * outside [2, maxBasket] are excluded by an occupancy governor BEFORE
  * any pair exists (the Rings.scala bucket-governor contract: a basket of
  * 10⁴ distinct items is a reseller/bot artifact and would contribute
  * 10⁸ pairs; the cutoff is part of the query contract, mirrored verbatim
  * in the oracle). Marginal counts and N are computed over the same
  * admitted baskets, so support/confidence/lift are self-consistent.
  * Everything downstream is partial-agged shuffles at pair / item grain;
  * the item-marginal joins are item-grain SHUFFLE joins (an item
  * vocabulary is corpus-sized at 100 TB — never broadcast); N is a 1-row
  * broadcast. Ratios form as single IEEE chains over exact BIGINTs
  * (products computed in double space to dodge BIGINT overflow at
  * web-scale N·c_ab), so they bit-match the oracle.
  */
object Basket {

  /** Association rules over order baskets of part brands.
    *
    * @param minPairSupport minimum co-occurrence count for a pair to
    *                       become a rule (the Apriori support cut —
    *                       applied at pair grain, before the marginal
    *                       joins, so infrequent pairs never shuffle twice)
    * @param maxBasket      occupancy governor: baskets with more distinct
    *                       items than this are excluded entirely
    */
  def associationRules(lineitem: DataFrame, part: DataFrame,
                       minPairSupport: Long = 20,
                       maxBasket: Int = 64): DataFrame = {
    // Basket membership at (order, item) grain. part is a dim table —
    // broadcast; the distinct collapses multi-line orders of one brand.
    val items = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey"))
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_brand").as("item"))), Seq("l_partkey"))
      .select("ok", "item").distinct()

    // The basket-grain frame feeds FIVE consumers (pair generation, both
    // marginal joins via itemCounts, N) and the pair frame feeds both rule
    // directions — without persists each re-derives from the fact scan
    // (5 corpus scans at 100 TB).
    CacheRegistry.release(Basket)
    // One shuffle to basket grain; the governor filter sees only the
    // bounded array size, never a pair.
    val baskets = CacheRegistry.persist(Basket, items.groupBy("ok")
      .agg(sort_array(collect_set(col("item"))).as("bs"))
      .filter(size(col("bs")).between(2, maxBasket)))

    val n = baskets.agg(count(lit(1)).as("n"))
    val itemCounts = baskets
      .select(explode(col("bs")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("c"))

    // Row-local C(m,2) pair generation over the sorted basket array:
    // i-th item pairs with every later item (arrays are 1-based in
    // slice, 0-based in the lambda index).
    val pairs = CacheRegistry.persist(Basket, baskets.select(explode(expr(
        "flatten(transform(bs, (x, i) -> " +
          "transform(slice(bs, i + 2, size(bs)), " +
          "y -> named_struct('ia', x, 'ib', y))))")).as("p"))
      .groupBy(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minPairSupport))

    val rules = pairs
      .select(col("ia").as("antecedent"), col("ib").as("consequent"), col("pair_n"))
      .unionByName(pairs
        .select(col("ib").as("antecedent"), col("ia").as("consequent"), col("pair_n")))

    rules
      .join(itemCounts.select(col("item").as("antecedent"), col("c").as("ant_n")),
        Seq("antecedent"))
      .join(itemCounts.select(col("item").as("consequent"), col("c").as("cons_n")),
        Seq("consequent"))
      .crossJoin(broadcast(n))
      .withColumn("support",
        col("pair_n").cast("double") / col("n").cast("double"))
      .withColumn("confidence",
        col("pair_n").cast("double") / col("ant_n").cast("double"))
      .withColumn("lift",
        col("pair_n").cast("double") * col("n").cast("double")
          / (col("ant_n").cast("double") * col("cons_n").cast("double")))
      .select("antecedent", "consequent", "pair_n", "ant_n", "cons_n", "n",
        "support", "confidence", "lift")
  }

  /** DuckDB mirror — same admitted-basket governor, same IEEE chains. */
  def associationRulesOracleSql(minPairSupport: Long = 20,
                                maxBasket: Int = 64): String =
    s"""WITH items0 AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |), sized AS (
      |  SELECT ok FROM items0 GROUP BY ok
      |  HAVING count(*) BETWEEN 2 AND $maxBasket
      |), items AS (
      |  SELECT i.ok, i.item FROM items0 i JOIN sized USING (ok)
      |), nb AS (
      |  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM items
      |), ic AS (
      |  SELECT item, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1
      |), pp AS (
      |  SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS pair_n
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
      |  GROUP BY 1, 2 HAVING count(*) >= $minPairSupport
      |), rules AS (
      |  SELECT ia AS antecedent, ib AS consequent, pair_n FROM pp
      |  UNION ALL
      |  SELECT ib, ia, pair_n FROM pp
      |)
      |SELECT r.antecedent, r.consequent, r.pair_n, ca.c AS ant_n,
      |  cb.c AS cons_n, nb.n,
      |  CAST(r.pair_n AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
      |  CAST(r.pair_n AS DOUBLE) / CAST(ca.c AS DOUBLE) AS confidence,
      |  CAST(r.pair_n AS DOUBLE) * CAST(nb.n AS DOUBLE)
      |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
      |FROM rules r
      |JOIN ic ca ON r.antecedent = ca.item
      |JOIN ic cb ON r.consequent = cb.item
      |CROSS JOIN nb
      |ORDER BY r.antecedent, r.consequent""".stripMargin
}
