package graft.sim

import graft.util.CacheRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
  * Parallel Corpus Mining with Multilingual Sentence Embeddings") — the
  * standard pipeline for mining translation pairs out of two monolingual
  * corpora that share an embedding space: raw cosine is miscalibrated
  * across hubness regions, so each candidate's cosine is RATIO-scaled by
  * the average similarity of both endpoints' k-NN neighborhoods, and only
  * MUTUAL margin-best pairs survive (the "intersection" strategy).
  *
  * Determinism discipline (§4): the k-NN neighborhood averages are sums
  * of nano-quantized INTEGER cosines (a float sum over k rows would be
  * engine-order-dependent), divided once; every ranking carries a total
  * order (score desc, id asc). The mined frame is therefore hash-exact
  * against the DuckDB oracle.
  *
  * Scale shape: norms projected once per vector BEFORE the pair join;
  * the pair scoring is the brute knnBrute shape (one corpus pass per
  * direction against the broadcast smaller side). At real bilingual-web
  * scale the Y side stops being broadcastable and the SAME margin
  * arithmetic rides the IVF posting-list candidates (sim/AnnIndex)
  * instead of the exact pair join — the downstream stages (top-k, nano
  * sums, mutual-best) are unchanged because they only consume scored
  * pairs. Assumes both sides have ≥ k vectors (the fixed-k denominator
  * is part of the published margin definition).
  */
object Bitext {

  /** Mine mutual margin-best pairs between `srcLang` and `tgtLang`
    * documents (vec_id ≡ doc_id in the corpus). Output:
    * (x_id, y_id, cos_sim, margin) — one row per mutual-best pair. */
  def minePairs(documents: DataFrame, embeddings: DataFrame,
                srcLang: String = "en", tgtLang: String = "de",
                k: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val tagged = embeddings.select(col("vec_id"), col("embedding"))
      .join(documents.select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id"))
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
    val xs = tagged.filter(col("lang") === srcLang)
      .select(col("vec_id").as("x_id"), col("embedding").as("xv"),
        col("nrm").as("x_nrm"))
    val ys = tagged.filter(col("lang") === tgtLang)
      .select(col("vec_id").as("y_id"), col("embedding").as("yv"),
        col("nrm").as("y_nrm"))
    // scored feeds both top-k directions; released on the next call
    CacheRegistry.release(Bitext)
    val scored = CacheRegistry.persist(Bitext, xs.join(broadcast(ys))
      .withColumn("cos_sim", expr("vec_dot(xv, yv)") / (col("x_nrm") * col("y_nrm")))
      .select(col("x_id"), col("y_id"), col("cos_sim"),
        floor(col("cos_sim") * lit(1.0e9)).cast("long").as("cos_nano")))

    import graft.operators.ScalableRank.topKPerGroup
    val fwd = topKPerGroup(scored, Seq(col("x_id")),
      Seq(col("cos_sim").desc, col("y_id").asc), k, "rk")
    val bwd = topKPerGroup(scored, Seq(col("y_id")),
      Seq(col("cos_sim").desc, col("x_id").asc), k, "rk")
    // neighborhood averages as exact integer sums, ONE division each
    val fs = fwd.groupBy("x_id").agg(sum("cos_nano").as("f_nano"))
    val bs = bwd.groupBy("y_id").agg(sum("cos_nano").as("b_nano"))
    val cand = fwd.select("x_id", "y_id", "cos_sim")
      .unionByName(bwd.select("x_id", "y_id", "cos_sim"))
      .groupBy("x_id", "y_id").agg(max("cos_sim").as("cos_sim"))
    val kNano = lit(k * 1.0e9)
    val margins = cand.join(fs, "x_id").join(bs, "y_id")
      .withColumn("margin", col("cos_sim") /
        ((col("f_nano").cast("double") / kNano +
          col("b_nano").cast("double") / kNano) / lit(2.0)))
      .select(col("x_id"), col("y_id"), col("cos_sim"), col("margin"))
    // mutual best: x's margin-argmax AND y's margin-argmax (total order)
    val bestF = topKPerGroup(margins, Seq(col("x_id")),
      Seq(col("margin").desc, col("y_id").asc), 1, "rf")
    val bestB = topKPerGroup(margins, Seq(col("y_id")),
      Seq(col("margin").desc, col("x_id").asc), 1, "rb")
    bestF.select("x_id", "y_id", "cos_sim", "margin")
      .join(bestB.select("x_id", "y_id"), Seq("x_id", "y_id"))
  }

  /** DuckDB oracle: the same pipeline spelled in SQL — cosSql's
    * sequential fold, nano-quantized neighborhood sums, identical IEEE
    * margin chain, identical tie-breaks. */
  def minePairsOracleSql(cosSql: (String, String) => String,
                         srcLang: String = "en", tgtLang: String = "de",
                         k: Int = 4): String = {
    val kNano = s"${k.toLong * 1000000000L}.0"
    s"""WITH x AS (
       |  SELECT d.doc_id AS x_id, e.embedding AS xv
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
       |  WHERE d.lang = '$srcLang'
       |), y AS (
       |  SELECT d.doc_id AS y_id, e.embedding AS yv
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
       |  WHERE d.lang = '$tgtLang'
       |), sc AS (
       |  SELECT x_id, y_id, ${cosSql("xv", "yv")} AS cos_sim FROM x CROSS JOIN y
       |), scn AS (
       |  SELECT x_id, y_id, cos_sim,
       |    CAST(floor(cos_sim * 1000000000.0) AS BIGINT) AS cos_nano
       |  FROM sc
       |), fwd AS (
       |  SELECT * FROM (SELECT x_id, y_id, cos_sim, cos_nano, row_number()
       |    OVER (PARTITION BY x_id ORDER BY cos_sim DESC, y_id ASC) AS rk FROM scn)
       |  WHERE rk <= $k
       |), bwd AS (
       |  SELECT * FROM (SELECT x_id, y_id, cos_sim, cos_nano, row_number()
       |    OVER (PARTITION BY y_id ORDER BY cos_sim DESC, x_id ASC) AS rk FROM scn)
       |  WHERE rk <= $k
       |), fs AS (
       |  SELECT x_id, CAST(sum(cos_nano) AS BIGINT) AS f_nano FROM fwd GROUP BY 1
       |), bs AS (
       |  SELECT y_id, CAST(sum(cos_nano) AS BIGINT) AS b_nano FROM bwd GROUP BY 1
       |), cand AS (
       |  SELECT x_id, y_id, max(cos_sim) AS cos_sim FROM (
       |    SELECT x_id, y_id, cos_sim FROM fwd
       |    UNION ALL SELECT x_id, y_id, cos_sim FROM bwd
       |  ) GROUP BY 1, 2
       |), m AS (
       |  SELECT c.x_id, c.y_id, c.cos_sim,
       |    c.cos_sim / ((CAST(f_nano AS DOUBLE) / $kNano +
       |      CAST(b_nano AS DOUBLE) / $kNano) / 2.0) AS margin
       |  FROM cand c JOIN fs USING (x_id) JOIN bs USING (y_id)
       |), bf AS (
       |  SELECT x_id, y_id, cos_sim, margin FROM (SELECT *, row_number()
       |    OVER (PARTITION BY x_id ORDER BY margin DESC, y_id ASC) AS rf FROM m)
       |  WHERE rf = 1
       |), bb AS (
       |  SELECT x_id, y_id FROM (SELECT *, row_number()
       |    OVER (PARTITION BY y_id ORDER BY margin DESC, x_id ASC) AS rb FROM m)
       |  WHERE rb = 1
       |)
       |SELECT bf.x_id, bf.y_id, bf.cos_sim, bf.margin
       |FROM bf JOIN bb USING (x_id, y_id) ORDER BY bf.x_id""".stripMargin
  }
}
