package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** kNN label-noise screen (the confident-learning/cleanlab triage shape):
  * a labeled example whose nearest neighbors overwhelmingly carry a
  * DIFFERENT label is a suspected mislabel — the cheapest high-yield
  * audit on a labeled training set, run before any model ever trains.
  *
  * Exactness: neighbor sets come from the already-DuckDB-gated
  * brute-cosine ranking; the disagreement fraction is one IEEE division
  * of exact counts; the suspect flag is a compare against a plan-literal
  * threshold. Fully hash-exact end-to-end.
  *
  * Scale shape: this audits a bounded QUERY SAMPLE (`numQueries` rows) —
  * the triage mode. A full-corpus sweep swaps the brute scan for the ANN
  * index (same rollup over knnIvf/knnPq output); the rollup itself is one
  * group-grain aggregation over queries×k rows either way. */
object LabelNoise {

  /** The shared disagreement rollup: `ranked` must carry (query_id,
    * label) neighbor rows — whichever ranking produced them. */
  private def rollup(ranked: DataFrame, embeddings: DataFrame,
                     numQueries: Int, suspectFrac: Double): DataFrame = {
    val qlab = embeddings.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    ranked.join(broadcast(qlab), Seq("query_id"))
      .groupBy(col("query_id"), col("q_label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum((col("label") =!= col("q_label")).cast("long")).as("n_disagree"))
      .select(col("query_id").as("vec_id"), col("q_label").as("label"),
        col("n_neighbors"), col("n_disagree"),
        (col("n_disagree").cast("double") / col("n_neighbors").cast("double"))
          .as("disagree_frac"),
        ((col("n_disagree").cast("double") / col("n_neighbors").cast("double"))
          >= lit(suspectFrac)).as("suspected_mislabel"))
  }

  def screen(embeddings: DataFrame, numQueries: Int = 100, k: Int = 10,
             suspectFrac: Double = 0.8): DataFrame =
    rollup(graft.sim.Similarity.knnBrute(embeddings, numQueries, k),
      embeddings, numQueries, suspectFrac)

  /** The documented scale path: the SAME disagreement rollup over the IVF
    * ANN ranking instead of the brute scan — neighbor candidates come
    * from nprobe/nlist of the corpus per query, so a full-corpus sweep
    * costs a fraction of brute's queries×corpus. Learned cells ⇒
    * rows-only (the ANN class); EvalDriftSpec binds planted-mislabel
    * recovery on a known geometry. */
  def screenAnn(embeddings: DataFrame, numQueries: Int = 100, k: Int = 10,
                suspectFrac: Double = 0.8, nlist: Int = 16,
                nprobe: Int = 4): DataFrame =
    rollup(graft.sim.Similarity.knnIvf(embeddings, numQueries, k, nlist, nprobe),
      embeddings, numQueries, suspectFrac)

  /** DuckDB mirror: the shared brute-ranking CTE
    * ([[RetrievalEval.knnRankedSqlCtes]]) + the same rollup. */
  def oracleSql(cosSql: (String, String) => String, numQueries: Int = 100,
                k: Int = 10, suspectFrac: Double = 0.8): String =
    RetrievalEval.knnRankedSqlCtes(cosSql, numQueries) +
    s""", agg AS (
       |  SELECT query_id, q_label,
       |    CAST(count(*) AS BIGINT) AS n_neighbors,
       |    CAST(sum(CASE WHEN label <> q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
       |  FROM ranked WHERE rank <= $k GROUP BY 1, 2
       |)
       |SELECT query_id AS vec_id, q_label AS label, n_neighbors, n_disagree,
       |  CAST(n_disagree AS DOUBLE) / CAST(n_neighbors AS DOUBLE) AS disagree_frac,
       |  CAST(n_disagree AS DOUBLE) / CAST(n_neighbors AS DOUBLE) >= $suspectFrac
       |    AS suspected_mislabel
       |FROM agg ORDER BY vec_id""".stripMargin
}
