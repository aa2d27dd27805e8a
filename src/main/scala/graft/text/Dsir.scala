package graft.text

import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling"): score every raw
  * document by how much more target-like than raw-like it is under two
  * HASHED N-GRAM bag models — log p̂_target(x) − log p̂_raw(x) summed
  * over the document's features. Raw docs with high weight are
  * up-sampled toward the target distribution (here: the corpus' `en`
  * slice as the target, the full corpus as raw), the principled
  * replacement for hand-tuned mixture quotas ([[Mixture]]).
  *
  * The hashing is the scale contract: token features fold into a FIXED
  * number of buckets (`numBuckets`), so both models are constant-size
  * artifacts no matter how large the corpus — the bucket-weight table
  * broadcasts legitimately at 100 TB (unlike a vocabulary, which must
  * shuffle-join: UnigramLm.scala). Counting is one explode + one
  * (bucket) partial-agg shuffle; scoring is one broadcast join + one
  * (doc) partial agg. Linear, two scans of the token stream.
  *
  * Cross-engine determinism: bucket ids come from the md5-prefix
  * integer idiom (Sampling.scala); the two smoothed log-probs are each
  * quantized to micro-nats via the UnigramLm float32-round contract
  * and SUBTRACTED AS INTEGERS, so per-doc sums are exact BIGINT
  * arithmetic and the final divisions are single correctly-rounded
  * IEEE ops.
  */
object Dsir {

  val NumBuckets = 1024

  private def bucketOf(token: Column): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("long") % NumBuckets

  /** Per-document DSIR importance weight against a target slice.
    * `isTarget` selects the target sub-corpus (e.g. lang = 'en'). */
  def importanceWeights(documents: DataFrame, isTarget: Column): DataFrame = {
    val tokens = documents
      .select(col("doc_id"), col("lang"), isTarget.as("is_target"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .withColumn("bucket", bucketOf(col("token")))

    // Raw and target counts in ONE token-grain pass (count + conditional
    // count share the partial agg); totals fold from the ≤NumBuckets-row
    // count frame, so the corpus is scanned once for the whole model fit.
    // The count frame feeds both the totals and the weight table —
    // persisted so its corpus-scan lineage runs once.
    CacheRegistry.release(Dsir)
    val counts = CacheRegistry.persist(Dsir, tokens.groupBy("bucket").agg(
        count(lit(1)).as("cr"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct")))
    val totals = counts.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))

    // Constant-size (≤ NumBuckets rows) weight table; absent-in-target
    // buckets smooth to count 0.
    val weights = counts
      .crossJoin(broadcast(totals))
      .withColumn("lp_t_micro", floor(expr(
        s"CAST(CAST(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + $NumBuckets AS DOUBLE)) AS FLOAT) AS DOUBLE)" +
          " * CAST(1000000.0 AS DOUBLE)")).cast("long"))
      .withColumn("lp_r_micro", floor(expr(
        s"CAST(CAST(ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + $NumBuckets AS DOUBLE)) AS FLOAT) AS DOUBLE)" +
          " * CAST(1000000.0 AS DOUBLE)")).cast("long"))
      .withColumn("w_micro", col("lp_t_micro") - col("lp_r_micro"))
      .select("bucket", "w_micro")

    tokens
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_micro")).as("sum_w_micro"))
      .withColumn("dsir_weight",
        col("sum_w_micro").cast("double") / lit(1000000.0) / col("n_tokens"))
      .select("doc_id", "lang", "n_tokens", "sum_w_micro", "dsir_weight")
      .orderBy("doc_id")
  }
}
