package graft.ml

import graft.util.{CacheRegistry, Partitioning}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end trained model path: fit a Spark-ML LogisticRegression on the
  * 25-feature vector's train split and evaluate on the held-out split —
  * mirrors the reference's feature-table → train → metrics-report loop
  * (ref: /root/reference/ml/models/train.py) with Spark-ML in place of
  * XGBoost (no xgboost jars in a stock Spark classpath; a linear model on
  * the same features keeps the pipeline shape and the metrics contract).
  *
  * Determinism: the split is hash-stable (o_orderkey % 5), the optimizer
  * is L-BFGS over a fixed-partitioning treeAggregate — learned weights are
  * reproducible on a given input but NOT cross-engine portable, so the
  * query is rows-only for the oracle; the ScalaTest contract is relative:
  * trained metrics must beat the shipped literal-weight scorer on the same
  * held-out split.
  */
object TrainedModel {

  /** The 25 numeric features of FraudScore.fullFeatureVector. */
  val FeatureCols: Seq[String] = Seq(
    "total_amount", "amount_log", "order_month", "order_dow", "is_weekend",
    "user_order_count", "user_avg_amount", "user_max_amount", "user_min_amount",
    "amount_vs_user_avg", "user_p95_amount", "amount_vs_user_p95",
    "account_age_days", "velocity_7d", "velocity_30d", "velocity_90d",
    "refund_count_30d", "user_refund_count", "refund_rate", "tier_encoded",
    "is_priority_order", "region_risk", "is_high_risk_region",
    "negative_balance", "account_balance")

  /** Assemble the 25 features into a vector column over the hash-stable
    * 80/20 split, persisted. Cache the assembled frame: every training
    * iteration is a full pass over the train split, and the test-split
    * scoring pass reuses the SAME materialization instead of recomputing
    * the whole feature-vector pipeline (windows + velocity union + joins)
    * from the source scans. Shared by the LR and GBT paths. The previous
    * call's frame is released here, not at the end of a call: the returned
    * predictions are lazy, so an in-call release would drop the cache
    * before the test split is ever scored. */
  def assembleSplit(fullFeatures: DataFrame): DataFrame = {
    CacheRegistry.release(TrainedModel)
    val data = FraudScore.withSplit(fullFeatures)
      .select(col("o_orderkey") +: col("label").cast("double").as("label") +:
        col("is_test") +: FeatureCols.map(c => col(c).cast("double").as(c)): _*)
    Partitioning.persistForIteration(TrainedModel,
      new VectorAssembler()
        .setInputCols(FeatureCols.toArray).setOutputCol("fv")
        .transform(data))
  }

  /** Train on the 80% split, score the 20% split. Returns per-row
    * predictions (o_orderkey, label, predicted_fraud, p_fraud). */
  def scoreHeldOut(fullFeatures: DataFrame): DataFrame = {
    val assembled = assembleSplit(fullFeatures)
    val lr = new LogisticRegression()
      .setFeaturesCol("fv").setLabelCol("label")
      .setMaxIter(10).setRegParam(0.01).setStandardization(true)
    val model = lr.fit(assembled.filter(!col("is_test")))
    model.transform(assembled.filter(col("is_test")))
      .withColumn("predicted_fraud", col("prediction").cast("long"))
      .select(col("o_orderkey"), col("label").cast("long").as("label"),
        col("predicted_fraud"))
  }

  /** Confusion matrix + precision/recall/accuracy/F1 of the trained model
    * on the held-out split (single aggregation, same metric contract as
    * FraudScore.evaluate). */
  def trainEval(fullFeatures: DataFrame): DataFrame =
    metrics(scoreHeldOut(fullFeatures))

  /** Metrics over (label, predicted_fraud) rows. */
  def metrics(pred: DataFrame): DataFrame =
    pred.agg(
        count(lit(1)).as("n_test"),
        sum(when(col("predicted_fraud") === 1 && col("label") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("predicted_fraud") === 1 && col("label") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("predicted_fraud") === 0 && col("label") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("predicted_fraud") === 0 && col("label") === 0, 1L).otherwise(0L)).as("tn"))
      .withColumn("precision", col("tp").cast("double") / (col("tp") + col("fp")))
      .withColumn("recall", col("tp").cast("double") / (col("tp") + col("fn")))
      .withColumn("accuracy", (col("tp") + col("tn")).cast("double") / col("n_test"))
      .withColumn("f1",
        lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp") + col("fn")))
}
