package graft.ml

import graft.operators.ScalableRank
import graft.util.{CacheRegistry, Partitioning}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Uplift modeling via the two-model T-learner (Künzel et al. 2019;
  * Radcliffe's Qini): who should a promotion TARGET — not who converts,
  * but whose conversion the treatment CAUSES. Two seeded logistic models
  * fit the treated and control arms separately over per-user behavioral
  * features; predicted uplift is p̂_T(x) − p̂_C(x); the decile table
  * compares predicted against ACTUAL per-decile uplift and carries the
  * cumulative Qini curve (incremental conversions vs a control scaled to
  * the treated volume). Completes the experimentation family: funnelAb
  * (fixed-horizon test) → CUPED (variance reduction) → mSPRT (anytime
  * monitoring) → uplift (heterogeneous targeting).
  *
  * Arms ride the md5 split contract (operators/Sampling) so the same
  * users land in the same arm as q_msprt_ab. Learned LR weights are not
  * cross-engine reproducible → rows-only (SURVEY §4 class: learned
  * artifacts); MlSpec binds a planted heterogeneous effect instead.
  *
  * Scale shape: one user-grain partial agg builds the features; two
  * arm-filtered fits over the assembled (persisted) frame; deciles ride
  * ScalableRank's range-partition plan (no single-partition window);
  * everything after is a 10-row frame. */
object Uplift {

  private val FeatCols = Seq("n_click", "n_view", "n_signup", "n_error",
    "total_value")

  /** Per-user behavioral features + md5 arm + converted label. */
  def userFrame(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("click", "view", "signup", "error", "purchase"))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
        sum(when(col("event_type") =!= "purchase", col("value"))
          .otherwise(lit(0.0))).as("total_value"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .withColumn("treated",
        graft.operators.Sampling.hashBp(col("user_id")) < 5000)

  /** T-learner decile table: per predicted-uplift decile, arm sizes and
    * conversions, actual vs mean predicted uplift, and the cumulative
    * Qini value (incremental conversions over a volume-scaled control). */
  def upliftDeciles(events: DataFrame, deciles: Int = 10): DataFrame = {
    CacheRegistry.release(Uplift)
    val users = userFrame(events)
    // two iterative LR fits read this frame ~20×: right-size partitions
    // to the row count so each pass is not a fleet of near-empty tasks
    val assembled = Partitioning.persistForIteration(Uplift, new VectorAssembler()
      .setInputCols(FeatCols.toArray).setOutputCol("fv")
      .transform(users.select(col("user_id") +: col("treated") +:
        col("converted").cast("double").as("label") +:
        FeatCols.map(c => col(c).cast("double").as(c)): _*)))
    val lr = new LogisticRegression()
      .setFeaturesCol("fv").setLabelCol("label")
      .setMaxIter(10).setRegParam(0.01).setStandardization(true)
      .setProbabilityCol("prob")
    val mT = lr.fit(assembled.filter(col("treated")))
    val mC = lr.fit(assembled.filter(!col("treated")))
    val p1 = (m: org.apache.spark.ml.classification.LogisticRegressionModel,
              name: String) =>
      m.transform(assembled)
        .withColumn(name,
          element_at(org.apache.spark.ml.functions.vector_to_array(col("prob")), 2)
            .cast("double"))
        .select(col("user_id"), col("treated"), col("label"), col(name))
    val scored = p1(mT, "p_t")
      .join(p1(mC, "p_c").select("user_id", "p_c"), Seq("user_id"))
      .withColumn("uplift", col("p_t") - col("p_c"))
    val tiled = ScalableRank.ranked(
      scored.select(col("uplift"), col("user_id"), col("treated"), col("label")),
      col("uplift"), col("user_id"), deciles)
    val perTile = tiled.groupBy(col("ntile").as("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("treated"), 1L).otherwise(0L)).as("n_treat"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("n_ctrl"),
        sum(when(col("treated"), col("label")).otherwise(lit(0.0)))
          .cast("long").as("conv_treat"),
        sum(when(!col("treated"), col("label")).otherwise(lit(0.0)))
          .cast("long").as("conv_ctrl"),
        avg(col("uplift")).as("predicted_uplift"))
      .withColumn("actual_uplift",
        col("conv_treat").cast("double") / col("n_treat").cast("double") -
          col("conv_ctrl").cast("double") / col("n_ctrl").cast("double"))
    val wCum = Window.partitionBy(lit(1)).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perTile
      // a leading decile with zero cumulative controls (skewed arms or a
      // tiny corpus) has no defined control baseline — emit null like
      // actual_uplift does, never NaN/Infinity from a 0-denominator
      .withColumn("qini",
        when(sum(col("n_ctrl")).over(wCum) > 0L,
          sum(col("conv_treat")).over(wCum).cast("double") -
            sum(col("conv_ctrl")).over(wCum).cast("double") *
              (sum(col("n_treat")).over(wCum).cast("double") /
                sum(col("n_ctrl")).over(wCum).cast("double"))))
      .select("decile", "n", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        "predicted_uplift", "actual_uplift", "qini")
      .orderBy("decile")
  }
}
