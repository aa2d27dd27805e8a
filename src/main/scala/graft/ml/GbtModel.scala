package graft.ml

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.tuning.ParamGridBuilder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gradient-boosted-tree fraud model: the Spark-native analog of the
  * reference's XGBoost detector (ref: /root/reference/ml/models/
  * fraud_detector.py — XGBClassifier with hist trees), trained on the same
  * 25-feature vector and evaluated with the same confusion-matrix contract
  * as the LR path. Tree ensembles are the right inductive bias for tabular
  * fraud features; a linear model is a weaker stand-in.
  *
  * Parameter fidelity to `_get_xgb_params` (fraud_detector.py:234):
  * max_depth 6, learning_rate 0.05, subsample 0.80, colsample 0.80 →
  * maxDepth/stepSize/subsamplingRate/featureSubsetStrategy; XGBoost's
  * scale_pos_weight (and the SMOTE oversampling upstream of it) becomes a
  * per-row `weightCol` that up-weights the positive class by the neg/pos
  * ratio — the Spark-native class-imbalance mechanism (no synthetic rows
  * to shuffle at 100 TB). n_estimators is capped far below the reference's
  * 300 (which early-stops at 20 stale rounds): GBT iterations are strictly
  * sequential — each one a full pass over the train split — so at scale the
  * iteration count, not the row count, is the wall-clock axis, and the
  * rule label here saturates within ~20 trees.
  *
  * Determinism: the split is hash-stable, the seed fixed, and the feature
  * subsampling RNG seeded — reproducible on a given input, but learned
  * trees are not cross-engine portable → rows-only for the oracle; the
  * ScalaTest contract is relative (beats the literal scorer, and the tuned
  * model reports the grid point CV actually chose).
  */
object GbtModel {

  /** scale_pos_weight analog: weight column up-weighting positives by the
    * train split's neg/pos ratio. The ratio is ONE driver-side scalar read
    * (the reference logs the same class distribution before fitting). */
  private[graft] def withClassWeight(train: DataFrame): DataFrame = {
    val row = train.agg(
      sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("pos"),
      sum(when(col("label") =!= 1.0, 1L).otherwise(0L)).as("neg")).collect()(0)
    val pos = math.max(row.getLong(0), 1L)
    val spw = row.getLong(1).toDouble / pos
    train.withColumn("w",
      when(col("label") === 1.0, lit(spw)).otherwise(lit(1.0)))
  }

  /** One fit per (feature frame, maxIter) per process: q_model_reload_eval
    * and q_model_importance train the IDENTICAL estimator (same seed,
    * params, hash-stable split), so fitting twice would produce the same
    * trees twice and burn a full training pass. Memoized through
    * util.FitMemo, keyed by the frame's canonical plan and input files:
    * the two queries' separately built feature frames share one fit, and
    * data rewritten under the same paths refits. The memo holds the
    * fitted driver-side model (KBs of tree structure), never data. */
  def fittedShared(fullFeatures: DataFrame, maxIter: Int): GBTClassificationModel =
    graft.util.FitMemo("gbt", fullFeatures, maxIter) {
      val assembled = TrainedModel.assembleSplit(fullFeatures)
      baseEstimator(maxIter).fit(withClassWeight(assembled.filter(!col("is_test"))))
    }

  /** Fit one production CANDIDATE on the 80% split — the train stage of
    * the retrain DAG (ref airflow/dags/ml_training_dag.py train_model).
    * Deliberately NOT memoized: a retrain run must see today's data.
    * Returns the model plus the assembled split frame so evaluation
    * reuses the same materialization. */
  def trainCandidate(fullFeatures: DataFrame,
                     maxIter: Int = 5): (GBTClassificationModel, DataFrame) = {
    val assembled = TrainedModel.assembleSplit(fullFeatures)
    val model = baseEstimator(maxIter)
      .fit(withClassWeight(assembled.filter(!col("is_test"))))
    (model, assembled)
  }

  private[graft] def baseEstimator(maxIter: Int): GBTClassifier =
    new GBTClassifier()
      .setFeaturesCol("fv").setLabelCol("label").setWeightCol("w")
      .setMaxDepth(6).setStepSize(0.05)
      .setSubsamplingRate(0.80).setFeatureSubsetStrategy("0.8")
      .setMaxIter(maxIter).setSeed(42L)

  /** Train on the 80% split, score the 20% split. */
  def scoreHeldOut(fullFeatures: DataFrame, maxIter: Int = 20): DataFrame = {
    val assembled = TrainedModel.assembleSplit(fullFeatures)
    val model = baseEstimator(maxIter)
      .fit(withClassWeight(assembled.filter(!col("is_test"))))
    predictions(model, assembled.filter(col("is_test")))
  }

  /** Confusion matrix + precision/recall/accuracy/F1 on the held-out
    * split — same metric contract as TrainedModel.trainEval. */
  def trainEval(fullFeatures: DataFrame, maxIter: Int = 20): DataFrame =
    TrainedModel.metrics(scoreHeldOut(fullFeatures, maxIter))

  /** Seeded hyperparameter search: the deterministic mirror of the
    * reference's Optuna study (fraud_detector.py:249 — 3-fold CV maximizing
    * ROC AUC over max_depth and learning_rate, among others). A fixed grid
    * under a seeded 3-fold CrossValidator reproduces the selection exactly
    * on every run — no TPE sampler state. Candidate fits run concurrently
    * (`setParallelism`) over the one persisted train split, so the search
    * costs wall-clock ≈ ceil(grid×folds / parallelism) fits, not their sum.
    *
    * Returns one row: held-out confusion-matrix metrics of the re-fit best
    * model plus WHICH grid point won and its mean CV AUC.
    */
  def tunedEval(fullFeatures: DataFrame, maxIter: Int = 10): DataFrame = {
    val assembled = TrainedModel.assembleSplit(fullFeatures)
    val train = withClassWeight(assembled.filter(!col("is_test")))
    val gbt = baseEstimator(maxIter)
    val grid = new ParamGridBuilder()
      .addGrid(gbt.maxDepth, Array(3, 6))       // suggest_int("max_depth", 3, 9)
      .addGrid(gbt.stepSize, Array(0.05, 0.1))  // suggest_float("learning_rate", ...)
      .build()
    val (bestIndex, bestAuc) = seededCvSelect(gbt, train, grid,
      numFolds = 3, seed = 42L)
    // re-fit the winning grid point on the whole train split — exactly
    // CrossValidator's bestModel
    val best = gbt.fit(train, grid(bestIndex))
    TrainedModel.metrics(predictions(best, assembled.filter(col("is_test"))))
      .withColumn("best_max_depth", lit(best.getMaxDepth.toLong))
      .withColumn("best_step_size", lit(best.getStepSize))
      .withColumn("cv_auc", lit(bestAuc))
  }

  /** Seeded k-fold CV selection over a param grid — selection-identical to
    * `CrossValidator.fit` (same `MLUtils.kFold` splits from the same seed,
    * same per-fold estimator fits and evaluator calls, fold-order metric
    * sums, same first-max argmax) but with EVERY (fold × grid) fit in
    * flight at once. CrossValidator iterates folds SEQUENTIALLY and only
    * parallelizes within a fold, so its wall is ≥ numFolds × slowest-fit
    * (measured 12-13 s for the 12 seeded GBT fits here); full overlap cuts
    * that to ~slowest-chain + refit (guide §2.6 — independent latency-bound
    * job chains). Costs all fold caches live at once instead of one pair —
    * fold frames are train-split-sized intermediates, the standard
    * memory-for-wall trade, and the pool size only schedules (results are
    * per-fit deterministic: seeded fits on deterministic splits).
    * GbtModelSpec pins output equality against a literal CrossValidator
    * run. Returns (bestParamIndex, best mean CV metric). */
  private[graft] def seededCvSelect(
      est: GBTClassifier, train: DataFrame,
      grid: Array[org.apache.spark.ml.param.ParamMap],
      numFolds: Int, seed: Long): (Int, Double) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val spark = train.sparkSession
    val schema = train.schema
    val eval = new BinaryClassificationEvaluator()
      .setLabelCol("label").setMetricName("areaUnderROC")
    val splits = org.apache.spark.mllib.util.MLUtils.kFold(
      train.toDF.rdd, numFolds, seed)
    val folds = splits.map { case (tr, va) =>
      (spark.createDataFrame(tr, schema).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        spark.createDataFrame(va, schema).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      numFolds * grid.length,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-cv-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // all numFolds×|grid| futures start before any await
      val futures = folds.map { case (trD, vaD) =>
        grid.map { pm =>
          Future {
            val model = est.fit(trD, pm)
            // paramMap passed to transform too — the CrossValidator call
            eval.evaluate(model.transform(vaD, pm))
          }
        }
      }
      // every fit settles before the folds are freed (a fit still running
      // would re-cache its fold); a failed fit is then rethrown
      futures.foreach(_.foreach(Await.ready(_, Duration.Inf)))
      val perFold = futures.map(_.map(_.value.get.get))
      // mean in FOLD ORDER per grid point, then CrossValidator's
      // first-max argmax (maxBy keeps the earliest index on ties)
      val avg = perFold.transpose.map(_.sum / numFolds)
      val (bestMetric, bestIdx) = avg.zipWithIndex.maxBy(_._1)
      (bestIdx, bestMetric)
    } finally {
      pool.shutdown()
      folds.foreach { case (a, b) =>
        a.unpersist(blocking = false); b.unpersist(blocking = false)
      }
    }
  }

  /** Train → save to the registry → reload "latest" → score held-out with
    * the RELOADED model: the decoupled train-nightly/score-everywhere loop
    * (ref: ml/models/fraud_detector.py save/load; ml/serving/api.py:58
    * load-latest, :280 hot reload). Output carries the committed version
    * and a reload-parity mismatch count that must be 0 — a saved model
    * that scores differently after a round trip is a broken registry. */
  def reloadEval(fullFeatures: DataFrame, registryRoot: String,
                 maxIter: Int = 5,
                 pretrained: Option[GBTClassificationModel] = None): DataFrame = {
    val assembled = TrainedModel.assembleSplit(fullFeatures)
    val spark = assembled.sparkSession
    val model = pretrained.getOrElse(baseEstimator(maxIter)
      .fit(withClassWeight(assembled.filter(!col("is_test")))))
    val version = ModelRegistry.save(spark, model, registryRoot, "fraud_gbt")
    val reloaded = ModelRegistry.loadGbt(spark, registryRoot, "fraud_gbt")
    val test = assembled.filter(col("is_test"))
    val live = predictions(model, test)
      .select(col("o_orderkey"), col("predicted_fraud").as("live_pred"))
    val rel = predictions(reloaded, test)
    val mismatches = rel.join(live, "o_orderkey")
      .filter(col("predicted_fraud") =!= col("live_pred")).count()
    TrainedModel.metrics(rel)
      .withColumn("model_version", lit(version))
      .withColumn("reload_mismatches", lit(mismatches))
  }

  /** Per-feature importances of the fitted ensemble, ranked — the serving
    * API's model-explainability surface (ref: ml/serving/api.py:262).
    * Importances are a driver-side length-25 array on the fitted model
    * (Spark computes them from split gains during fit), so the frame is
    * literal-backed: no data pass beyond training itself. */
  def featureImportance(fullFeatures: DataFrame, maxIter: Int = 5,
                        pretrained: Option[GBTClassificationModel] = None): DataFrame = {
    val spark = fullFeatures.sparkSession
    val model = pretrained.getOrElse {
      val assembled = TrainedModel.assembleSplit(fullFeatures)
      baseEstimator(maxIter).fit(withClassWeight(assembled.filter(!col("is_test"))))
    }
    importancesOf(model, spark)
  }

  /** Importances of an already-fitted ensemble — a driver-side length-25
    * array read off the model; no data pass at all. */
  def importancesOf(model: GBTClassificationModel,
                    spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    TrainedModel.FeatureCols.zip(model.featureImportances.toArray)
      .sortBy { case (f, imp) => (-imp, f) }
      .zipWithIndex
      .map { case ((f, imp), r) => (r + 1L, f, imp) }
      .toDF("rank", "feature", "importance")
  }

  private def predictions(model: GBTClassificationModel, test: DataFrame): DataFrame =
    model.transform(test)
      .withColumn("predicted_fraud", col("prediction").cast("long"))
      .select(col("o_orderkey"), col("label").cast("long").as("label"),
        col("predicted_fraud"))
}
