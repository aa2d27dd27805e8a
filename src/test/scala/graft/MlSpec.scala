package graft

import graft.ml.{FraudScore, GbtModel, TrainedModel}
import graft.operators.{Cleaning, Enrichment}
import org.apache.spark.sql.functions._

/** Trained-model contract: a LogisticRegression fit on the full 25-feature
  * vector must beat the shipped literal-weight scorer on the identical
  * held-out split (the literal scorer only sees 6 of the features). */
class MlSpec extends SparkSpec {

  private def fullFeatures = {
    val clean = Cleaning.cleanOrders(Tables.orders(spark, TinySf))
    FraudScore.fullFeatureVector(
      Enrichment.enrichOrders(clean, Tables.customer(spark, TinySf),
        Tables.nation(spark, TinySf), Tables.region(spark, TinySf)),
      clean,
      Cleaning.cleanLineitem(Tables.lineitem(spark, TinySf)))
  }

  test("trained LR beats the literal-weight scorer on the held-out split") {
    val feats = fullFeatures.cache()
    try {
      val trained = TrainedModel.trainEval(feats)
        .select("n_test", "accuracy", "f1").collect()(0)
      val literalPred = FraudScore.withSplit(FraudScore.score(feats))
        .filter(col("is_test"))
        .select(col("o_orderkey"), col("label"), col("predicted_fraud"))
      val literal = TrainedModel.metrics(literalPred)
        .select("n_test", "accuracy", "f1").collect()(0)
      assert(trained.getLong(0) == literal.getLong(0)) // same split
      assert(trained.getDouble(1) >= literal.getDouble(1),
        s"trained accuracy ${trained.getDouble(1)} < literal ${literal.getDouble(1)}")
      assert(trained.getDouble(2) >= literal.getDouble(2),
        s"trained F1 ${trained.getDouble(2)} < literal ${literal.getDouble(2)}")
    } finally feats.unpersist()
  }

  test("GBT (XGBoost analog) beats the literal-weight scorer on the held-out split") {
    val feats = fullFeatures.cache()
    try {
      val gbt = GbtModel.trainEval(feats)
        .select("n_test", "accuracy", "f1").collect()(0)
      val literalPred = FraudScore.withSplit(FraudScore.score(feats))
        .filter(col("is_test"))
        .select(col("o_orderkey"), col("label"), col("predicted_fraud"))
      val literal = TrainedModel.metrics(literalPred)
        .select("n_test", "accuracy", "f1").collect()(0)
      assert(gbt.getLong(0) == literal.getLong(0)) // same split
      assert(gbt.getDouble(1) >= literal.getDouble(1),
        s"GBT accuracy ${gbt.getDouble(1)} < literal ${literal.getDouble(1)}")
      assert(gbt.getDouble(2) >= literal.getDouble(2),
        s"GBT F1 ${gbt.getDouble(2)} < literal ${literal.getDouble(2)}")
    } finally feats.unpersist()
  }

  test("GBT training is seeded-deterministic: two fits give identical held-out metrics") {
    val feats = fullFeatures.cache()
    try {
      val a = GbtModel.trainEval(feats, maxIter = 5).collect()(0)
      val b = GbtModel.trainEval(feats, maxIter = 5).collect()(0)
      assert(a == b, s"non-deterministic GBT fit: $a vs $b")
    } finally feats.unpersist()
  }

  test("seeded CV grid search selects a grid point and reports its CV AUC") {
    val feats = fullFeatures.cache()
    try {
      val row = GbtModel.tunedEval(feats, maxIter = 5).collect()(0)
      val depth = row.getAs[Long]("best_max_depth")
      val step = row.getAs[Double]("best_step_size")
      assert(Set(3L, 6L).contains(depth), s"depth $depth not in grid")
      assert(Set(0.05, 0.1).contains(step), s"stepSize $step not in grid")
      val auc = row.getAs[Double]("cv_auc")
      assert(auc > 0.5 && auc <= 1.0, s"CV AUC $auc not better than chance")
      // tuned model's held-out accuracy is sane (label is a feature rule,
      // so any competent tree ensemble scores far above the ~0.5 floor)
      assert(row.getAs[Double]("accuracy") > 0.9)
      // the seeded search is reproducible
      val again = GbtModel.tunedEval(feats, maxIter = 5).collect()(0)
      assert(row == again, s"non-deterministic CV selection: $row vs $again")
    } finally feats.unpersist()
  }

  test("seededCvSelect reproduces CrossValidator's selection and CV metric exactly") {
    val feats = fullFeatures.cache()
    try {
      val assembled = TrainedModel.assembleSplit(feats)
      val train = GbtModel.withClassWeight(assembled.filter(!col("is_test")))
      val gbt = GbtModel.baseEstimator(5)
      val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
        .addGrid(gbt.maxDepth, Array(3, 6))
        .addGrid(gbt.stepSize, Array(0.05, 0.1))
        .build()
      val cv = new org.apache.spark.ml.tuning.CrossValidator()
        .setEstimator(gbt)
        .setEvaluator(new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
          .setLabelCol("label").setMetricName("areaUnderROC"))
        .setEstimatorParamMaps(grid).setNumFolds(3).setParallelism(4).setSeed(42L)
      val cvModel = cv.fit(train)
      val cvBest = cvModel.bestModel
        .asInstanceOf[org.apache.spark.ml.classification.GBTClassificationModel]
      val (idx, auc) = GbtModel.seededCvSelect(gbt, train, grid, numFolds = 3, seed = 42L)
      assert(auc == cvModel.avgMetrics.max,
        s"CV metric diverged: manual $auc vs CrossValidator ${cvModel.avgMetrics.max}")
      assert(grid(idx)(gbt.maxDepth) == cvBest.getMaxDepth,
        s"selected maxDepth diverged: ${grid(idx)(gbt.maxDepth)} vs ${cvBest.getMaxDepth}")
      assert(grid(idx)(gbt.stepSize) == cvBest.getStepSize,
        s"selected stepSize diverged: ${grid(idx)(gbt.stepSize)} vs ${cvBest.getStepSize}")
    } finally feats.unpersist()
  }

  test("seededCvSelect frees every fold frame when a grid point's fit fails") {
    import spark.implicits._
    import org.apache.spark.ml.linalg.Vectors
    val train = (0 until 40).map { i =>
      (if (i % 3 == 0) 1.0 else 0.0, Vectors.dense(i.toDouble, (i % 5).toDouble), 1.0)
    }.toDF("label", "fv", "w")
    val gbt = GbtModel.baseEstimator(2)
    // the "w" point fits (and caches its folds); a weight column the
    // frame lacks passes param validation and fails inside fit
    val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
      .addGrid(gbt.weightCol, Seq("w", "no_such_weight")).build()
    // a fold frame is a cached scan of an existing RDD (the kFold split)
    def foldCaches = spark.sparkContext.getPersistentRDDs.values
      .filter(r => Option(r.name).exists(_.contains("ExistingRDD"))).map(_.id).toSet
    val before = foldCaches
    intercept[Exception](GbtModel.seededCvSelect(gbt, train, grid, numFolds = 2, seed = 42L))
    val left = foldCaches -- before
    assert(left.isEmpty, s"fold frames left cached after a failed fit: $left")
  }

  test("q_model_reload_eval and q_model_importance share one GBT fit") {
    // a private copy of the tables: no other spec fits on these files
    val dir = java.nio.file.Files.createTempDirectory("gbt-memo")
    Seq("orders", "customer", "nation", "region", "lineitem").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$TinySf/$t.parquet"),
        dir.resolve(s"$t.parquet"))
    }
    val fits0 = graft.util.FitMemo.size("gbt")
    SparkEntry.queries("q_model_reload_eval")(spark, dir.toString).collect()
    SparkEntry.queries("q_model_importance")(spark, dir.toString).collect()
    assert(graft.util.FitMemo.size("gbt") == fits0 + 1,
      s"expected one shared fit, got ${graft.util.FitMemo.size("gbt") - fits0}")
  }

  test("registry round trip: reloaded model scores identically and versions advance") {
    val feats = fullFeatures.cache()
    val root = java.nio.file.Files.createTempDirectory("graft-registry-spec").toString
    try {
      val row = GbtModel.reloadEval(feats, root, maxIter = 5).collect()(0)
      assert(row.getAs[Long]("reload_mismatches") == 0L,
        s"reloaded model disagrees with in-session model on ${row.getAs[Long]("reload_mismatches")} rows")
      assert(row.getAs[Long]("model_version") == 1L)
      // a second training run commits v=2 and "latest" resolves to it
      val row2 = GbtModel.reloadEval(feats, root, maxIter = 5).collect()(0)
      assert(row2.getAs[Long]("model_version") == 2L)
      assert(graft.ml.ModelRegistry.latestVersion(spark, root, "fraud_gbt").contains(2L))
      // seeded fit + lossless round trip => identical held-out metrics
      assert(row.getAs[Double]("f1") == row2.getAs[Double]("f1"))

      // publish visibility is gated on the commit marker: a version dir
      // without it (an in-flight or crashed save) must never serve — the
      // hot-reload scorer would otherwise load a half-written artifact
      val p = new org.apache.hadoop.fs.Path(s"$root/models/fraud_gbt/v=9")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(p)
      assert(graft.ml.ModelRegistry.latestVersion(spark, root, "fraud_gbt").contains(2L),
        "an uncommitted version dir must be invisible to latest")
      // and no temp publish dirs survive a completed save
      val stray = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/models/fraud_gbt"))
        .map(_.getPath.getName).filter(_.startsWith(".tmp-"))
      assert(stray.isEmpty, s"leftover publish temp dirs: ${stray.mkString(", ")}")
    } finally feats.unpersist()
  }

  test("registry save/load preserves per-row probabilities bit-exactly") {
    import graft.ml.ModelRegistry
    import org.apache.spark.ml.classification.GBTClassifier
    import org.apache.spark.ml.functions.vector_to_array
    val feats = fullFeatures.cache()
    val root = java.nio.file.Files.createTempDirectory("graft-registry-bits").toString
    try {
      val assembled = TrainedModel.assembleSplit(feats)
      val model = new GBTClassifier()
        .setFeaturesCol("fv").setLabelCol("label")
        .setMaxDepth(6).setMaxIter(5).setSeed(42L)
        .fit(assembled.filter(!col("is_test")))
      ModelRegistry.save(spark, model, root, "fraud_gbt")
      val reloaded = ModelRegistry.loadGbt(spark, root, "fraud_gbt")
      val test = assembled.filter(col("is_test"))
      def probs(m: org.apache.spark.ml.classification.GBTClassificationModel) =
        m.transform(test).select(col("o_orderkey"),
            vector_to_array(col("probability")).getItem(1).as("p"))
      val joined = probs(model).withColumnRenamed("p", "p_live")
        .join(probs(reloaded), "o_orderkey")
      // bit-exact: the saved artifact carries full double split thresholds
      // and leaf predictions, not a lossy export
      assert(joined.filter(col("p_live") =!= col("p")).count() == 0)
      assert(joined.count() > 0)
    } finally feats.unpersist()
  }

  test("feature importances sum to 1 and rank label-rule signals above calendar noise") {
    val feats = fullFeatures.cache()
    try {
      val imp = GbtModel.featureImportance(feats, maxIter = 5).collect()
      assert(imp.length == TrainedModel.FeatureCols.length)
      val total = imp.map(_.getAs[Double]("importance")).sum
      assert(math.abs(total - 1.0) < 1e-9, s"importances sum to $total")
      val rankOf = imp.map(r => r.getAs[String]("feature") -> r.getAs[Long]("rank")).toMap
      // the label rule is built from amount_vs_user_avg + region_risk (+
      // premium tier): the fitted ensemble must rank at least one of those
      // above every pure-calendar column
      val signal = Seq("region_risk", "amount_vs_user_avg", "tier_encoded")
        .map(rankOf).min
      val noise = Seq("order_dow", "order_month", "is_weekend").map(rankOf).min
      assert(signal < noise,
        s"best signal rank $signal not above best calendar rank $noise")
    } finally feats.unpersist()
  }

  test("quality classifier recovers the rule signal on held-out docs, deterministically") {
    import graft.ml.{Evaluation, QualityClassifier}
    val docs = Tables.documents(spark, TinySf)
    val first = QualityClassifier.trainScore(docs).orderBy("doc_id").collect().toSeq
    // one row per doc, scores are probabilities, both classes held out
    assert(first.size == docs.count())
    assert(first.forall { r =>
      val s = r.getAs[Double]("quality_score"); s >= 0.0 && s <= 1.0
    })
    val test = first.filter(_.getAs[Boolean]("is_test"))
    val testPos = test.count(_.getAs[Long]("label") == 1L)
    assert(testPos > 0 && testPos < test.size, "held-out split is single-class")
    // the n-gram model must recover the Gopher rule verdict from raw
    // text alone: held-out exact ROC-AUC well above chance
    import spark.implicits._
    val scored = test
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("label"),
        r.getAs[Double]("quality_score")))
      .toDF("doc_id", "label", "quality_score")
    val auc = Evaluation.rocAuc(scored, "quality_score", "label", "doc_id")
      .head().getAs[Double]("auc")
    assert(auc >= 0.8, f"held-out AUC $auc%.3f below floor")
    // retrain in-session is bit-identical (hash split + seedless hashing
    // trick + L-BFGS over the same partitioning)
    val second = QualityClassifier.trainScore(docs).orderBy("doc_id").collect().toSeq
    assert(first == second, "retrain diverged")
    graft.util.CacheRegistry.release(QualityClassifier)
  }

  // ---- isotonic calibration ----

  test("isotonic map reproduces the PAV hand example and is monotone on real scores") {
    import graft.ml.Calibration
    val spark2 = spark
    import spark2.implicits._
    // PAV on labels (0, 1, 0, 1) over increasing scores pools the middle
    // violation (1, 0) -> 0.5: map = [0, 0.5, 0.5, 1]
    val tiny = Seq((1.0f, 0L), (2.0f, 1L), (3.0f, 0L), (4.0f, 1L))
      .toDF("score", "label")
    val m = Calibration.isotonicMap(tiny, "score", "label")
      .orderBy("boundary").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(m == Seq((1.0, 0.0), (2.0, 0.5), (3.0, 0.5), (4.0, 1.0)))
    // real scorer: calibrated_p must be non-decreasing in the boundary
    val real = Calibration.isotonicMap(
      graft.QueriesShared.literalScored(spark, TinySf), "fraud_score", "label")
      .orderBy("boundary").collect().map(_.getDouble(1))
    assert(real.nonEmpty && real.sameElements(real.sorted),
      "isotonic map must be monotone")
  }

  test("isotonic calibration can only improve the train-set Brier") {
    import graft.ml.Calibration
    val g = Calibration.brierGain(
      graft.QueriesShared.literalScored(spark, TinySf), "fraud_score", "label")
      .collect().head
    val gain = g.getAs[Double]("brier_gain")
    assert(gain >= -1e-6, s"calibration worsened Brier by ${-gain}")
    assert(g.getAs[Double]("brier_cal") >= 0.0 &&
      g.getAs[Double]("brier_raw") >= 0.0)
  }

  test("uplift T-learner: top deciles capture a planted heterogeneous effect") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    // recover the engine's md5 arm so the planted effect is real
    def treated(uid: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(uid.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % 10000 < 5000
    }
    // heterogeneous effect: "responders" (uid % 10 >= 5, visible to the
    // model as many clicks) convert ONLY when treated; non-responders
    // never convert. True uplift = 1 for responders, 0 otherwise.
    val us = 1000000L
    val ev = (1L to 2000L).flatMap { uid =>
      val responder = uid % 10 >= 5
      val clicks = (1 to (if (responder) 8 else 1)).map(k =>
        (uid * 100 + k, uid, "click", 0.0, (uid * 1000 + k) * us))
      val buy = if (responder && treated(uid))
        Seq((uid * 100 + 99, uid, "purchase", 1.0, (uid * 1000 + 500) * us))
      else Seq.empty
      clicks ++ buy
    }.toDF("event_id", "user_id", "event_type", "value", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val out = ml.Uplift.upliftDeciles(ev).orderBy("decile").collect()
    assert(out.length == 10)
    // population accounting: every user landed in exactly one decile
    assert(out.map(_.getAs[Long]("n")).sum == 2000L)
    // the model must rank responders first: top decile all-responder
    // (actual uplift ~1), bottom decile all non-responder (~0)
    val top = out.head; val bottom = out.last
    assert(top.getAs[Double]("actual_uplift") > 0.8,
      s"top ${top.getAs[Double]("actual_uplift")}")
    assert(math.abs(bottom.getAs[Double]("actual_uplift")) < 0.2,
      s"bottom ${bottom.getAs[Double]("actual_uplift")}")
    // Qini at depth 10 = total incremental conversions (control scaled):
    // all conversions are treated responders, control arm converts zero
    val convTotal = out.map(_.getAs[Long]("conv_treat")).sum
    assert(convTotal > 300L) // ~half of the ~1000 responders are treated
    val qiniFinal = out.last.getAs[Double]("qini")
    assert(math.abs(qiniFinal - convTotal.toDouble) < 1e-9)
  }
}
