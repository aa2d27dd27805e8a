package graft.ml

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.text.QualityRules
import graft.util.{CacheRegistry, Partitioning}

/** Learned document-quality classifier, the fastText/CCNet shape every
  * production LLM-curation pipeline runs after the rule-based filters:
  * hashed n-gram bag-of-words features, a linear model trained against
  * weak supervision (here the Gopher rule verdict — in production, a
  * "known-good corpus vs crawl" label), and a calibrated keep-probability
  * per document that replaces the hard rule cut with a tunable threshold.
  *
  * Scale shape — every stage is the standard distributed ML pattern:
  *  - feature extraction is map-only (tokenize → hashing trick, murmur3
  *    mod `dim`, no vocabulary state at all — the reason fastText-style
  *    filters scale to crawls: a 100 TB corpus needs zero coordination
  *    to featurize);
  *  - the weak labeler is the existing row-local Gopher projection;
  *  - training is Spark-ML LogisticRegression: L-BFGS over treeAggregate
  *    passes on the train split only;
  *  - scoring is a map-only pass with the (dim-sized, broadcast) weight
  *    vector.
  *
  * Determinism: the split is the md5 hashSplit, the hashing trick is
  * seedless murmur3, and L-BFGS over a fixed partitioning is
  * reproducible — but the learned weights are engine-local, so the query
  * is rows-only (SURVEY §4); MlSpec binds held-out ROC-AUC against the
  * weak labels, determinism of the scores, and the structural columns.
  *
  * Reference scope: the reference's ML surface is fraud scoring
  * (ml/models/train.py); the quality classifier is the LLM-pipeline
  * extension analog — same train → evaluate → score loop over text
  * features instead of transaction features.
  */
object QualityClassifier {

  /** Hashed unigram+bigram term-frequency features (the hashing trick):
    * no vocabulary, no fit, map-only. */
  def hashedFeatures(documents: DataFrame, dim: Int = 4096): DataFrame = {
    require(dim > 0)
    val terms = documents
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w <> '')").as("_uni"))
      .withColumn("_bi", expr(
        "transform(slice(_uni, 1, greatest(size(_uni) - 1, 0)), " +
          "(w, i) -> concat(w, '_', _uni[i + 1]))"))
      .select(col("doc_id"), concat(col("_uni"), col("_bi")).as("terms"))
    new HashingTF().setInputCol("terms").setOutputCol("fv")
      .setNumFeatures(dim)
      .transform(terms)
      .select("doc_id", "fv")
  }

  /** Train on the hash-stable 80/20 split against the Gopher weak label,
    * score EVERY document. Output grain: one row per doc —
    * (doc_id, label, is_test, quality_score). The featurized split is
    * held until the next call (the returned predictions are lazy — same
    * contract as [[TrainedModel.assembleSplit]]). */
  def trainScore(documents: DataFrame, dim: Int = 4096): DataFrame = {
    CacheRegistry.release(QualityClassifier)
    val labels = QualityRules.gopherQuality(documents)
      .select(col("doc_id"), col("passes_gopher").cast("double").as("label"))
    val data = Partitioning.persistForIteration(QualityClassifier,
      Sampling.hashSplit(
          hashedFeatures(documents, dim).join(labels, "doc_id"),
          col("doc_id"), trainBp = 8000, valBp = 0)
        .withColumn("is_test", col("split") === "test")
        .select("doc_id", "fv", "label", "is_test"))
    val model = new LogisticRegression()
      .setFeaturesCol("fv").setLabelCol("label")
      .setMaxIter(100).setRegParam(1e-3).setStandardization(false)
      .fit(data.filter(!col("is_test")))
    model.transform(data)
      .withColumn("quality_score",
        org.apache.spark.ml.functions.vector_to_array(col("probability"))
          .getItem(1).cast("double"))
      .select(col("doc_id"), col("label").cast("long").as("label"),
        col("is_test"), col("quality_score"))
  }
}
