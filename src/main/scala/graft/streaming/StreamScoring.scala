package graft.streaming

import graft.ml.{ModelRegistry, TrainedModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real-time model scoring with hot reload — the reference's serving loop
  * (ml/serving/api.py: score each incoming transaction with the current
  * model, `/model/reload` swaps to the latest version without downtime)
  * re-expressed as Structured Streaming: a stream of feature rows is
  * scored in foreachBatch, and every micro-batch re-resolves the
  * registry's `latest` version, so a model trained and saved mid-stream
  * is picked up on the next batch with zero query restart.
  *
  * Scale shape: the version probe is one driver-side directory listing
  * per micro-batch (file metadata, no data pass); the model artifact
  * (tree structure, KB–MB) reloads ONLY when the version actually
  * changed, then broadcasts to executors inside transform — the same
  * cost profile as any GBT batch scoring. Feature assembly is a pure
  * per-row projection (VectorAssembler), so the streaming plan stays
  * stateless end-to-end: no watermark, no state store, latency = batch
  * trigger + one tree ensemble evaluation per row.
  */
object StreamScoring {

  /** Assemble the 25 raw feature columns into the model's input vector —
    * a stateless projection, legal in a streaming plan. */
  def assembleFeatures(featureRows: DataFrame): DataFrame =
    new VectorAssembler()
      .setInputCols(TrainedModel.FeatureCols.toArray).setOutputCol("fv")
      .transform(featureRows)

  /** The artifact of a registry name's `latest` version, loaded again
    * only when `latest` moved — the version cache every hot scorer shares.
    * Driver-held, one instance per scorer. */
  private[streaming] final class LatestVersion[A](registryRoot: String, name: String,
                                                  load: (SparkSession, Long) => A) {
    @volatile private var cached: Option[(Long, A)] = None

    def loadedVersion: Option[Long] = cached.map(_._1)
    def clear(): Unit = cached = None

    /** The latest committed version and its artifact; None when the
      * registry has no committed version. */
    def latest(spark: SparkSession): Option[(Long, A)] =
      ModelRegistry.latestVersion(spark, registryRoot, name).map { v =>
        cached match {
          case Some((have, a)) if have == v => (v, a)
          case _ =>
            val a = load(spark, v)
            cached = Some((v, a))
            (v, a)
        }
      }
  }

  /** Per-batch scorer holding the current model; reloads from the
    * registry only when `latest` moved. Driver-held (foreachBatch runs on
    * the driver), so one instance serves the whole query lifetime. */
  final class HotModelScorer(registryRoot: String, name: String) {
    private val models = new LatestVersion(registryRoot, name,
      (spark, v) => ModelRegistry.loadGbt(spark, registryRoot, name, Some(v)))

    /** The version currently loaded (None before the first batch). */
    def loadedVersion: Option[Long] = models.loadedVersion

    /** Score one micro-batch with the registry's current latest model;
      * output rows carry the version that scored them (the reference's
      * serving response includes model_version for exactly this
      * lineage). */
    def scoreBatch(batch: DataFrame): DataFrame = {
      val (v, model) = models.latest(batch.sparkSession).getOrElse(
        throw new IllegalStateException(
          s"no model '$name' in registry $registryRoot — train before serving"))
      model.transform(batch)
        .withColumn("predicted_fraud", col("prediction").cast("long"))
        .withColumn("fraud_probability",
          org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1))
        .withColumn("model_version", lit(v))
        .drop("fv", "rawPrediction", "probability", "prediction")
    }
  }

  /** Per-batch ANN scorer: the nearest-neighbor twin of [[HotModelScorer]].
    * Each micro-batch of query vectors (query_id, embedding) re-resolves
    * the registry's `latest` version of an IvfPqIndex published with
    * [[graft.sim.AnnIndex.saveWithCorpus]]; the quantizer artifact (KBs)
    * reloads only when the version moved, and the encoded corpus is read
    * from that version's cell-partitioned store — zero training and zero
    * encode passes at serve time, and an index+corpus pair that swaps
    * ATOMICALLY (both halves come from the same registry version, so a
    * mid-stream publish can never mix old codebooks with new postings).
    * Output rows carry index_version for lineage, like the model scorer. */
  final class HotIndexScorer(registryRoot: String, name: String,
                             k: Int = 10, nprobe: Int = 8, refine: Int = 12) {
    import graft.sim.AnnIndex
    private val indexes = new LatestVersion(registryRoot, name,
      (spark, v) => AnnIndex.load(spark, registryRoot, name, Some(v)))

    /** The version currently loaded (None before the first batch). */
    def loadedVersion: Option[Long] = indexes.loadedVersion

    def scoreBatch(batch: DataFrame): DataFrame = {
      val spark = batch.sparkSession
      val (v, index) = indexes.latest(spark).getOrElse(
        throw new IllegalStateException(
          s"no index '$name' in registry $registryRoot — build before serving"))
      val encoded = spark.read
        .parquet(AnnIndex.corpusPath(spark, registryRoot, name, Some(v)))
        .withColumn("cell", col("cell").cast("long"))
      AnnIndex.searchWithQueries(encoded, index, AnnIndex.queriesFrom(batch),
          k, nprobe, refine, excludeSelf = false)
        .withColumn("index_version", lit(v))
    }
  }
}
