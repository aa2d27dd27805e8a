package graft.ml

import graft.util.VersionedDir
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.SparkSession

/** Versioned model registry: decouples training from scoring, the
  * reference's actual operating mode — models are saved under a version
  * and served via "latest" with hot reload (ref:
  * /root/reference/ml/models/fraud_detector.py save/load,
  * /root/reference/ml/serving/api.py:58,280).
  *
  * Layout and commit protocol are [[graft.util.VersionedDir]]'s
  * (`<root>/models/<name>/v=N`): monotonically increasing versions,
  * `latest` = max committed N, no version ever rewritten in place. Spark-ML
  * writers persist model metadata + tree/coefficient data as parquet, so
  * the registry works on any HDFS-compatible store — the same property
  * Delta-backed registries rely on. A saved model is a few KB–MB (ensemble
  * structure), never data-sized; "train nightly, score everywhere" ships
  * only this artifact.
  */
object ModelRegistry {

  private def dir(spark: SparkSession, root: String, name: String) =
    VersionedDir(spark, s"$root/models/$name")

  /** Persist `model` as the next version; returns the committed version.
    * The artifact becomes VISIBLE only once fully written (the
    * VersionedDir `_SUCCESS` rule), so a hot-reloading scorer can never
    * load a half-written artifact mid-save. */
  def save(spark: SparkSession, model: MLWritable, root: String,
           name: String): Long =
    saveArtifact(spark, root, name)(tmp => model.write.overwrite().save(tmp))

  /** Versioned publish of ANY artifact a callback can write to a path
    * (Spark-ML model, ANN codebooks, …), in the first free version after
    * the latest committed one: a slot a concurrent or crashed publisher
    * already holds is skipped, so version sequences may have holes. The
    * callback writes subdirectories of its path; the commit marker is
    * created after it returns. A failed callback leaves no version. */
  def saveArtifact(spark: SparkSession, root: String, name: String)
                  (write: String => Unit): Long =
    dir(spark, root, name).commitNext(write)

  /** All COMMITTED versions, ascending — an in-flight save or a crashed
    * half-publish never lists, so version sequences seen by readers may be
    * non-contiguous. */
  def committedVersions(spark: SparkSession, root: String,
                        name: String): Seq[Long] =
    dir(spark, root, name).committed

  def latestVersion(spark: SparkSession, root: String,
                    name: String): Option[Long] =
    committedVersions(spark, root, name).lastOption

  /** Committed artifact directory for `version` (default: latest). */
  def versionPath(spark: SparkSession, root: String, name: String,
                  version: Option[Long] = None): String = {
    val v = version.orElse(latestVersion(spark, root, name)).getOrElse(
      throw new IllegalStateException(s"no saved versions of '$name' under $root"))
    dir(spark, root, name).path(v).toString
  }

  /** Load a GBT model at `version` (default: latest) — the serving-side
    * `detector.load("latest")` analog. */
  def loadGbt(spark: SparkSession, root: String, name: String,
              version: Option[Long] = None): GBTClassificationModel =
    GBTClassificationModel.load(versionPath(spark, root, name, version))
}
