package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA dimensionality reduction for the embedding corpus — the FAISS-style
  * preprocessing stage (PCAR): project unit vectors into the top-k
  * principal subspace so downstream candidate generation pays k-dim
  * arithmetic instead of d-dim, with an exact full-dimension re-rank
  * restoring correctness on the shortlist.
  *
  * Fit runs on the bounded deterministic sample (Similarity.trainCap —
  * same contract as every quantizer: the corpus never feeds a fit, only
  * the projection pass scans it). The distributed piece of the fit is the
  * sample covariance (Spark ML PCA → RowMatrix Gramian, d×d ≪ data);
  * the eigendecomposition is driver-side on that d×d matrix. The learned
  * model is a (mean, k×d components, explained variance) bundle of a few
  * KB, broadcast into column expressions for the projection — the
  * projection itself is a row-local sequential fold per output dim
  * (deterministic, codegen'd HOFs, no shuffle, no UDF).
  *
  * Spark ML's PCAModel.transform multiplies the RAW vector by the
  * components (it never subtracts the mean although the covariance it
  * diagonalized was centered); projection here centers properly, folded
  * into a driver-side constant: proj_i = ⟨x, pc_i⟩ − ⟨mean, pc_i⟩.
  */
object Pca {

  /** Learned PCA bundle: `components` is k rows × d cols, orthonormal;
    * `explained` is the per-component explained-variance fraction,
    * non-increasing. */
  final case class PcaModel(mean: IndexedSeq[Double],
                            components: IndexedSeq[IndexedSeq[Double]],
                            explained: IndexedSeq[Double])

  /** Fit on the bounded sample. Memoized through util.FitMemo: the same
    * corpus and `k` cost one fit per process (q_knn_pca and the pca arm of
    * q_knn_recall_all share it), and a subset or rewritten corpus refits. */
  def fit(embeddings: DataFrame, k: Int): PcaModel =
    graft.util.FitMemo("pca", embeddings, k) {
      import org.apache.spark.ml.functions.array_to_vector
      val base = Similarity.withNormalized(embeddings)
      val sample = Similarity.boundedTrainSample(base)
        .select(array_to_vector(col("nv")).as("fv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // ≤ trainCap rows
      try {
        val mean = sample
          .select(org.apache.spark.ml.stat.Summarizer.mean(col("fv")).as("m"))
          .head().getAs[org.apache.spark.ml.linalg.Vector]("m")
        val model = new org.apache.spark.ml.feature.PCA()
          .setK(k).setInputCol("fv").setOutputCol("pv").fit(sample)
        val pc = model.pc // d rows × k cols
        val comps = (0 until k).map(i =>
          (0 until pc.numRows).map(j => pc(j, i)).toIndexedSeq)
        PcaModel(mean.toArray.toIndexedSeq, comps,
          model.explainedVariance.toArray.toIndexedSeq)
      } finally sample.unpersist(blocking = false)
    }

  /** Adds `pv` (k-dim centered projection of the `nv` column) as pure
    * column expressions: per output dim one sequential zip-fold dot plus a
    * constant offset — row-local, deterministic, no shuffle. */
  def project(withNv: DataFrame, model: PcaModel): DataFrame = {
    val offsets = model.components.map(row =>
      row.iterator.zip(model.mean.iterator).map { case (p, m) => p * m }.sum)
    val projCols: Seq[Column] = model.components.zipWithIndex.map { case (row, i) =>
      aggregate(
        zip_with(col("nv"), typedlit(row), (x, p) => x * p),
        lit(0.0), (acc, x) => acc + x) - lit(offsets(i))
    }
    withNv.withColumn("pv", array(projCols: _*))
  }

  /** Per-vector reduced representation + captured energy: since the
    * components are orthonormal and `nv` is unit-norm, |pv|² / |nv − mean|²
    * is the fraction of this vector's (centered) energy the subspace
    * retains. */
  def embedPca(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val model = fit(embeddings, k)
    val base = Similarity.withNormalized(embeddings)
    val meanLit = typedlit(model.mean)
    project(base, model)
      .withColumn("centered_energy",
        aggregate(zip_with(col("nv"), meanLit, (x, m) => (x - m) * (x - m)),
          lit(0.0), (acc, x) => acc + x))
      .withColumn("projected_energy",
        aggregate(col("pv"), lit(0.0), (acc, x) => acc + x * x))
      .withColumn("energy_captured",
        col("projected_energy") / col("centered_energy"))
      .select("vec_id", "label", "pv", "projected_energy", "centered_energy",
        "energy_captured")
  }

  /** ANN via PCA prefilter: shortlist by squared L2 in the k-dim subspace
    * (for unit vectors, pca-space d² tracks full-space d² = 2 − 2·cos),
    * then exact full-dimension cosine re-rank of refine·k candidates —
    * FAISS "PCAR,Flat". Queries broadcast; the corpus is scanned once with
    * row-local k-dim arithmetic; both rank cuts are the balanced two-phase
    * grouped top-k. */
  def knnPca(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
             pdim: Int = 16, refine: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val model = fit(embeddings, pdim)
    val corpus = project(Similarity.withNormalized(embeddings), model)
      .withColumn("nrm", sqrt(Similarity.fastDot("embedding", "embedding")))
    val queries = corpus.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("pv").as("qpv"), col("nrm").as("q_nrm"))
    val cand = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("approx_d2", Similarity.d2(col("pv"), col("qpv")))
    val shortlist = graft.operators.ScalableRank.topKPerGroup(
      cand, Seq(col("query_id")),
      Seq(col("approx_d2").asc, col("vec_id").asc), refine * k, "cand_rank")
    val exact = shortlist.withColumn("cos_sim",
      Similarity.fastDot("qv", "embedding") / (col("q_nrm") * col("nrm")))
    graft.operators.ScalableRank.topKPerGroup(exact, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("vec_id").asc), k, "rank")
      .select("query_id", "rank", "vec_id", "label", "cos_sim")
  }
}
