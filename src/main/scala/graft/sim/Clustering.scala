package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus clustering for curation — the cluster-map substrate that
  * cluster-balanced sampling, topic-mixture audits, and per-cluster dedup
  * budgets all stand on. (The reference repo has no clustering surface;
  * this extends the LLM-pipeline axis the same way the ANN pack does.)
  *
  * One seeded coarse KMeans (fit on the bounded hash-uniform sample via
  * Similarity.trainCoarse — never the corpus) partitions the normalized
  * embedding space into `nlist` cells. The fit is memoized by
  * util.FitMemo, so the IVF index over the same corpus shares it (zero
  * extra fits). On top:
  *
  *   - `profile` — per-cluster size, dispersion (mean/max squared L2 to
  *     the centroid on the unit sphere) and label mass: the topic-mixture
  *     audit a curation run reads before choosing sampling weights.
  *   - `balancedSample` — per-cell quota filled by seeded-hash priority:
  *     a deterministic uniform-within-cell, capped-per-cell diversity
  *     sample. A corpus whose head cluster holds 90% of rows contributes
  *     at most `quota` of them, so tail topics survive the cut — the
  *     cluster-balanced selection step of SemDeDup-style curation.
  *
  * Scale shape: the fit sees ≤ Similarity.trainCap rows regardless of
  * corpus size; assignment is ONE map-only corpus pass against broadcast
  * nlist×dim centroid literals (KMeansModel.transform); `profile` is one
  * partial-agged cell-grain exchange collapsing to ≤ nlist rows; the
  * sample rides ScalableRank.topKPerGroup (two bounded window passes, no
  * single-partition stage). Nothing driver-side scales with the corpus.
  *
  * Learned centroids are engine-local (Spark-ML KMeans) → rows-only for
  * the DuckDB gate; ClusteringSpec binds the invariants instead:
  * assignment-is-argmin, partition-of-the-corpus, per-cell quota
  * exactness, and repartition/rerun determinism.
  */
object Clustering {

  /** The fitted centroids as (cell, centroid) rows — nlist literal-sized
    * rows; exposed so ClusteringSpec can verify assignment-is-argmin
    * against ALL cells, not just the chosen one. */
  def centroids(embeddings: DataFrame, nlist: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = Similarity.withNormalized(embeddings)
    Similarity.trainCoarse(base, nlist)
      .clusterCenters.zipWithIndex.map { case (c, i) =>
        (i.toLong, c.toArray.toSeq)
      }.toSeq.toDF("c_cell", "centroid")
  }

  /** Per-row cell assignment: (vec_id, label, cell, dist2) where dist2 is
    * squared L2 from the L2-normalized vector to its cell centroid (the
    * dispersion measure `profile` aggregates). One corpus pass. */
  def assignments(embeddings: DataFrame, nlist: Int): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = Similarity.withNormalized(embeddings)
    val model = Similarity.trainCoarse(base, nlist)
    // centroids: nlist rows of dim doubles — literal-sized, broadcast
    val cells = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.toSeq)
    }.toSeq.toDF("c_cell", "centroid")
    model.transform(base.withColumn("fv", array_to_vector(col("nv"))))
      .select(col("vec_id"), col("label"), col("nv"),
        col("cell").cast("long").as("cell"))
      .join(broadcast(cells), col("cell") === col("c_cell"))
      .withColumn("dist2", Similarity.d2(col("nv"), col("centroid")))
      .select(col("vec_id"), col("label"), col("cell"), col("dist2"))
  }

  /** Topic-mixture audit: per-cluster size, dispersion, and positive-label
    * mass, one row per non-empty cell (≤ nlist rows total). */
  def profile(embeddings: DataFrame, nlist: Int): DataFrame =
    assignments(embeddings, nlist)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        avg(col("dist2")).as("mean_dist2"),
        max(col("dist2")).as("max_dist2"),
        sum(col("label").cast("long")).as("label_mass"))
      .orderBy(col("cell"))

  /** Embedding-distribution drift: the tabular drift panel
    * ([[graft.gold.Drift.binnedDrift]] — PSI / chi² / binned-KS) applied
    * to CLUSTER OCCUPANCY. Embeddings have no natural bins, so the
    * kmeans cell map provides them: if the current crawl's vectors land
    * in different cells than the reference slice's, the embedding
    * distribution has moved — the retrain/reindex tripwire for semantic
    * drift that per-column tabular drift cannot see. `inA` is the
    * reference-slice predicate over the assignment columns
    * (vec_id/label/cell); period B = ¬A. Cost: the assignment pass plus
    * a ≤ nlist-row drift rollup. */
  def embedDrift(embeddings: DataFrame, nlist: Int, inA: Column): DataFrame =
    graft.gold.Drift.binnedDrift(
      assignments(embeddings, nlist),
      col("cell"), col("cell"), inA, nlist)

  /** Cluster-balanced diversity sample: each cell contributes its
    * min(quota, |cell|) rows of smallest seeded-hash priority — uniform
    * within the cell, deterministic across runs and repartitions (priority
    * is a pure function of vec_id; ties cannot occur since vec_id is the
    * final tiebreak). Output: (cell, samp_rank, vec_id, label). */
  def balancedSample(embeddings: DataFrame, nlist: Int, quota: Int): DataFrame =
    graft.operators.ScalableRank.topKPerGroup(
        assignments(embeddings, nlist)
          .withColumn("pri", xxhash64(col("vec_id"))),
        Seq(col("cell")), Seq(col("pri").asc, col("vec_id").asc),
        quota, "samp_rank")
      .select(col("cell"), col("samp_rank"), col("vec_id"), col("label"))

  /** c-TF-IDF scoring (the class-based TF-IDF of BERTopic, Grootendorst
    * 2022): score(t, c) = tf(t, c) · ln(1 + A / f(t)) where tf is the
    * token's count inside the cluster, f its corpus count, and A the
    * average token mass per cluster. Corpus-common tokens (stopwords,
    * boilerplate) are discounted by the ln term without any stopword
    * list. Exposed separately from the cluster plumbing so the formula
    * is spec-testable on planted counts.
    *
    * Input: (cell, token, tf) counts. Output: top-k labels per cell by
    * (score desc, token asc) — a total order, so labeling is
    * deterministic. Scale: one token-grain exchange for corpus counts, a
    * 1-row broadcast for A (broadcast BACK into the projection — no
    * driver round-trip), and the two-phase ranked cut for the top-k. */
  def ctfidfLabels(cellTokenCounts: DataFrame, k: Int = 5): DataFrame = {
    val corpusF = cellTokenCounts.groupBy("token").agg(sum("tf").as("f"))
    val aAvg = cellTokenCounts.agg(
      (sum("tf").cast("double") / countDistinct("cell").cast("double"))
        .as("a_avg"))
    val scored = cellTokenCounts.join(corpusF, "token")
      .crossJoin(broadcast(aAvg))
      .withColumn("score", col("tf").cast("double") *
        log(lit(1.0) + col("a_avg") / col("f").cast("double")))
    graft.operators.ScalableRank.topKPerGroup(scored, Seq(col("cell")),
        Seq(col("score").desc, col("token").asc), k, "label_rank")
      .select(col("cell"), col("label_rank"), col("token"),
        col("tf").cast("long").as("tf"), col("f").cast("long").as("f"),
        col("score"))
  }

  /** Human-readable topic labels for every kmeans cell: join the cluster
    * map onto the document text (vec_id ≡ doc_id), count tokens at
    * (cell, token) grain — ONE exchange whose input is pre-collapsed by a
    * map-side partial agg — and pick each cell's top-k c-TF-IDF terms.
    * The label table is what a curation run reads next to `profile` to
    * decide which topics to up/down-weight. Rows-only (learned cells);
    * ClusteringSpec binds the formula, determinism, and that every label
    * actually occurs in its cell. */
  def clusterLabels(documents: DataFrame, embeddings: DataFrame,
                    nlist: Int, k: Int = 5): DataFrame = {
    val cells = assignments(embeddings, nlist)
      .select(col("vec_id"), col("cell"))
    val counts = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .join(cells, col("doc_id") === col("vec_id"))
      .groupBy("cell", "token").agg(count(lit(1)).as("tf"))
    ctfidfLabels(counts, k)
  }
}
