package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A materialized IVF-PQ index: the persistable artifact behind the
  * train-nightly / search-everywhere ANN loop (the vector-store analog of
  * the model registry's decoupled train/serve cycle — ref:
  * /root/reference/ml/serving/api.py:58,280 load-latest + hot reload).
  *
  * `centroids` (nlist×dim) and `codebooks` (subspaces×codebookSize×sub)
  * are a few KB of floats — never data-sized — so the artifact ships to
  * every executor inside the plan as literals, exactly like the
  * in-session fit. Search with a saved index costs ZERO training passes:
  * at 100 TB the quantizer fits happen once on the bounded sample and
  * every later query (or cluster) reuses the artifact.
  */
case class IvfPqIndex(
    nlist: Int, subspaces: Int, codebookSize: Int, dim: Int,
    centroids: IndexedSeq[Seq[Float]],
    codebooks: IndexedSeq[Seq[Seq[Float]]]) {
  require(centroids.size == nlist, s"expected $nlist centroids, got ${centroids.size}")
  require(codebooks.size == subspaces,
    s"expected $subspaces codebooks, got ${codebooks.size}")
  def sub: Int = dim / subspaces
}

object AnnIndex {
  import Similarity.{withNormalized, trainCoarse, trainCodebooks,
    encodeCodes, adcRerank, d2}

  /** Fit both quantizers on the bounded deterministic sample and
    * materialize them as plain float arrays (engine-portable — no Spark-ML
    * model object survives into the index). The seeded fits come from
    * util.FitMemo (Similarity.trainCoarse/.trainCodebooks), so building an
    * index over a corpus any ANN query already fitted costs zero extra
    * KMeans fits. */
  def train(embeddings: DataFrame, nlist: Int = 16, subspaces: Int = 8,
            codebookSize: Int = 16): IvfPqIndex = {
    val base = withNormalized(embeddings)
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val coarse = trainCoarse(base, nlist)
    val centroids = coarse.clusterCenters.toIndexedSeq
      .map(_.toArray.toSeq.map(_.toFloat))
    val codebooks = trainCodebooks(base, subspaces, dim / subspaces,
      codebookSize)
    IvfPqIndex(nlist, subspaces, codebookSize, dim, centroids, codebooks)
  }

  /** Nearest-centroid cell assignment from the index's literal centroids —
    * pure SQL argmin, so the SAME expression runs for an in-session index
    * and a reloaded one (float32 round-trips parquet exactly ⇒ reload
    * parity is structural, not approximate). */
  private def withCell(base: DataFrame, index: IvfPqIndex): DataFrame = {
    val cents = typedlit(index.centroids)
    val dists = transform(cents, c => d2(col("nv"), c))
    base.withColumn("cell", (array_position(dists, array_min(dists)) - 1L))
  }

  /** IVF-PQ search against a materialized index: coarse cells gate the
    * candidates (nprobe of nlist), PQ codes rank them, floats only for the
    * refine·k exact re-rank — identical plan shape to
    * Similarity.knnIvfPq, minus the training passes. */
  def search(embeddings: DataFrame, index: IvfPqIndex, numQueries: Int = 5,
             k: Int = 10, nprobe: Int = 8, refine: Int = 12): DataFrame =
    searchFrom(encodeWith(embeddings, index), index, numQueries, k, nprobe,
      refine)

  /** The shared search plan over an already-encoded corpus frame
    * (vec_id, label, embedding, nv, cell, codes) — the SAME expressions
    * run whether the frame was encoded in-session or read back from a
    * materialized store, so store-vs-live parity is structural. */
  private def searchFrom(encoded: DataFrame, index: IvfPqIndex,
                         numQueries: Int, k: Int, nprobe: Int,
                         refine: Int): DataFrame =
    searchWithQueries(encoded,
      index,
      encoded.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("nv").as("qnv")),
      k, nprobe, refine, excludeSelf = true)

  /** Queries frame (query_id, qv, qnv) from raw (idCol, embedding) rows —
    * the corpus-side normalization expressions verbatim, so a streamed
    * query vector scores bit-identically to the same vector indexed. */
  def queriesFrom(batch: DataFrame, idCol: String = "query_id"): DataFrame =
    withNormalized(batch.select(col(idCol).as("vec_id"), lit(0).as("label"),
        col("embedding")))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nv").as("qnv"))

  /** IVF-PQ search of an EXPLICIT query set against an encoded corpus:
    * probes from the literal centroids, ADC over codes, floats only for
    * the refine·k re-rank. `excludeSelf=false` for external queries
    * (e.g. a micro-batch stream) whose ids live in a different space
    * than the corpus vec_ids. */
  def searchWithQueries(encoded: DataFrame, index: IvfPqIndex,
                        queries: DataFrame, k: Int = 10, nprobe: Int = 8,
                        refine: Int = 12,
                        excludeSelf: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(encoded.sparkSession)
    val spark = encoded.sparkSession
    import spark.implicits._
    val cells = index.centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("c_cell", "centroid")
    val probes = graft.operators.ScalableRank.topKPerGroup(
        queries.crossJoin(broadcast(cells))
          .withColumn("dist2", d2(col("qnv"), col("centroid"))),
        Seq(col("query_id")), Seq(col("dist2").asc, col("c_cell").asc),
        nprobe, "probe_rank")
      .select(col("query_id").as("p_qid"), col("c_cell"))
    val cond = col("cell") === col("c_cell") &&
      (if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
    adcRerank(
      encoded.join(
        broadcast(probes.join(queries, col("p_qid") === col("query_id"))),
        cond),
      index.codebooks, index.subspaces, index.sub, k, refine)
  }

  // ---- materialized encoded corpus (posting lists) ----------------------
  // The quantizer artifact above is KBs; the ENCODED CORPUS (cell + PQ
  // codes per vector) is the data-sized half of a production IVF-PQ
  // index. Materializing it cell-partitioned turns search into a scan of
  // the probed cells' files only (partition pruning on `cell`), and —
  // the operating mode that matters at 100 TB — lets continuously
  // arriving vectors be ENCODED AND APPENDED with the frozen codebooks,
  // no retraining and no re-encode of the existing corpus: the ANN
  // analog of the CDC→gold incremental loop (nightly train, continuous
  // ingest; ref ml/serving/api.py:280 hot reload).

  /** Encode a corpus with a FROZEN index: normalize → nearest-centroid
    * cell → PQ codes. One full pass over `embeddings`, zero training. */
  def encodeWith(embeddings: DataFrame, index: IvfPqIndex): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val celled = withCell(withNormalized(embeddings), index)
    encodeCodes(celled, index.codebooks, index.subspaces, index.sub)
      .select("vec_id", "label", "embedding", "nv", "cell", "codes")
  }

  /** Materialize the encoded corpus cell-partitioned (posting lists). */
  def buildEncoded(embeddings: DataFrame, index: IvfPqIndex,
                   path: String): Unit =
    encodeWith(embeddings, index).write.partitionBy("cell")
      .mode("overwrite").parquet(path)

  /** Incremental maintenance: encode ONLY the delta with the existing
    * codebooks and append at cell grain. Cost is one pass over the delta
    * — the base corpus is never touched. */
  def appendEncoded(delta: DataFrame, index: IvfPqIndex, path: String): Unit =
    encodeWith(delta, index).write.partitionBy("cell")
      .mode("append").parquet(path)

  /** Search a materialized encoded store: same plan as [[search]], but
    * the corpus comes from the cell-partitioned parquet — candidates
    * read codes-only columns from the probed cells (column pruning does
    * the PQ memory win; the partition layout bounds the file set). */
  def searchEncoded(spark: SparkSession, path: String, index: IvfPqIndex,
                    numQueries: Int = 5, k: Int = 10, nprobe: Int = 8,
                    refine: Int = 12): DataFrame =
    searchFrom(
      spark.read.parquet(path).withColumn("cell", col("cell").cast("long")),
      index, numQueries, k, nprobe, refine)

  // ---- registry persistence ---------------------------------------------
  // One tiny parquet per version: rows (kind, i, j, vec). float32 columns
  // round-trip bit-exactly, so load(save(x)) == x.
  //   kind="meta"     i=j=0      vec=[nlist, subspaces, codebookSize, dim]
  //   kind="centroid" i=cell     vec=centroid
  //   kind="codebook" i=subspace j=code  vec=codeword

  private def writeIndex(spark: SparkSession, index: IvfPqIndex,
                         dir: String): Unit = {
    import spark.implicits._
    val meta = Seq(("meta", 0, 0, Seq(index.nlist, index.subspaces,
      index.codebookSize, index.dim).map(_.toFloat)))
    val cents = index.centroids.zipWithIndex.map { case (c, i) =>
      ("centroid", i, 0, c) }
    val cbs = for {
      (cb, m) <- index.codebooks.zipWithIndex
      (w, j) <- cb.zipWithIndex
    } yield ("codebook", m, j, w)
    (meta ++ cents ++ cbs).toDF("kind", "i", "j", "vec")
      .coalesce(1).write.parquet(s"$dir/index")
  }

  def save(spark: SparkSession, index: IvfPqIndex, root: String,
           name: String): Long =
    graft.ml.ModelRegistry.saveArtifact(spark, root, name) { tmp =>
      writeIndex(spark, index, tmp)
    }

  /** One registry version carrying BOTH halves of the index: the
    * quantizer artifact (KBs) and the encoded corpus it serves
    * (cell-partitioned posting lists) — what a nightly build job
    * publishes so that serving (e.g. [[graft.streaming.StreamScoring
    * .HotIndexScorer]]) hot-swaps atomically to a consistent
    * (codebooks, corpus) pair with zero encode work at search time. */
  def saveWithCorpus(spark: SparkSession, index: IvfPqIndex,
                     embeddings: DataFrame, root: String,
                     name: String): Long =
    graft.ml.ModelRegistry.saveArtifact(spark, root, name) { tmp =>
      writeIndex(spark, index, tmp)
      encodeWith(embeddings, index).write.partitionBy("cell")
        .mode("overwrite").parquet(s"$tmp/corpus")
    }

  /** The encoded-corpus path of a registry version (pair of
    * [[saveWithCorpus]]). */
  def corpusPath(spark: SparkSession, root: String, name: String,
                 version: Option[Long] = None): String =
    s"${graft.ml.ModelRegistry.versionPath(spark, root, name, version)}/corpus"

  def load(spark: SparkSession, root: String, name: String,
           version: Option[Long] = None): IvfPqIndex = {
    val path = graft.ml.ModelRegistry.versionPath(spark, root, name, version)
    val rows = spark.read.parquet(s"$path/index")
      .select("kind", "i", "j", "vec")
      .collect() // index artifact: nlist + subspaces×codebookSize + 1 rows
    val meta = rows.find(_.getString(0) == "meta")
      .getOrElse(throw new IllegalStateException(s"no meta row in $path"))
      .getSeq[Float](3)
    require(meta.size == 4, s"malformed meta row (${meta.size} params) in $path")
    val (nlist, subspaces, codebookSize, dim) =
      (meta(0).toInt, meta(1).toInt, meta(2).toInt, meta(3).toInt)
    def vecOf(r: org.apache.spark.sql.Row): Seq[Float] = r.getSeq[Float](3)
    val centroids = rows.filter(_.getString(0) == "centroid")
      .sortBy(_.getInt(1)).map(vecOf).toIndexedSeq
    val codebooks = (0 until subspaces).map { m =>
      rows.filter(r => r.getString(0) == "codebook" && r.getInt(1) == m)
        .sortBy(_.getInt(2)).map(vecOf).toSeq
    }
    IvfPqIndex(nlist, subspaces, codebookSize, dim, centroids, codebooks)
  }

  /** Train → save → reload-latest → search with the RELOADED index, plus a
    * parity audit against the in-session fit: `reload_mismatches` counts
    * (query_id, rank) slots where the reloaded index returned a different
    * neighbor or a non-bit-identical score — must be 0, or the registry
    * round trip corrupted the codebooks. Rows-only for the oracle
    * (seeded KMeans is engine-local); AnnIndexSpec asserts the zero. */
  def reloadParity(embeddings: DataFrame, root: String): DataFrame = {
    val spark = embeddings.sparkSession
    val live = train(embeddings)
    val version = save(spark, live, root, "ivfpq")
    val reloaded = load(spark, root, "ivfpq")
    val liveRes = search(embeddings, live)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("live_vec"), col("cos_sim").as("live_sim"))
    val relRes = search(embeddings, reloaded)
    val mismatches = slotMismatches(liveRes, relRes)
    relRes.withColumn("index_version", lit(version))
      .withColumn("reload_mismatches", lit(mismatches))
  }

  /** Slot-grain parity count between a live search (columns query_id,
    * rank, live_vec, live_sim) and a reloaded search (query_id, rank,
    * vec_id, cos_sim). FULL OUTER on the (query_id, rank) slot grain: a
    * neighbor present on only one side is a mismatch too — an inner join
    * would let a reloaded index that silently returns FEWER rows still
    * report 0 mismatches (AnnIndexSpec pins the truncated case). */
  private[graft] def slotMismatches(liveRes: DataFrame, relRes: DataFrame): Long =
    relRes
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"))
      .join(liveRes, Seq("query_id", "rank"), "full_outer")
      .filter(col("vec_id").isNull || col("live_vec").isNull ||
        col("vec_id") =!= col("live_vec") ||
        col("cos_sim") =!= col("live_sim")).count()
}
