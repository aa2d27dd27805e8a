package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (Array[Float] column).
  *
  * Brute-force cosine top-k is the correctness baseline: broadcast the
  * (tiny) query set against the corpus — a map-side nested loop, no
  * shuffle of the corpus. The scale path is sign-LSH bucketing (an
  * IVF-style coarse quantizer): corpus and queries hash to a bucket key
  * and only same-bucket candidates are scored — candidate count drops
  * ~2^bits-fold for random vectors.
  *
  * Dot products run in double via sequential fold (aggregate over
  * zip_with) — element order is fixed, so results are deterministic and
  * engine-portable (float-accumulated built-ins are not).
  */
object Similarity {

  /** Deterministic double dot product via built-in HOFs — the composable
    * baseline (and the semantics contract for FloatVecDot). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd dot (graft.functions.FloatVecDot) — bit-identical to
    * `dot`, allocation-free in the pair loop. Callers must have invoked
    * GraftFunctions.register on the session. */
  private[sim] def fastDot(a: String, b: String): Column = expr(s"vec_dot($a, $b)")

  /** Per-query exact top-k via the two-phase ranked cut (never a
    * one-partition-per-query window: a query's candidate set spans the
    * corpus, so per-query partitions are unbounded at scale). */
  private[sim] def topK(scored: DataFrame, k: Int): DataFrame =
    graft.operators.ScalableRank.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos_sim").desc, col("vec_id").asc), k, "rank")

  /** Brute-force cosine top-k for queries (vec_id < numQueries).
    * Norms are projected once per vector BEFORE the pair join — at n
    * queries × m corpus pairs that saves (n·m − n − m) norm computations
    * (the dominant cost of naive cosine at scale). */
  def knnBrute(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10): DataFrame =
    topK(bruteScoredPairs(embeddings, numQueries), k)
      .select("query_id", "rank", "vec_id", "label", "cos_sim")

  /** Hard-negative mining for retrieval/embedding training: per query, the
    * top-k most-similar corpus vectors AFTER excluding near-duplicates
    * (cos >= dupThreshold) — the highest-scoring wrong answers, which is
    * what contrastive training wants as negatives (near-dups would be
    * false negatives and poison the loss). Same scan shape as knnBrute
    * (broadcast queries, one corpus pass, two-phase ranked cut); the dup
    * exclusion is a row-local filter pushed before the cut. */
  def hardNegatives(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
                    dupThreshold: Double = 0.95): DataFrame =
    topK(bruteScoredPairs(embeddings, numQueries)
        .filter(col("cos_sim") < lit(dupThreshold)), k)
      .select(col("query_id"), col("rank").as("neg_rank"), col("vec_id"),
        col("label"), col("cos_sim"))

  /** Shared exact-cosine scoring pass: norms projected once per vector
    * BEFORE the broadcast non-equi pair join (at n queries × m corpus
    * pairs that saves (n·m − n − m) norm computations — the dominant cost
    * of naive cosine at scale). One corpus scan; the query side is a
    * broadcast. */
  private def bruteScoredPairs(embeddings: DataFrame, numQueries: Int): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val corpus = embeddings
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", sqrt(fastDot("embedding", "embedding")))
    val queries = corpus.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("q_nrm"))
    corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", fastDot("qv", "embedding") / (col("q_nrm") * col("nrm")))
  }

  /** Matryoshka truncated-dimension recall: recall@k of brute-force
    * search over only the LEADING d dimensions vs the full-dimension
    * golden top-k, for a ladder of d — the eval behind MRL-style
    * embedding truncation (Kusupati et al. 2022): how many dims can
    * serving drop before recall pays? The full-width rung (d = native
    * dim) is a built-in self-check: its recall is exactly 1.
    *
    * Scale shape: one truncated knnBrute per rung — same broadcast-query
    * one-corpus-pass shape, on arrays sliced BEFORE the norms, so each
    * rung costs d/D of the full-dim pass; hits are an inner join of two
    * ≤ n·k row frames. Exact integer hits, one IEEE division per rung. */
  def truncDimRecall(embeddings: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 64),
                     numQueries: Int = 5, k: Int = 10): DataFrame = {
    val golden = knnBrute(embeddings, numQueries, k).select("query_id", "vec_id")
    dims.map { d =>
      val trunc = embeddings.select(col("vec_id"), col("label"),
        slice(col("embedding"), 1, d).as("embedding"))
      knnBrute(trunc, numQueries, k).select("query_id", "vec_id")
        .join(golden, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(d.toLong).as("dim"),
          lit(numQueries.toLong).as("n_queries"), lit(k.toLong).as("k"),
          col("hits"),
          (col("hits").cast("double") / lit((numQueries * k).toDouble))
            .as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Sign-LSH bucket key: one bit per leading dimension. */
  def bucketKey(v: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      when(element_at(v, i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def corpusWithBucket(embeddings: DataFrame, bits: Int): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .select(col("vec_id"), col("label"), col("embedding"),
        bucketKey(col("embedding"), bits).as("bucket"))
      .withColumn("nrm", sqrt(fastDot("embedding", "embedding")))
  }

  private def queriesOf(corpus: DataFrame, numQueries: Int): DataFrame =
    corpus.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("bucket").as("q_bucket"), col("nrm").as("q_nrm"))

  /** Bucketed ANN: score only same-bucket candidates (scale path). */
  def knnBucketed(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
                  bits: Int = 8): DataFrame = {
    val corpus = corpusWithBucket(embeddings, bits)
    val scored = corpus
      .join(broadcast(queriesOf(corpus, numQueries)),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", fastDot("qv", "embedding") / (col("q_nrm") * col("nrm")))
    topK(scored, k).select("query_id", "rank", "vec_id", "label", "cos_sim", "bucket")
  }

  /** Multi-probe bucketed ANN: candidates are all vectors whose bucket is
    * within Hamming distance `probes` of the query's bucket — the standard
    * recall lever for sign-LSH (a near-neighbor differing on one borderline
    * sign lands one bit away). Candidate count grows ~(1 + bits·probes)×
    * the single-bucket path, still ~2^bits-fold below brute force. The
    * queries stay broadcast, so the non-equi bucket predicate evaluates
    * map-side over the streamed corpus — no shuffle of the corpus. */
  def knnMultiProbe(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
                    bits: Int = 8, probes: Int = 1): DataFrame = {
    val corpus = corpusWithBucket(embeddings, bits)
    val scored = corpus
      .join(broadcast(queriesOf(corpus, numQueries)),
        expr(s"bit_count(bucket ^ q_bucket) <= $probes") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", fastDot("qv", "embedding") / (col("q_nrm") * col("nrm")))
    topK(scored, k).select("query_id", "rank", "vec_id", "label", "cos_sim", "bucket")
  }

  /** IVF ANN: a trained coarse quantizer (Spark-ML KMeans, fixed seed,
    * fit on the bounded sample — never the full corpus) replaces the
    * data-oblivious sign-LSH bucket. Corpus rows are assigned to their
    * nearest centroid once; each query probes its `nprobe` nearest cells,
    * so the candidate set is ~nprobe/nlist of the corpus — the
    * recall/cost dial real vector stores use (FAISS IVF). Centroids are a
    * driver-side nlist×dim array after fit (tiny), shipped back as a
    * broadcast-joined cells table; the corpus is scanned once for
    * assignment and once for scoring. Learned centroids are not
    * cross-engine reproducible → rows-only for the oracle; recall@k vs
    * brute is the test contract. */
  def knnIvf(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
             nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val spark = embeddings.sparkSession
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val base = withNormalized(embeddings)
    // coarse quantizer from the bounded sample; assignment is the ONLY
    // full-corpus pass before scoring
    val model = trainCoarse(base, nlist)
    val corpus = model.transform(base.withColumn("fv", array_to_vector(col("nv"))))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("cell").cast("long").as("cell"))
      .withColumn("nrm", sqrt(fastDot("embedding", "embedding")))
    // centroids: nlist rows — a literal-backed DataFrame, broadcast below
    val cells = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.map(_.toFloat))
    }.toSeq.toDF("c_cell", "centroid")
    // each query's nprobe nearest cells (|queries|×nlist tiny cross join)
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nv").as("qnv"))
      .withColumn("q_nrm", sqrt(fastDot("qv", "qv")))
    val probes = graft.operators.ScalableRank.topKPerGroup(
        queries.crossJoin(broadcast(cells))
          .withColumn("dist2", d2(col("qnv"), col("centroid"))),
        Seq(col("query_id")), Seq(col("dist2").asc, col("c_cell").asc),
        nprobe, "probe_rank")
      .select(col("query_id").as("p_qid"), col("c_cell"))
    val scored = corpus
      .join(broadcast(probes.join(queries.drop("qnv"), col("p_qid") === col("query_id"))),
        col("cell") === col("c_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", fastDot("qv", "embedding") / (col("q_nrm") * col("nrm")))
    topK(scored, k).select("query_id", "rank", "vec_id", "label", "cos_sim", "cell")
  }

  /** Product-quantized ANN with asymmetric-distance scan + exact re-rank
    * (FAISS PQ/ADC): per-subspace codebooks compress each vector to
    * `subspaces` small codes, the scan ranks candidates from the CODES
    * alone (query-side distances to the codebook, summed by lookup), and
    * only the refine·k shortlist touches raw vectors for the true cosine.
    *
    * This is the memory axis of ANN at 100 TB: raw float vectors are
    * dim×4 bytes/row; codes are `subspaces` bytes. A PQ-encoded corpus
    * column prunes the scan to ~1/32 of the bytes (here both columns ride
    * the same row — the compression is architectural, exercised by
    * column-pruning the scan to `codes`). Codebooks are
    * subspaces×codebookSize×(dim/subspaces) floats — literal-sized,
    * shipped inside the plan like the IVF centroids.
    *
    * Seeded per-subspace KMeans → deterministic within an engine, not
    * across engines → rows-only gate; FunctionsSpec asserts recall
    * against the brute-force golden top-k. */
  // ---- PQ building blocks (shared by knnPq and knnIvfPq) ----------------

  /** cosine metric ⇒ L2-normalize BEFORE quantizing: on the unit sphere
    * L2 ordering equals cosine ordering, so ADC ranks by the target
    * metric (unnormalized PQ ranks by magnitude too — recall drops). */
  private[sim] def withNormalized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nv", transform(col("embedding"),
        x => x.cast("double") / sqrt(dot(col("embedding"), col("embedding")))))

  private[sim] def sliceM(c: Column, sub: Int, m: Int): Column =
    slice(c, m * sub + 1, sub)

  /** squared L2 in double via sequential fold (deterministic, like `dot`) */
  private[sim] def d2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** Max rows any quantizer trains on — the FAISS norm: coarse centroids
    * and codebooks need ~thousands of vectors regardless of corpus size. */
  private[graft] val trainCap = 2000

  /** Bounded deterministic training sample with NO pre-count and no
    * full-corpus persist: `xxhash64(vec_id)` is a pseudo-random PRIORITY,
    * and ordering by it under a LIMIT plans as TakeOrderedAndProject —
    * each scan task keeps a trainCap-sized heap and the driver merges
    * tasks×trainCap rows, so the sample is hash-uniform over the WHOLE
    * corpus (a bare LIMIT would take a prefix of the first files — exactly
    * the time-/label-clustered slice a lakehouse layout puts first), at
    * the cost of one cheap full scan. Seedless hash keeps it deterministic
    * across calls, so coarse and codebook fits share the same rows. */
  private[graft] def boundedTrainSample(base: DataFrame): DataFrame =
    base.orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc).limit(trainCap)

  // ---- shared quantizer fits -------------------------------------------
  // q_knn_ivf / q_knn_pq / q_knn_ivfpq / q_knn_recall_all /
  // q_semantic_dedup / the cluster map / the ANN index all train the
  // IDENTICAL seeded quantizers on the identical bounded sample, so both
  // fits go through util.FitMemo, keyed by the normalized input's
  // canonical plan and files: the same corpus costs one coarse and one
  // codebook fit per process, and a subset or rewritten corpus refits.

  /** Coarse-quantizer KMeans (seeded) fit on the bounded sample; the only
    * full-corpus pass a caller then makes is the cell-assignment transform.
    * Trains on the L2-NORMALIZED vectors (`nv`): for a cosine metric the
    * cells must partition the unit sphere — raw-space centroids split on
    * magnitude, which cosine ignores, wasting cells. */
  private[sim] def trainCoarse(base: DataFrame, nlist: Int)
      : org.apache.spark.ml.clustering.KMeansModel =
    graft.util.FitMemo("ivf-coarse", base, nlist) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val sample = boundedTrainSample(base)
        .select(array_to_vector(col("nv")).as("fv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // ≤ trainCap rows
      try new KMeans().setK(nlist).setSeed(7L).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("cell").fit(sample)
      finally sample.unpersist(blocking = false)
    }

  /** Per-subspace seeded codebooks trained on the same BOUNDED sample:
    * at 100 TB the corpus never feeds the fits, only the encode pass scans
    * it. The independent per-subspace fits run as concurrent Spark jobs
    * (seeded per subspace, so parallelism keeps determinism). */
  private[sim] def trainCodebooks(base: DataFrame, subspaces: Int, sub: Int,
                                  codebookSize: Int): IndexedSeq[Seq[Seq[Float]]] =
    graft.util.FitMemo("pq-codebooks", base, subspaces, sub, codebookSize) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val cached = boundedTrainSample(base)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // ≤ trainCap rows
      import scala.collection.parallel.CollectionConverters._
      try (0 until subspaces).par.map { m =>
        new KMeans().setK(codebookSize).setSeed(7L + m).setMaxIter(5)
          .setInitMode("random") // k-means|| init costs extra passes per fit; random+seed is one
          .setFeaturesCol("fv").setPredictionCol("c")
          .fit(cached.select(array_to_vector(sliceM(col("nv"), sub, m)).as("fv")))
          .clusterCenters.toSeq.map(_.toArray.toSeq.map(_.toFloat))
      }.toIndexedSeq
      finally cached.unpersist(blocking = false)
    }

  /** ADC shortlist → exact-cosine re-rank over `candidates` (rows with
    * qnv/qv/codes columns present). */
  private[sim] def adcRerank(candidates: DataFrame, codebooks: IndexedSeq[Seq[Seq[Float]]],
                        subspaces: Int, sub: Int, k: Int, refine: Int): DataFrame = {
    def cbLit(m: Int): Column = typedlit(codebooks(m))
    val adc = (0 until subspaces).map { m =>
      d2(sliceM(col("qnv"), sub, m), element_at(cbLit(m), col("codes").getItem(m) + 1))
    }.reduce(_ + _)
    val shortlist = graft.operators.ScalableRank.topKPerGroup(
      candidates.withColumn("approx_d2", adc),
      Seq(col("query_id")), Seq(col("approx_d2").asc, col("vec_id").asc),
      refine * k, "cand_rank")
    val exact = shortlist.withColumn("cos_sim",
      fastDot("qv", "embedding")
        / (sqrt(fastDot("qv", "qv")) * sqrt(fastDot("embedding", "embedding"))))
    topK(exact, k).select("query_id", "rank", "vec_id", "label", "cos_sim")
  }

  private[sim] def encodeCodes(base: DataFrame, codebooks: IndexedSeq[Seq[Seq[Float]]],
                          subspaces: Int, sub: Int): DataFrame = {
    def cbLit(m: Int): Column = typedlit(codebooks(m))
    def argminCode(c: Column, m: Int): Column = {
      val dists = transform(cbLit(m), cent => d2(sliceM(c, sub, m), cent))
      (array_position(dists, array_min(dists)) - 1L).cast("int")
    }
    base.withColumn("codes",
      array((0 until subspaces).map(m => argminCode(col("nv"), m)): _*))
  }

  def knnPq(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
            subspaces: Int = 8, codebookSize: Int = 16, refine: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val base = withNormalized(embeddings)
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val sub = dim / subspaces
    val codebooks = trainCodebooks(base, subspaces, sub, codebookSize)
    val encoded = encodeCodes(base, codebooks, subspaces, sub)
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nv").as("qnv"))
    // full-corpus ADC scan: every row ranks from its codes alone
    adcRerank(
      encoded.join(broadcast(queries), col("vec_id") =!= col("query_id")),
      codebooks, subspaces, sub, k, refine)
  }

  /** IVF-PQ composition (the FAISS production architecture): the coarse
    * quantizer gates WHICH rows are candidates (nprobe of nlist cells ≈
    * nprobe/nlist of the corpus), PQ codes rank those candidates without
    * touching raw vectors, and only the refine·k shortlist reads floats
    * for the exact re-rank. Both quantizers are seeded; rows-only gate,
    * FunctionsSpec floors recall. */
  def knnIvfPq(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
               nlist: Int = 16, nprobe: Int = 8,
               subspaces: Int = 8, codebookSize: Int = 16,
               refine: Int = 12): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val spark = embeddings.sparkSession
    import org.apache.spark.ml.functions.array_to_vector
    import spark.implicits._
    val base = withNormalized(embeddings)
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val sub = dim / subspaces

    // coarse quantizer from the bounded sample (assignment is the only
    // full-corpus pass before the code scan)
    val coarse = trainCoarse(base, nlist)
    val celled = coarse.transform(base.withColumn("fv", array_to_vector(col("nv"))))
      .select(col("vec_id"), col("label"), col("embedding"), col("nv"),
        col("cell").cast("long").as("cell"))

    val codebooks = trainCodebooks(base, subspaces, sub, codebookSize)
    val encoded = encodeCodes(celled, codebooks, subspaces, sub)

    // each query probes its nprobe nearest cells (tiny literal centroids)
    val cells = coarse.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }.toSeq
      .toDF("c_cell", "centroid")
    val queries = celled.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nv").as("qnv"))
    val probes = graft.operators.ScalableRank.topKPerGroup(
        queries.crossJoin(broadcast(cells))
          .withColumn("dist2", d2(col("qnv"), col("centroid"))),
        Seq(col("query_id")), Seq(col("dist2").asc, col("c_cell").asc),
        nprobe, "probe_rank")
      .select(col("query_id").as("p_qid"), col("c_cell"))

    // candidates = probed cells only; ADC ranks them from codes
    adcRerank(
      encoded.join(
        broadcast(probes.join(queries, col("p_qid") === col("query_id"))),
        col("cell") === col("c_cell") && col("vec_id") =!= col("query_id")),
      codebooks, subspaces, sub, k, refine)
  }

  /** Multi-table random-hyperplane LSH (OR-amplification — Indyk &
    * Motwani 1998; Charikar 2002 SimHash): `tables` independent hash
    * tables, each keyed by `bits` seeded Gaussian hyperplanes; a corpus
    * row is a candidate iff it collides with the query in ANY table.
    * Per-table collision odds for neighbors at angle θ are
    * (1 − θ/π)^bits — tiny for a single table (the measured ~0 recall of
    * the single-table `knnBucketed` path); the OR over L tables lifts it
    * to 1 − (1 − p^bits)^L while random rows stay spread over 2^bits
    * buckets per table. This is the classic recall dial that needs no
    * training pass — the data-oblivious counterpart of IVF's nprobe.
    *
    * Scale shape: hyperplanes are a driver-side tables×bits×dim literal
    * (12·5·64 floats here — plan-sized, not data-sized). Signatures are
    * one codegen'd projection (vec_dot per plane); the corpus explodes to
    * (table, bucket) pairs — L rows per vector, projected BEFORE the
    * join — and candidates come from an equi-join on (table, bucket)
    * against the broadcast exploded queries, so the corpus never
    * shuffles. Dedup of multi-table hits is a groupBy over CANDIDATES
    * (≈L·n/2^bits of the corpus), not the corpus. Seeded Gaussians are
    * engine-local (no SQL mirror) → rows-only gate; FunctionsSpec floors
    * recall against the golden top-k. */
  def knnLshTables(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
                   bits: Int = 5, tables: Int = 12, seed: Long = 42L): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    // deterministic per-(table,bit) Gaussian hyperplanes: same seed →
    // same planes on every run and every executor
    def plane(t: Int, i: Int): Array[Float] = {
      val rnd = new scala.util.Random(seed * 1000003L + t * 1009L + i)
      Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    def sig(v: Column, t: Int): Column =
      (0 until bits).map { i =>
        when(call_function("vec_dot", v, typedlit(plane(t, i))) >= 0d,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)

    val corpus = embeddings
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("nrm", sqrt(fastDot("embedding", "embedding")))
      .withColumn("sigs",
        array((0 until tables).map(t => sig(col("embedding"), t)): _*))
    val corpusExp = corpus.select(col("vec_id"), col("label"),
      col("embedding"), col("nrm"), posexplode(col("sigs")).as(Seq("t", "bucket")))
    val queriesExp = corpus.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("q_nrm"), posexplode(col("sigs")).as(Seq("q_t", "q_bucket")))
    val scored = corpusExp
      .join(broadcast(queriesExp),
        col("t") === col("q_t") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", fastDot("qv", "embedding") / (col("q_nrm") * col("nrm")))
      // a pair colliding in several tables is ONE candidate; tables_hit
      // is the collision multiplicity (a free confidence signal)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(max(col("cos_sim")).as("cos_sim"), first(col("label")).as("label"),
        count(lit(1)).as("tables_hit"))
    topK(scored, k)
      .select("query_id", "rank", "vec_id", "label", "cos_sim", "tables_hit")
  }

  /** Recall@k of the approximate paths against the brute-force golden
    * top-k — the measurement that makes the ANN recall/cost trade explicit
    * (one row per method × query + the hit counts). */
  def knnRecall(embeddings: DataFrame, numQueries: Int = 5, k: Int = 10,
                bits: Int = 8, probes: Int = 1): DataFrame = {
    val golden = knnBrute(embeddings, numQueries, k).select("query_id", "vec_id")
    def recallOf(method: String, res: DataFrame): DataFrame =
      golden
        .join(res.select(col("query_id").as("r_qid"), col("vec_id").as("r_vid")),
          col("query_id") === col("r_qid") && col("vec_id") === col("r_vid"),
          "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("golden_k"),
          sum(when(col("r_vid").isNotNull, 1L).otherwise(0L)).as("hits"))
        .select(lit(method).as("method"), col("query_id"), col("golden_k"),
          col("hits"),
          (col("hits").cast("double") / col("golden_k")).as("recall_at_k"))
    recallOf("bucketed", knnBucketed(embeddings, numQueries, k, bits))
      .unionByName(recallOf("multiprobe",
        knnMultiProbe(embeddings, numQueries, k, bits, probes)))
  }

  /** One-frame recall summary across EVERY ANN method (brute = 1.0 sanity
    * row): the measurement that keeps each approximate path honest,
    * including the learned ones (IVF, PQ) the per-query oracle-matched
    * `knnRecall` cannot cover. Rows-only (learned quantizers are
    * engine-local); FunctionsSpec asserts the ordering invariants. */
  def knnRecallSummary(embeddings: DataFrame, numQueries: Int = 5,
                       k: Int = 10): DataFrame = {
    // Optimization-round note (r13, measured at sf0.1): persisting `golden`
    // for its 8 arm consumers was tried and REVERTED (6.6-7.3 s → 7.9-8.1 s
    // steady-state). The arms union into ONE plan, so AQE's ReuseExchange
    // already executes golden's canonical-identical exchange subtrees once
    // across all arms; the persist only added a materialization (the same
    // mechanism as the reverted ScalableRank-input persists, r12).
    val golden = knnBrute(embeddings, numQueries, k).select("query_id", "vec_id")
    def summarize(method: String, res: DataFrame): DataFrame =
      golden.join(
          res.select(col("query_id").as("r_qid"), col("vec_id").as("r_vid")),
          col("query_id") === col("r_qid") && col("vec_id") === col("r_vid"),
          "left")
        .agg(
          (sum(when(col("r_vid").isNotNull, 1.0).otherwise(0.0)) / count(lit(1)))
            .as("mean_recall"),
          countDistinct(col("query_id")).as("queries"))
        .select(lit(method).as("method"), col("mean_recall"), col("queries"))
    summarize("brute", knnBrute(embeddings, numQueries, k))
      .unionByName(summarize("bucketed", knnBucketed(embeddings, numQueries, k)))
      .unionByName(summarize("multiprobe", knnMultiProbe(embeddings, numQueries, k)))
      .unionByName(summarize("ivf", knnIvf(embeddings, numQueries, k)))
      .unionByName(summarize("pq", knnPq(embeddings, numQueries, k)))
      .unionByName(summarize("ivfpq", knnIvfPq(embeddings, numQueries, k)))
      .unionByName(summarize("lsh_tables", knnLshTables(embeddings, numQueries, k)))
      .unionByName(summarize("pca", Pca.knnPca(embeddings, numQueries, k)))
  }

  /** Semantic deduplication (the SemDeDup shape — Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): a LEARNED coarse quantizer gates which pairs
    * are compared — KMeans cells from the bounded sample (same fit
    * contract as [[knnIvf]]) replace sign-LSH buckets, catching the
    * paraphrase-grade duplicates whose vectors are close but not
    * bit-sign-identical. Within each cell, a row is dropped iff an
    * earlier row (smaller vec_id — the deterministic representative rule)
    * sits above the cosine threshold; `dup_of` records that
    * representative.
    *
    * Scale shape: one bounded-sample fit, one full-corpus assignment
    * pass, then a self-join that shuffles on the cell key only — the
    * within-cell candidate set is ~n/nlist rows, and nlist grows with the
    * corpus (FAISS sizes it ~√n), so the per-cell quadratic stays
    * bounded. Same-cell gating is the recall trade every production
    * semantic dedup makes; the spec measures recall against the exact
    * all-pairs rule and proves precision exact (candidate pairs are
    * re-scored with true cosine, so nothing is dropped on a false match).
    * Learned cells → rows-only oracle gate. */
  def semanticDedup(embeddings: DataFrame, nlist: Int = 16,
                    threshold: Double = 0.9): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    import org.apache.spark.ml.functions.array_to_vector
    val base = withNormalized(embeddings)
    val coarse = trainCoarse(base, nlist)
    val celled = coarse.transform(base.withColumn("fv", array_to_vector(col("nv"))))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("cell").cast("long").as("cell"))
      .withColumn("nrm", sqrt(fastDot("embedding", "embedding")))
    val earlier = celled.select(col("vec_id").as("e_id"), col("cell"),
      col("embedding").as("ev"), col("nrm").as("e_nrm"))
    // min earlier same-cell neighbor above threshold = the representative
    val dupOf = celled.alias("c")
      .join(earlier, Seq("cell"))
      .filter(col("e_id") < col("vec_id"))
      .withColumn("cos_sim", fastDot("ev", "embedding") / (col("e_nrm") * col("nrm")))
      .filter(col("cos_sim") > threshold)
      .groupBy(col("vec_id").as("d_id"))
      .agg(min(col("e_id")).as("dup_of"))
    celled.select("vec_id", "label", "cell")
      .join(dupOf, col("vec_id") === col("d_id"), "left")
      .select(col("vec_id"), col("label"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }

  /** Embedding near-duplicate pairs: cosine above threshold, blocked by
    * the sign-LSH bucket (same coarse quantizer as [[knnBucketed]]).
    *
    * The blocking key is data-derived, not a payload attribute: a skewed
    * label would make label-blocking quadratic in the hot label, while
    * sign buckets split ~2^bits-ways regardless of labels. The self-join
    * shuffles on the bucket key only; candidates are same-bucket pairs
    * (near-identical vectors agree on sign bits with high probability —
    * the standard LSH recall/cost trade, same as MinHash banding). */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double = 0.9,
                        bits: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val e = embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("bucket", bucketKey(col("embedding"), bits))
      .withColumn("nrm", sqrt(fastDot("embedding", "embedding")))
    val a = e.select(col("vec_id").as("vec_a"), col("label"), col("embedding").as("va"),
      col("bucket"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("bucket").as("bucket_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, col("bucket") === col("bucket_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", fastDot("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos_sim") > threshold)
      .select("vec_a", "vec_b", "bucket", "cos_sim")
  }
}
