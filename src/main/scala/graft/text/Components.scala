package graft.text

import graft.util.{CacheRegistry, Lineage}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over the near-duplicate candidate graph: the
  * cluster step of an LLM-corpus dedup pipeline (LSH pairs → components →
  * one canonical document per component).
  *
  * Algorithm: iterative min-label propagation — every node starts labeled
  * with its own id; each round replaces a node's label with the minimum
  * over itself and its neighbors; fixpoint = every node carries its
  * component's minimum id. Rounds needed = graph diameter, and near-dup
  * components are dense/shallow (pairs share LSH buckets), so convergence
  * is a handful of rounds. Each round is one balanced edge-join shuffle +
  * a map-side-combined min aggregate — no single-partition stage; lineage
  * is truncated per round (localCheckpoint; at cluster scale a
  * reliable-storage checkpoint). Convergence is detected by the exact sum
  * of labels (strictly decreasing until fixpoint — one cheap scalar
  * aggregate per round, no change-count join).
  */
object Components {

  /** (id, cluster_id) for every node; cluster_id = min node id reachable.
    * `edges` is one row per undirected edge (src, dst).
    *
    * Throws if the fixpoint is not reached within `maxIter` rounds
    * (component diameter > maxIter) — a partial result would silently
    * mislabel clusters; failing loud keeps the correctness contract.
    *
    * The symmetrized edges and the final round stay checkpointed under
    * this object until the sweep between queries frees them. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 64): DataFrame = {
    val sym = CacheRegistry.checkpoint(Components, edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = nodes.select(col("id"), col("id").as("label")).localCheckpoint()
    var prevSum = BigDecimal(-1)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val msgs = sym
        .join(labels.select(col("id").as("m_src"), col("label").as("m_label")),
          col("src") === col("m_src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("m_label")).as("nmin"))
      val next = labels
        .join(msgs, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      val sumRaw = next.agg(org.apache.spark.sql.functions.sum(
        col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
      val sum = if (sumRaw == null) BigDecimal(0) else BigDecimal(sumRaw)
      // next is materialized; release the superseded round's checkpoint
      // (the loop holds one label snapshot, not O(diameter)).
      Lineage.release(labels)
      labels = next
      converged = sum == prevSum
      prevSum = sum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter) — refusing to return partial labels")
    CacheRegistry.adopt(Components, labels)
      .select(col("id"), col("label").as("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond").
    *
    * Min-label propagation above needs diameter-many shuffle rounds — fine
    * for the dense, shallow clusters LSH banding produces, but a 100 TB
    * corpus can also hold CHAIN-shaped duplicate families (doc A ≈ B ≈ C …
    * where only adjacent pairs cross the near-dup threshold), and there a
    * diameter-bound loop is O(n) rounds. Star contraction converges in
    * O(log n) rounds regardless of diameter:
    *
    *   large-star: each node u attaches every STRICTLY LARGER neighbor to
    *     m(u) = min(N(u) ∪ {u});
    *   small-star: each node u attaches every neighbor ≤ u, and u itself,
    *     to m(u).
    *
    * Both steps are one symmetrize + one min-aggregate + one join — the
    * same balanced shuffle shape per round as label propagation, just
    * O(log n) of them. At fixpoint the edge set is a union of stars whose
    * centers are the component minima, so the label read-off is a single
    * min-aggregate over neighbors.
    *
    * Convergence detection: a round is a no-op exactly when it reproduces
    * the same edge set. We compare four order-independent exact summaries
    * of the canonicalized edge frame — row count, bit_xor of
    * xxhash64(src,dst), and decimal sums of src and dst — all from ONE
    * scalar aggregate per round (no frame-equality join on the data path).
    * All four are exact (integer/decimal/xor — no FP order sensitivity);
    * a false fixpoint requires a simultaneous collision of the xor-hash,
    * both sums, and the count across different edge sets.
    *
    * Throws if not converged within `maxIter` rounds (loud-fail, same
    * contract as `connectedComponents`). Returns (labels, roundsUsed).
    * The final round's edges stay checkpointed under this object until
    * the sweep between queries frees them.
    */
  def connectedComponentsStarWithRounds(
      nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 32): (DataFrame, Int) = {
    import org.apache.spark.sql.types.DecimalType

    // Canonical undirected form (lo, hi), self-loops dropped, deduped.
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("src"), col("dst")).as("lo"),
          greatest(col("src"), col("dst")).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()

    def sym(e: DataFrame): DataFrame =
      e.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(e.select(col("hi").as("u"), col("lo").as("v")))

    // (count, xxhash-xor, sum lo, sum hi) — the fixpoint fingerprint.
    def fingerprint(e: DataFrame): (Long, Long, BigDecimal, BigDecimal) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(bit_xor(xxhash64(col("lo"), col("hi"))), lit(0L)),
        coalesce(sum(col("lo").cast(DecimalType(38, 0))), lit(BigDecimal(0))),
        coalesce(sum(col("hi").cast(DecimalType(38, 0))), lit(BigDecimal(0))))
        .collect()(0)
      (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)), BigDecimal(r.getDecimal(3)))
    }

    // One star round. Emits, per node u with m = min(N(u) ∪ {u}):
    //   large: (v, m) for neighbors v > u;  small: (v, m) for v ≤ u, plus (u, m).
    def starRound(e: DataFrame, large: Boolean): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy(col("u")).agg(min(col("v")).as("nmin"))
        .select(col("u").as("m_u"), least(col("u"), col("nmin")).as("m"))
      val joined = s.join(mins, col("u") === col("m_u"))
      val attached =
        if (large) joined.filter(col("v") > col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
        else joined.filter(col("v") <= col("u"))
          .select(col("v").as("src"), col("m").as("dst"))
          .unionByName(mins.select(col("m_u").as("src"), col("m").as("dst")))
      canon(attached)
    }

    var e = canon(edges).localCheckpoint()
    var prev = fingerprint(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = starRound(starRound(e, large = true), large = false)
        .localCheckpoint()
      val fp = fingerprint(next)
      converged = fp == prev
      prev = fp
      // next is materialized; release the superseded round's checkpoint so
      // the loop holds one edge snapshot, not O(rounds).
      Lineage.release(e)
      e = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          "refusing to return partial labels")
    // Fixpoint edge set is a union of stars centered at component minima:
    // every node's label is min(self, min neighbor).
    CacheRegistry.adopt(Components, e)
    val nbrMin = sym(e).groupBy(col("u").as("id")).agg(min(col("v")).as("nmin"))
    val labels = nodes.select(col("id"))
      .join(nbrMin, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("nmin"), col("id"))).as("cluster_id"))
    (labels, iter)
  }

  /** Star-contraction components with the same (id, cluster_id) contract as
    * `connectedComponents` — the O(log n)-round path for high-diameter
    * duplicate graphs. */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
                              maxIter: Int = 32): DataFrame =
    connectedComponentsStarWithRounds(nodes, edges, maxIter)._1

  /** Star-contraction components over an arbitrary undirected doc-grain
    * edge list, packaged as the standard cluster surface (component-min
    * cluster_id, size, canonical flag) — shared by the text (LSH) and
    * image (Hamming) near-dup clusterings. `nodes` carries `id`, `edges`
    * carries `src`/`dst`. */
  def clustersFromEdges(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val cc = connectedComponentsStar(nodes, edges)
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).as("is_canonical"))
  }

  /** `dedupClusters` computed by star contraction — identical output
    * contract (same canonical = component-min labeling), so it shares
    * q_dedup_clusters' recursive-CTE oracle. */
  def dedupClustersStar(documents: DataFrame): DataFrame =
    clustersFromEdges(
      documents.select(col("doc_id").as("id")),
      MinHash.candidatePairs(documents)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))

  /** The end-to-end dedup policy of a real corpus pipeline: LSH candidate
    * pairs → connected components → keep the HIGHEST-QUALITY document of
    * each cluster (not the lowest id — quality-aware representative
    * selection). Returns one row per kept document with its cluster
    * provenance; selection is a two-phase grouped top-1 (a boilerplate
    * cluster can be huge). */
  def dedupKeepBest(documents: DataFrame): DataFrame = {
    val clusters = dedupClusters(documents)
      .select(col("doc_id").as("c_doc_id"), col("cluster_id"), col("cluster_size"))
    val scored = TextAnalysis.qualityScore(documents)
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .join(clusters, col("doc_id") === col("c_doc_id"))
    graft.operators.ScalableRank.topKPerGroup(
        scored, Seq(col("cluster_id")),
        Seq(col("quality_score").desc, col("doc_id").asc), 1, "keep_rank")
      .select(col("doc_id"), col("lang"), col("cluster_id"),
        col("cluster_size"), col("quality_score"))
  }

  /** Dedup clustering over documents: LSH candidate pairs → components →
    * cluster size + canonical flag (keep is_canonical, drop the rest — the
    * group-dedup contract of a corpus pipeline). */
  def dedupClusters(documents: DataFrame): DataFrame = {
    val nodes = documents.select(col("doc_id").as("id"))
    val edges = MinHash.candidatePairs(documents)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val cc = connectedComponents(nodes, edges)
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).as("is_canonical"))
  }
}
