package graft.gold

import graft.util.{CacheRegistry, Lineage}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the shared-device fraud-ring graph ([[Rings]]
  * pairs as the edge list): PageRank centrality ("which account is the
  * hub of the collusion web") and triangle counting / local clustering
  * ("how densely is this account's neighborhood wired") — the two
  * classic ring-scoring signals on top of the pairwise view (ref
  * spark_jobs/silver/build_fraud_features.py device features give each
  * account its OWN device history; the graph pass scores its position
  * in the cross-account web).
  *
  * Cross-engine determinism (PageRank): float PageRank is doubly
  * order-dependent (sum order, 1-ulp division). Both disappear by
  * running the ENTIRE iteration in BIGINT fixed-point: ranks carry
  * 1e12-unit mass, per-neighbor contributions are integer division
  * `pr div degree`, damping is `(85 * sum) div 100`, teleport is a
  * per-node integer constant. Truncation loses a bounded sliver of
  * mass per round (≤ degree units per node) — the *contract*, mirrored
  * verbatim in the oracle, so Spark and DuckDB agree bit-for-bit.
  *
  * Scale shape (PageRank): one (src)-keyed shuffle join pr⋈edges plus
  * one (dst) partial-agg per iteration over the EDGE list — linear in
  * edges, never materializes anything node×node. Iterations are a
  * fixed small constant (centrality stabilizes in ~5 rounds for
  * ranking purposes), not diameter-bound like label propagation. Each
  * round's rank frame is persisted and the previous round released
  * (Components.scala cache-lifecycle contract). N arrives via a 1-row
  * broadcast cross join, never a driver collect.
  *
  * Scale shape (triangles): edges are oriented low→high endpoint under
  * the (degree, node) total order before the wedge join — the classic
  * degree-ordered node-iterator (Schank–Wagner): every wedge is
  * generated at its LOWEST-degree corner, so a celebrity node of
  * degree d in a graph capped by the Rings occupancy governor
  * contributes O(d_oriented²) with d_oriented bounded by the governor,
  * not by its raw degree. Per-node counts are orientation-invariant,
  * which is what the oracle checks.
  */
object Graph {

  /** Fixed-point scale: total initial mass in rank units. */
  val MassUnits = 1000000000000L
  val Damping = 85 // percent
  val Iterations = 5

  /** Integer-exact PageRank over an undirected pair list (user_a < user_b).
    * Returns (user_id, degree, pr_units BIGINT, pr_score DOUBLE). */
  def pageRank(pairs: DataFrame, iterations: Int = Iterations): DataFrame = {
    // The graph frames are re-read every iteration — materialize each once
    // AND truncate its logical lineage (Lineage.checkpointRightsized): a
    // plain persist keeps the full upstream pair plan (Rings is a
    // multi-join subtree) inside every reference, and the 5-round chain
    // embeds those references multiplicatively — measured 27 787 plan
    // lines / 4 435 Exchange nodes at sf0.1, making every AQE stage
    // materialization re-walk a ~30 k-node tree. Truncation keeps the
    // static plan linear in the round count. Partition width still derives
    // from row counts (rightsize semantics), never from the machine.
    CacheRegistry.release(Graph)
    val edges0 = Lineage.checkpointRightsized(
      pairs.select(col("user_a").as("src"), col("user_b").as("dst"))
        .union(pairs.select(col("user_b").as("src"), col("user_a").as("dst"))))
    val deg = edges0.groupBy(col("src")).agg(count(lit(1)).as("s_degree"))
    val n = deg.agg(count(lit(1)).as("n"))
    // pr0 and the teleport term are integer functions of N alone.
    val nodes = CacheRegistry.checkpoint(Graph,
      deg.crossJoin(broadcast(n))
        .withColumn("pr0", expr(s"${MassUnits}L div n"))
        .withColumn("tele", expr(s"(15 * (${MassUnits}L div n)) div 100"))
        .select(col("src").as("node"), col("s_degree").as("degree"),
          col("tele"), col("pr0")))
    // Destination attributes ride the edge list (guide §2.4, remove a
    // shuffle outright): every node of an undirected graph appears as a
    // dst (edges carry both orientations), so the per-round
    // nodes⋈contrib join — one exchange per iteration — is redundant;
    // grouping by (dst, degree, tele) off the enriched edges yields the
    // identical integer state.
    val edges = CacheRegistry.checkpoint(Graph,
      edges0.join(nodes.select(col("node").as("dst"),
          col("degree").as("d_degree"), col("tele").as("d_tele")), Seq("dst")))
    Lineage.release(edges0)

    // Each round's rank frame is consumed exactly once (by the next
    // round's contribution join), so the rounds chain LAZILY into one
    // linear plan — no per-round action, no per-round cache. For
    // hundreds of iterations a periodic checkpoint would truncate the
    // plan; at the fixed small iteration count the depth is bounded.
    var pr = nodes.select(col("node"), col("degree"), col("tele"),
      col("pr0").as("pr"))
    for (_ <- 1 to iterations) {
      pr = pr
        .withColumn("c", expr("pr div degree"))
        .select(col("node").as("src"), col("c"))
        .join(edges, Seq("src"))
        .groupBy(col("dst").as("node"), col("d_degree").as("degree"),
          col("d_tele").as("tele"))
        .agg(sum(col("c")).as("in_mass"))
        .withColumn("pr",
          col("tele") + expr(s"($Damping * in_mass) div 100"))
        .select("node", "degree", "tele", "pr")
    }
    pr.select(
        col("node").as("user_id"),
        col("degree"),
        col("pr").as("pr_units"),
        (col("pr").cast("double") / lit(MassUnits.toDouble)).as("pr_score"))
      .orderBy("user_id")
  }

  /** Ring membership: connected components over the shared-device pair
    * graph — every user labeled with its ring id (component minimum) and
    * ring size, the "who is in the web with whom" view that PageRank
    * ranks and triangles densify. Runs on the star-contraction CC
    * (Components.connectedComponentsStar): O(log n) shuffle rounds
    * regardless of ring diameter — chain-shaped rings (A shares with B
    * shares with C …) are exactly the high-diameter case label
    * propagation handles poorly. */
  def ringClusters(pairs: DataFrame): DataFrame = {
    CacheRegistry.release(Graph)
    // Plain persist here (NOT checkpointRightsized): the CC rounds below
    // localCheckpoint per round anyway, so the static plan never compounds;
    // a checkpoint of p was measured WORSE (+1.5 s — it only added
    // materialization copies, q_ring_clusters 5.2→6.7 s profiled).
    val p = CacheRegistry.persist(Graph, pairs.select(col("user_a"), col("user_b")))
    val nodes = p.select(col("user_a").as("id"))
      .union(p.select(col("user_b").as("id"))).distinct()
    val edges = p.select(col("user_a").as("src"), col("user_b").as("dst"))
    val cc = graft.text.Components.connectedComponentsStar(nodes, edges)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("ring_size"))
    cc.join(sizes, "cluster_id")
      .select(col("id").as("user_id"), col("cluster_id").as("ring_id"),
        col("ring_size"), (col("id") === col("cluster_id")).as("is_canonical"))
      .orderBy("user_id")
  }

  /** Per-node triangle participation + local clustering coefficient over
    * an undirected pair list (user_a < user_b, no duplicates). */
  def triangles(pairs: DataFrame): DataFrame = {
    // The pair list feeds the degree table AND the orientation join —
    // persist it so the upstream pair query runs once (right-sized: the
    // wedge enumeration below reads the oriented cache from four
    // consumers, and near-empty 32-partition caches of a ~20 k-edge graph
    // cost more task launches than compute).
    CacheRegistry.release(Graph)
    // checkpointRightsized (not a plain persist): the wedge/closure
    // consumers below reference these frames 4-6× and a persisted frame
    // still carries the full Rings lineage per reference — the static plan
    // measured 58 166 lines / 9 330 Exchange nodes at sf0.1 before
    // truncation, and AQE re-walked it per stage materialization.
    val p = CacheRegistry.checkpoint(Graph, pairs.select(col("user_a"), col("user_b")))
    val edges = p.select(col("user_a").as("src"), col("user_b").as("dst"))
      .union(p.select(col("user_b").as("src"), col("user_a").as("dst")))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))

    // Orient each undirected edge from the lower to the higher endpoint
    // under the (degree, node) total order: wedges enumerate at their
    // lowest-degree corner.
    val dl = deg.select(col("node").as("user_a"), col("degree").as("deg_a"))
    val dr = deg.select(col("node").as("user_b"), col("degree").as("deg_b"))
    val oriented = p.join(dl, Seq("user_a")).join(dr, Seq("user_b"))
      .select(
        when(col("deg_a") < col("deg_b") ||
             (col("deg_a") === col("deg_b") && col("user_a") < col("user_b")),
          struct(col("user_a").as("lo"), col("user_b").as("hi")))
          .otherwise(struct(col("user_b").as("lo"), col("user_a").as("hi")))
          .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
    val orientedRs = CacheRegistry.checkpoint(Graph, oriented)

    // Wedge at the low corner: (lo, hi1), (lo, hi2) with hi1 "before" hi2
    // in the orientation order; closed iff the oriented edge hi1→hi2 or
    // hi2→hi1 exists — checking the ORIENTED closure edge keeps the probe
    // one equi-join against the oriented list itself.
    val w1 = orientedRs.select(col("lo"), col("hi").as("x"))
    val w2 = orientedRs.select(col("lo"), col("hi").as("y"))
    val wedges = w1.join(w2, Seq("lo")).filter(col("x") < col("y"))
    // Each undirected closure edge appears exactly once across the two
    // orientations for an (x < y) probe — no dedup shuffle needed.
    val closureA = orientedRs.select(col("lo").as("x"), col("hi").as("y"))
    val closureB = orientedRs.select(col("hi").as("x"), col("lo").as("y"))
    val tris = wedges.join(closureA.union(closureB), Seq("x", "y"))
      .select(col("lo").as("a"), col("x").as("b"), col("y").as("c"))

    val roles = tris.select(col("a").as("node"))
      .union(tris.select(col("b").as("node")))
      .union(tris.select(col("c").as("node")))
    val counts = roles.groupBy("node").agg(count(lit(1)).as("triangles"))

    val out = deg.join(counts, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("clustering",
        when(col("degree") < 2, lit(0.0))
          .otherwise(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - 1))))
      .select(col("node").as("user_id"), col("degree"), col("triangles"),
        col("clustering"))
      .orderBy("user_id")
    out
  }
}
