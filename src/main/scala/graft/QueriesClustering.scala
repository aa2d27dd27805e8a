package graft

import graft.gold.{Attribution, DataQuality, Drift, Forensics, FraudSummary, Graph, Markov, Pipelines, Revenue, Rings, Seasonal, StarSchema}
import graft.ml.{Evaluation, FraudScore, GbtModel, TrainedModel}
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, Bronze, Cleaning, Enrichment, Features, MergeUpsert, RangeJoin, Resample, Sessionize}
import graft.sim.Similarity
import graft.text.{Components, Dedup, MinHash, SimHash, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueriesShared._

/** Registry slice: embedding clustering, image hashing, line dedup, MV rewrite (r10).
  * Split from the monolithic Queries.scala (r11) — a pure move with zero
  * behavior change; shared oracle CTE fragments live in [[QueriesShared]].
  */
private[graft] object QueriesClustering {
  private[graft] lazy val defs: Seq[QueryDef] = Seq(

    // Transparent MV rewrite, driver-gated end-to-end: the query body
    // materializes + registers an orders MV, runs a coarser-grain
    // aggregate AGAINST THE BASE TABLE, and requires (hard `require`, so
    // a silent fallback fails the row rather than trivially passing) that
    // the optimizer served it from the MV scan. The oracle computes the
    // same aggregate over the base parquet — hash equality proves the
    // rewrite is invisible. Aggregates are exact-only (counts, a BIGINT
    // sum, min/max): §4 forbids reassociating double sums across engines.
    QueryDef("q_mv_rewrite",
      (s, d) => {
        import graft.plans.MvRewrite
        val base = s"$d/orders.parquet"
        val tmp = graft.util.Scratch.dir("graft-mv-gate")
        val states = MvRewrite.materialize(
          s.read.parquet(base),
          keys = Seq("o_orderstatus", "o_orderpriority"),
          specs = Seq(("sum", "o_custkey"), ("count", "o_totalprice"),
            ("min", "o_totalprice"), ("max", "o_totalprice")),
          mvPath = s"$tmp/orders_mv")
        MvRewrite.register(s, base, s"$tmp/orders_mv",
          Seq("o_orderstatus", "o_orderpriority"), states)
        try {
          val agg = s.read.parquet(base)
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n_orders"),
              count(col("o_totalprice")).as("n_priced"),
              sum("o_custkey").as("custkey_checksum"),
              min("o_totalprice").as("min_price"),
              max("o_totalprice").as("max_price"),
              // DISTINCT over an MV KEY: the MV has exactly one row per
              // present key combo, so the distinct set is identical
              countDistinct(col("o_orderpriority")).as("n_priorities"))
          // honesty gate: the optimized plan must scan the MV, not the base
          val scans = agg.queryExecution.optimizedPlan.collect {
            case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              lr.relation match {
                case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  fs.location.rootPaths.map(_.toString)
                case _ => Nil
              }
          }.flatten
          require(scans.exists(_.contains("orders_mv")),
            s"MV rewrite did not fire: scans=$scans")
          require(!scans.exists(_.contains("orders.parquet")),
            s"base table still scanned: $scans")
          // execute while registered, then serve the materialized result
          agg.write.mode("overwrite").parquet(s"$tmp/result")
        } finally MvRewrite.unregister(base)
        s.read.parquet(s"$tmp/result").orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
        |  count(o_totalprice) AS n_priced,
        |  CAST(sum(o_custkey) AS BIGINT) AS custkey_checksum,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Corpus-wide duplicated-LINE removal (CCNet line dedup): the
    // synthetic corpus is single-line, so the query reflows each doc into
    // 3-token lines first (both engines reproduce the reflow exactly),
    // then drops every copy of any line appearing >= 2 times corpus-wide
    // and reassembles survivors in order. text/LineDedup.scala.
    QueryDef("q_line_dedup",
      (s, d) => graft.text.LineDedup.dedupReflowed(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(graft.text.LineDedup.oracleSql())),

    // Incremental line-count store (continuous-crawl ingestion): counts
    // are additive, so the store built from the old corpus + the delta's
    // appended counts merges to EXACTLY the from-scratch counts — cleaning
    // the full corpus through the store is bit-identical to q_line_dedup,
    // which is exactly what the shared oracle checks.
    QueryDef("q_line_dedup_incremental",
      (s, d) => {
        import graft.text.LineDedup
        val store = graft.util.Scratch.dir("graft-line-store") + "/lines"
        val docs = Tables.documents(s, d)
        val reflowed = docs.select(col("doc_id"),
          LineDedup.reflow(docs).as("text"))
        LineDedup.buildLineStore(reflowed.filter(col("doc_id") % 10 =!= 7), store)
        LineDedup.appendLineStore(reflowed.filter(col("doc_id") % 10 === 7), store)
        LineDedup.dedupLinesWithStore(reflowed, store).orderBy("doc_id")
      },
      Some(graft.text.LineDedup.oracleSql())),

    // Perceptual image hash (stub plan twin): documents as 1xN "images",
    // 33-point nearest-neighbor intensity resample, 32-bit aHash + dHash.
    // The REAL-pixel 64-bit aHash/dHash over decoded PPM/BMP payloads is
    // the typed path (multimodal/ImageHash.scala), parity + planted
    // near-dup bound in MultimodalSpec.
    QueryDef("q_image_phash",
      (s, d) => graft.multimodal.ImageHash.phashPlan(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(graft.multimodal.ImageHash.phashOracleSql)),

    // Image near-duplicate pairs: 4 byte-bands of the stub dHash
    // (pigeonhole-complete at radius 3), occupancy governor 2..64, exact
    // Hamming verify. The image twin of q_neardup_pairs.
    QueryDef("q_image_neardup",
      (s, d) => graft.multimodal.ImageHash.nearDupPlan(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b"),
      Some(graft.multimodal.ImageHash.nearDupOracleSql())),

    // Image near-dup CLUSTERS: star-contraction connected components over
    // the Hamming pair graph — the image twin of q_dedup_clusters,
    // closing the hash -> pairs -> clusters image pipeline. Hash-exact vs
    // the recursive-CTE reachability oracle.
    QueryDef("q_image_clusters",
      (s, d) => graft.multimodal.ImageHash.imageClusters(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(graft.multimodal.ImageHash.imageClustersOracleSql())),

    // Corpus cluster map / topic-mixture audit: seeded coarse KMeans
    // (bounded-sample fit shared with q_knn_ivf through util.FitMemo),
    // one map-only assignment pass, cell-grain profile of <= nlist rows.
    // Rows-only: learned centroids are engine-local (same class as the
    // ANN pack); ClusteringSpec binds assignment-is-argmin and
    // partition-of-the-corpus.
    QueryDef("q_kmeans_clusters",
      (s, d) => graft.sim.Clustering.profile(
        Tables.embeddings(s, d), nlist = 16),
      None),

    // Embedding-distribution drift: PSI/chi2/binned-KS over kmeans-cell
    // occupancy, reference slice = even vec_ids (the demo split; real use
    // compares crawl generations). Rows-only (learned cells);
    // ClusteringSpec proves a uniform split shows no drift while a
    // label-conditioned split trips the PSI rule of thumb.
    QueryDef("q_embed_drift",
      (s, d) => graft.sim.Clustering.embedDrift(
        Tables.embeddings(s, d), nlist = 16,
        inA = col("vec_id") % 2 === 0),
      None),

    // Cluster-balanced diversity sample: each cell contributes its
    // min(quota, |cell|) smallest-seeded-hash rows — uniform within the
    // cell, capped per cell, so tail topics survive a head-heavy corpus.
    // Rows-only (learned cells); ClusteringSpec binds quota exactness and
    // rerun/repartition determinism.
    QueryDef("q_sample_balanced",
      (s, d) => graft.sim.Clustering.balancedSample(
          Tables.embeddings(s, d), nlist = 16, quota = 25)
        .orderBy("cell", "samp_rank"),
      None),

    // c-TF-IDF topic labels for every kmeans cell (BERTopic's class-based
    // TF-IDF): the human-readable column of the cluster-map audit.
    // Rows-only (learned cells, same class as q_kmeans_clusters);
    // ClusteringSpec pins the scoring formula on planted counts and binds
    // determinism + label-occurs-in-cell.
    QueryDef("q_cluster_labels",
      (s, d) => graft.sim.Clustering.clusterLabels(
          Tables.documents(s, d), Tables.embeddings(s, d),
          nlist = 16, k = 5)
        .orderBy("cell", "label_rank"),
      None),

    // Orthogonal Procrustes embedding alignment (Schonemann 1966): align
    // the old embedding version into the new space (R = UV^T from the
    // d x d cross-covariance SVD) and report per-vector distance before
    // vs after — the embedding-migration audit. Rows-only (engine-local
    // SVD, SURVEY section 4); ClusteringSpec plants an exact block
    // rotation and binds recovery, orthogonality, and determinism.
    QueryDef("q_embed_align",
      (s, d) => graft.sim.Procrustes.alignReport(
          graft.sim.Procrustes.plantedVersionPair(Tables.embeddings(s, d)))
        .orderBy("vec_id"),
      None),

    // Margin-based bitext mining (Artetxe & Schwenk 2019): mutual
    // margin-best en->de pairs where each cosine is ratio-scaled by both
    // endpoints' k-NN neighborhood averages (nano-quantized integer sums,
    // one IEEE chain). Hash-exact against the full SQL re-derivation —
    // the candidate generation is the exact pair join at oracle scale;
    // at web scale the same margin arithmetic rides IVF candidates.
    QueryDef("q_bitext_mine",
      (s, d) => graft.sim.Bitext.minePairs(
          Tables.documents(s, d), Tables.embeddings(s, d)).orderBy("x_id"),
      Some(graft.sim.Bitext.minePairsOracleSql(QueriesShared.cosSql)))
  )
}
