package graft.ml

import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Categorical-feature encodings for the fraud models: Weight-of-Evidence /
  * Information-Value profiling and leakage-free K-fold out-of-fold target
  * encoding — the two standard supervised encoders a credit/fraud feature
  * pipeline computes before training (the reference's feature builder ships
  * ordinal tier/priority encodings, build_fraud_features.py:227-274; WOE and
  * target encoding are their supervised counterparts over the same label).
  *
  * Scale shape: both encoders are ONE corpus-grain aggregation with map-side
  * partial aggs; everything after runs on the (feature × category [× fold])
  * grouped frame, which is tiny (categories, not rows) and broadcast from
  * there. No per-row second pass, no join back to the fact — the output IS
  * the lookup table a scorer would broadcast-join at apply time.
  */
object Encodings {

  /** Laplace count smoothing for empty cells. */
  val WoeSmoothing = 0.5

  // The grouped count frames feed two (woe) / four (targetEncodeOof)
  // totals branches — persisted so the corpus-grain input aggregates
  // exactly once per run instead of once per branch (the Rfm pattern).
  // The cached frames are category-grain (KBs), never data. ONE live
  // frame: building a second encoder releases the first's cache, so
  // execute an encoder's result before building the next (Rfm semantics).

  /** WOE/IV table for the given (featureName -> category column) pairs over
    * a binary `labelCol` (1 = event/bad). One pass: each row is exploded to
    * its (feature, category) memberships, then a single groupBy counts.
    *
    * woe = ln(((n_bad + 0.5) / bad_tot) / ((n_good + 0.5) / good_tot)),
    * float32-rounded (the ln-collapse pattern, see Bm25.rank) so the oracle
    * engine's libm agrees bit-for-bit; iv_contrib is this category's term of
    * the feature's information value, computed from the rounded woe. */
  def woe(labeled: DataFrame, labelCol: String,
          features: Seq[(String, Column)]): DataFrame = {
    val stacked = labeled.select(
        explode(array(features.map { case (n, c) =>
          struct(lit(n).as("feature"), c.cast("string").as("category"))
        }: _*)).as("fc"),
        col(labelCol).cast("long").as("_label"))
      .select(col("fc.feature").as("feature"), col("fc.category").as("category"),
        col("_label"))
    CacheRegistry.release(Encodings)
    val byCat = CacheRegistry.persist(Encodings, stacked.groupBy("feature", "category")
      .agg(count(lit(1)).as("n"), sum(col("_label")).as("n_bad"))
      .withColumn("n_good", col("n") - col("n_bad")))
    // per-feature totals reduce the already-grouped frame — no second
    // corpus scan (every feature covers every row, so totals per feature
    // equal the global totals, but computing them here keeps one lineage)
    val perFeat = byCat.groupBy("feature")
      .agg(sum(col("n_bad")).as("bad_tot"), sum(col("n_good")).as("good_tot"))
    byCat.join(broadcast(perFeat), Seq("feature"))
      .withColumn("bad_share",
        (col("n_bad").cast("double") + lit(WoeSmoothing)) / col("bad_tot").cast("double"))
      .withColumn("good_share",
        (col("n_good").cast("double") + lit(WoeSmoothing)) / col("good_tot").cast("double"))
      .withColumn("woe",
        log(col("bad_share") / col("good_share")).cast("float").cast("double"))
      .withColumn("iv_contrib", (col("bad_share") - col("good_share")) * col("woe"))
      .select("feature", "category", "n", "n_bad", "n_good", "woe", "iv_contrib")
  }

  /** K-fold out-of-fold target encoding at (category, fold) grain: the
    * encoding each row of that fold would receive is computed from all
    * OTHER folds (no leakage), shrunk toward the out-of-fold global prior
    * with additive smoothing `m`:
    *
    *   enc = (sum_oof + m * prior_oof) / (n_oof + m)
    *
    * All sums are exact integers (binary label); folds come from a supplied
    * deterministic fold column (e.g. key % folds) so retrains reproduce.
    * The output is the lookup table: rows join it on (category, fold). */
  def targetEncodeOof(labeled: DataFrame, categoryCol: Column, labelCol: String,
                      foldCol: Column, m: Double = 10.0): DataFrame = {
    CacheRegistry.release(Encodings)
    val g = CacheRegistry.persist(Encodings, labeled
      .select(categoryCol.cast("string").as("category"), foldCol.cast("long").as("fold"),
        col(labelCol).cast("long").as("_label"))
      .groupBy("category", "fold")
      .agg(count(lit(1)).as("n_in_fold"), sum(col("_label")).as("sum_in_fold")))
    val catTot = g.groupBy("category")
      .agg(sum(col("n_in_fold")).as("n_cat"), sum(col("sum_in_fold")).as("sum_cat"))
    val foldTot = g.groupBy("fold")
      .agg(sum(col("n_in_fold")).as("n_fold"), sum(col("sum_in_fold")).as("sum_fold"))
    val globTot = g.agg(sum(col("n_in_fold")).as("n_all"), sum(col("sum_in_fold")).as("sum_all"))
    g.join(broadcast(catTot), Seq("category"))
      .join(broadcast(foldTot), Seq("fold"))
      .crossJoin(broadcast(globTot))
      .withColumn("n_oof", col("n_cat") - col("n_in_fold"))
      .withColumn("sum_oof", col("sum_cat") - col("sum_in_fold"))
      .withColumn("prior_oof",
        (col("sum_all") - col("sum_fold")).cast("double")
          / (col("n_all") - col("n_fold")).cast("double"))
      .withColumn("encoding",
        (col("sum_oof").cast("double") + lit(m) * col("prior_oof"))
          / (col("n_oof").cast("double") + lit(m)))
      .select("category", "fold", "n_in_fold", "n_oof", "sum_oof", "prior_oof", "encoding")
  }
}
