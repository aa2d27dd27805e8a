package graft.ml

import graft.operators.ScalableRank
import graft.util.CacheRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Threshold-free model evaluation: exact ROC-AUC and score calibration.
  *
  * The reference evaluates its fraud model with sklearn's `roc_auc_score`
  * on a collected pandas frame (ref ml/train.py metrics block) — fine for
  * one node, impossible at 100 TB. Here AUC is computed as a distributed
  * rank statistic (Mann–Whitney U): it needs one global ranking of the
  * scores plus one aggregate, and the ranking is the balanced
  * range-exchange of [[graft.operators.ScalableRank]], never a
  * single-partition window.
  *
  * Exactness contract (SURVEY §4): ties are handled with average ranks,
  * kept in INTEGER arithmetic by doubling — for a tie group whose SQL
  * `rank()` is r with c members, 2·avg_rank = 2r + c − 1. Summing that
  * per positive row gives an exact BIGINT; AUC is one final double
  * division of exact integers, IEEE-identical across engines:
  *
  *   AUC = (Σ_pos 2·avg_rank − P(P+1)) / (2·P·N)
  */
object Evaluation {

  /** One-row frame: positives, negatives, the doubled positive rank sum,
    * exact AUC of `score` against binary `label`, and the Gini
    * coefficient (2·AUC − 1).
    *
    * `scored` needs columns (score FLOAT/DOUBLE, label 0/1 LONG) plus a
    * unique `tiebreak` column for the total order the global row-number
    * requires (ranking output is tie-corrected afterwards, so the
    * tiebreak never affects the statistic).
    */
  def rocAuc(scored: DataFrame, scoreCol: String, labelCol: String,
             tiebreak: String): DataFrame = {
    val rn = ScalableRank.withGlobalRowNumber(
      scored.select(col(scoreCol).as("_s"), col(labelCol).cast("long").as("_l"),
        col(tiebreak).as("_tb")),
      Seq(col("_s"), col("_tb")), "_rn")
    // Tie correction at score grain: a window partitioned by the score
    // value only ever holds one tie group — bounded by tie multiplicity,
    // not by the corpus.
    val wTies = Window.partitionBy(col("_s"))
    val r2 = rn
      .withColumn("_rank", min(col("_rn")).over(wTies))
      .withColumn("_cnt", count(lit(1)).over(wTies))
      .withColumn("_r2", lit(2L) * col("_rank") + col("_cnt") - lit(1L))
    r2.agg(
        sum(col("_l")).cast("long").as("pos_n"),
        sum(lit(1L) - col("_l")).cast("long").as("neg_n"),
        sum(when(col("_l") === 1L, col("_r2")).otherwise(lit(0L)))
          .cast("long").as("rank_sum2"))
      .withColumn("auc",
        (col("rank_sum2") - col("pos_n") * (col("pos_n") + lit(1L))).cast("double") /
          (lit(2.0) * col("pos_n") * col("neg_n")))
      .withColumn("gini", lit(2.0) * col("auc") - lit(1.0))
  }

  /** Precision/recall/F1 at every occupied threshold of a fixed grid — the
    * operating-point sweep behind the reference's serving threshold
    * choice (ref ml/serving/api.py hard-codes 0.5; this is the frame
    * that justifies it).
    *
    * Scale shape: scores collapse to `steps` grid bins in ONE
    * partial-agged groupBy; tp/fp at each threshold are SUFFIX sums
    * over the ≤`steps`-row bin frame (bins align with thresholds, so
    * score ≥ t_j ⟺ bin ≥ j exactly — no per-threshold rescan, no
    * cross join of data × thresholds). All integer until the final
    * ratios.
    */
  def thresholdSweep(scored: DataFrame, scoreCol: String, labelCol: String,
                     steps: Int = 20): DataFrame = {
    val s = col(scoreCol).cast("double")
    val l = col(labelCol).cast("long")
    val bins = scored
      .select(least(floor(s * steps).cast("long"), lit(steps - 1L)).as("bin"),
        l.as("_l"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("_n"), sum(col("_l")).cast("long").as("_pos"))
    // ≤ steps rows from here on: the windows are constant-size.
    val wAll = Window.partitionBy(lit(1))
    val wSuffix = Window.partitionBy(lit(1)).orderBy(col("bin"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val cum = bins
      .withColumn("total_pos", sum(col("_pos")).over(wAll))
      .withColumn("total", sum(col("_n")).over(wAll))
      .withColumn("tp", sum(col("_pos")).over(wSuffix))
      .withColumn("predicted_pos", sum(col("_n")).over(wSuffix))
    cum
      .select(
        col("bin").as("threshold_step"),
        (col("bin").cast("double") / steps).as("threshold"),
        col("tp"),
        (col("predicted_pos") - col("tp")).as("fp"),
        (col("total_pos") - col("tp")).as("fn"),
        (col("total") - col("predicted_pos") - col("total_pos") + col("tp")).as("tn"),
        (col("tp").cast("double") / col("predicted_pos")).as("precision"),
        (col("tp").cast("double") / col("total_pos")).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0.0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))
      .orderBy("threshold_step")
  }

  /** Decile gains/lift table — the fraud-ops targeting view ("review the
    * top decile, catch X% of fraud at Y× random"): rank by score
    * descending, cut into `deciles` equal-population tiles, report
    * per-tile positives, the cumulative capture rate (the gains curve),
    * and per-tile + cumulative lift vs the base rate.
    *
    * Exactness: the tile cut is ScalableRank's arithmetic ntile (no
    * single-partition window over the corpus; the same cut DuckDB's
    * ntile produces); every rate is a single IEEE chain over exact
    * BIGINT counts, products formed in double space so pos·N never
    * overflows. Once at decile grain the frame is `deciles` rows —
    * the cumulative window is constant-size.
    */
  def gainsTable(scored: DataFrame, scoreCol: String, labelCol: String,
                 tiebreakCol: String, deciles: Int = 10): DataFrame = {
    val tiled = ScalableRank.ranked(
      scored.select(col(scoreCol), col(labelCol).cast("long").as("_l"),
        col(tiebreakCol)),
      col(scoreCol), col(tiebreakCol), deciles)
    val perTile = tiled.groupBy(col("ntile").as("decile"))
      .agg(count(lit(1)).as("n"), sum(col("_l")).as("pos"))
    val wAll = Window.partitionBy(lit(1))
    val wCum = Window.partitionBy(lit(1)).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perTile
      .withColumn("n_total", sum(col("n")).over(wAll))
      .withColumn("pos_total", sum(col("pos")).over(wAll))
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("cum_pos", sum(col("pos")).over(wCum))
      .withColumn("capture_rate",
        col("cum_pos").cast("double") / col("pos_total").cast("double"))
      .withColumn("lift",
        col("pos").cast("double") * col("n_total").cast("double")
          / (col("n").cast("double") * col("pos_total").cast("double")))
      .withColumn("cum_lift",
        col("cum_pos").cast("double") * col("n_total").cast("double")
          / (col("cum_n").cast("double") * col("pos_total").cast("double")))
      .select("decile", "n", "pos", "cum_n", "cum_pos",
        "capture_rate", "lift", "cum_lift")
      .orderBy("decile")
  }

  /** Reliability-diagram bins: fixed decile bins over [0,1) score space,
    * per-bin support, positive rate, and mean predicted score.
    *
    * Mean prediction is kept oracle-exact with the micro-unit
    * quantization contract (UnigramLm pattern): per-row
    * floor(score·10⁶) summed as BIGINT, divided once at the end. The
    * per-bin squared-error sum (Brier numerator) is quantized the same
    * way at 10⁹ so the whole frame stays hash-exact. One partial-agged
    * groupBy over ≤ `bins` groups — scan-bound at any scale.
    */
  def calibrationBins(scored: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    val s = col(scoreCol).cast("double")
    val l = col(labelCol).cast("long")
    scored
      .select(
        least(floor(s * bins).cast("long"), lit(bins - 1L)).as("bin"),
        l.as("_l"),
        floor(s * 1000000d).cast("long").as("_s_micro"),
        floor((s - l.cast("double")) * (s - l.cast("double")) * 1000000000d)
          .cast("long").as("_sq_nano"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("_l")).cast("long").as("positives"),
        sum(col("_s_micro")).cast("long").as("sum_score_micro"),
        sum(col("_sq_nano")).cast("long").as("brier_sum_nano"))
      .withColumn("bin_lo", col("bin").cast("double") / bins)
      .withColumn("pos_rate", col("positives").cast("double") / col("n"))
      .withColumn("mean_pred",
        col("sum_score_micro").cast("double") / lit(1000000.0) / col("n"))
      .withColumn("calib_gap", col("mean_pred") - col("pos_rate"))
      .orderBy("bin")
  }

  /** Murphy (1973) decomposition of the binned Brier score:
    * REL − RES + UNC — reliability (how far bin mean-predictions sit
    * from bin outcome rates: miscalibration), resolution (how far bin
    * outcome rates spread from the base rate: discrimination), and
    * uncertainty (base-rate variance, the irreducible floor). The
    * single-number diagnosis of WHY a probabilistic scorer is good or
    * bad, on the same decile bins as [[calibrationBins]].
    *
    * Exactness: per-bin terms are fixed IEEE chains over exact integer
    * bin aggregates (micro-quantized score sums, the calibration
    * contract); the Σ over bins — a parallel double sum would be
    * order-nondeterministic — runs as a LEFT FOLD over the bin-sorted
    * array (Spark `aggregate` HOF ↔ DuckDB list_reduce with a prepended
    * 0.0, the Kaplan–Meier contract), scalar accumulator only (the
    * DuckDB struct-accumulator quirk).
    *
    * Scale shape: one ≤bins-group partial-agg exchange, then a 1-row
    * frame; everything after is row-local arithmetic.
    */
  def brierDecomposition(scored: DataFrame, scoreCol: String,
                         labelCol: String, bins: Int = 10): DataFrame = {
    val s = col(scoreCol).cast("double")
    val l = col(labelCol).cast("long")
    val binned = scored
      .select(least(floor(s * bins).cast("long"), lit(bins - 1L)).as("bin"),
        l.as("_l"), floor(s * 1000000d).cast("long").as("_s_micro"))
      .groupBy("bin")
      .agg(count(lit(1)).as("nb"), sum(col("_l")).as("pos"),
        sum(col("_s_micro")).as("sm"))
    val yhat = "(CAST(b.sm AS DOUBLE) / (CAST(b.nb AS DOUBLE) * CAST(1000000.0 AS DOUBLE)))"
    val obs = "(CAST(b.pos AS DOUBLE) / CAST(b.nb AS DOUBLE))"
    binned
      .agg(
        sum(col("nb")).as("n_total"), sum(col("pos")).as("pos_total"),
        sort_array(collect_list(struct(col("bin"), col("nb"), col("pos"),
          col("sm")))).as("bs"))
      .withColumn("base_rate",
        col("pos_total").cast("double") / col("n_total").cast("double"))
      .withColumn("reliability", expr(
        s"aggregate(bs, CAST(0.0 AS DOUBLE), (acc, b) -> acc" +
          s" + CAST(b.nb AS DOUBLE) * ($yhat - $obs) * ($yhat - $obs))")
        / col("n_total").cast("double"))
      .withColumn("resolution", expr(
        s"aggregate(bs, CAST(0.0 AS DOUBLE), (acc, b) -> acc" +
          s" + CAST(b.nb AS DOUBLE) * ($obs - base_rate) * ($obs - base_rate))")
        / col("n_total").cast("double"))
      .withColumn("uncertainty",
        col("base_rate") * (lit(1.0) - col("base_rate")))
      .withColumn("brier_binned",
        col("reliability") - col("resolution") + col("uncertainty"))
      .select("n_total", "pos_total", "base_rate", "reliability",
        "resolution", "uncertainty", "brier_binned")
  }

  /** Per-segment exact AUC with a DeLong 95% confidence interval — the
    * fairness / cohort-regression panel: a model whose global AUC holds
    * can still collapse on one region or tier, and the CI says whether a
    * segment gap is signal or small-sample noise.
    *
    * Same exactness contract as [[delongCompare]] (doubled midranks WITHIN
    * the segment, centered integer components, exact decimal squared
    * sums, one mirrored IEEE chain), but aggregated pos/neg-weighted at
    * (segment, score) grain — no row-level join-back is needed because a
    * single scorer's components are constant across a score's tie group.
    * Segments with m ≤ 1 or n ≤ 1 report NULL se/CI (no variance
    * estimate) instead of trapping ANSI division.
    *
    * Scale: one (segment, score)-grain partial-agged groupBy, ONE packed
    * ScalableRank grouped prefix sum (running all/pos counts share a
    * pass; a segment never funnels into one partition), one segment-grain
    * scalar join back. Output = |segments| rows. */
  def aucBySegment(scored: DataFrame, segCol: String, scoreCol: String,
                   labelCol: String): DataFrame = {
    val rows = scored.select(col(segCol).as("_seg"), col(scoreCol).as("_s"),
      col(labelCol).cast("long").as("_l"))
    val g = rows.groupBy("_seg", "_s")
      .agg(count(lit(1)).as("_cnt"), sum(col("_l")).cast("long").as("_pos"))
    // packed (cnt, pos) prefix — see midrankTable: one exchange, not two
    val c2 = ScalableRank.withGroupedPrefixSum(
        g, col("_seg"), Seq(col("_s").asc),
        col("_cnt") * lit(1L << 31) + col("_pos"), "_cum_packed")
      .withColumn("_cum_all", shiftright(col("_cum_packed"), 31))
      .withColumn("_cum_pos", col("_cum_packed").bitwiseAND(lit((1L << 31) - 1)))
    val h = c2.select(col("_seg"), col("_cnt"), col("_pos"),
      (lit(2L) * col("_cum_all") + col("_cnt") + lit(1L)).as("h2"),
      (lit(2L) * col("_cum_pos") + col("_pos") + lit(1L)).as("h2p"),
      (lit(2L) * (col("_cum_all") - col("_cum_pos")) +
        (col("_cnt") - col("_pos")) + lit(1L)).as("h2n"))
    val scalars = h.groupBy("_seg").agg(
        sum(col("_pos")).cast("long").as("m"),
        sum(col("_cnt") - col("_pos")).cast("long").as("n"),
        sum(col("_pos") * col("h2")).cast("long").as("_r2"),
        sum((col("_cnt") - col("_pos")) * col("h2")).cast("long").as("_q2"))
      .select(col("_seg").as("_gs"), col("m"), col("n"),
        (col("_r2") - col("m") * (col("m") + lit(1L))).as("s_off"),
        (col("_q2") - col("n") * (col("n") + lit(1L))).as("t_off"))
    val dec = "decimal(19,0)"
    val sums = h.alias("hh").join(scalars.alias("sc"),
        col("hh._seg") <=> col("sc._gs"))
      .withColumn("ca", (col("m") * (col("h2") - col("h2p")) - col("s_off"))
        .cast(dec))
      .withColumn("cb", (col("n") * (col("h2") - col("h2n")) - col("t_off"))
        .cast(dec))
      .groupBy("_seg", "m", "n", "s_off")
      // pos/neg weights fold the tie group without a row-level expand
      .agg(sum(col("_pos").cast(dec) * col("ca") * col("ca")).as("sum_a2"),
        sum((col("_cnt") - col("_pos")).cast(dec) * col("cb") * col("cb"))
          .as("sum_b2"))
    val mD = col("m").cast("double")
    val nD = col("n").cast("double")
    sums
      .withColumn("c2", lit(2.0) * mD * nD)
      .withColumn("auc", when(col("m") > 0L && col("n") > 0L,
        col("s_off").cast("double") / col("c2"))
        .otherwise(lit(null).cast("double")))
      .withColumn("se", when(col("m") > 1L && col("n") > 1L,
        sqrt(col("sum_a2").cast("double") /
            ((mD - lit(1.0)) * col("c2") * col("c2") * mD) +
          col("sum_b2").cast("double") /
            ((nD - lit(1.0)) * col("c2") * col("c2") * nD)))
        .otherwise(lit(null).cast("double")))
      .withColumn("ci_lo", col("auc") - lit(1.96) * col("se"))
      .withColumn("ci_hi", col("auc") + lit(1.96) * col("se"))
      .select(col("_seg").as("segment"), col("m").as("pos_n"),
        col("n").as("neg_n"), col("auc"), col("se"), col("ci_lo"), col("ci_hi"))
  }

  /** Split-conformal anomaly thresholds (inductive conformal prediction,
    * Vovk et al. 2005; Papadopoulos 2008): for each miscoverage level α,
    * the threshold is the ⌈(n_cal+1)(1−α)⌉-th smallest calibration-
    * NEGATIVE score — flagging test points above it bounds the expected
    * false-flag rate among exchangeable negatives by α, with NO
    * distributional assumption on the scorer. The frame a fraud platform
    * reads to pick an alert budget with a guarantee instead of a vibe.
    *
    * Deterministic end to end: the calibration split is a modulo of the
    * id, the rank selection is exact (ScalableRank global row number —
    * tie values make any tiebreak value-identical), k is one IEEE chain,
    * and the test metrics are integer counts with one division each.
    * α levels where k exceeds n_cal yield a NULL threshold (flag
    * nothing) rather than an unsound max-score cutoff.
    *
    * Scale: one global ranking of calibration negatives, a |α|-row
    * broadcast of thresholds expanded over the test slice map-only, one
    * (α)-grain partial-agged rollup. */
  def conformalThresholds(scored: DataFrame, scoreCol: String,
                          labelCol: String, idCol: String,
                          alphas: Seq[Double] = Seq(0.01, 0.05, 0.1, 0.2)): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val base = scored.select(col(idCol).as("_id"), col(scoreCol).as("_s"),
        col(labelCol).cast("long").as("_l"))
      .withColumn("_cal", col("_id") % 5 =!= 0)
    val calNeg = base.filter(col("_cal") && col("_l") === 0L)
    val ranked = ScalableRank.withGlobalRowNumber(calNeg,
      Seq(col("_s").asc, col("_id").asc), "_rn")
    // count over the RANKED frame (row count preserved by construction):
    // it reads ScalableRank's persisted range exchange instead of
    // recomputing the calNeg lineage from the source scans
    val nCal = ranked.agg(count(lit(1)).cast("long").as("n_cal"))
    val ks = alphas.toDF("alpha").crossJoin(broadcast(nCal))
      .withColumn("k",
        ceil((col("n_cal") + lit(1L)) * (lit(1.0) - col("alpha"))).cast("long"))
    val thr = ks.join(ranked, col("k") === col("_rn"), "left")
      .select(col("alpha"), col("n_cal"), col("k"), col("_s").as("threshold"))
    base.filter(!col("_cal")).crossJoin(broadcast(thr))
      .withColumn("flag",
        col("threshold").isNotNull && col("_s") > col("threshold"))
      .groupBy("alpha", "n_cal", "k", "threshold")
      .agg(
        sum(when(col("_l") === 0L, 1L).otherwise(0L)).cast("long").as("n_test_neg"),
        sum(when(col("_l") === 0L && col("flag"), 1L).otherwise(0L))
          .cast("long").as("false_flags"),
        sum(when(col("_l") === 1L, 1L).otherwise(0L)).cast("long").as("n_test_pos"),
        sum(when(col("_l") === 1L && col("flag"), 1L).otherwise(0L))
          .cast("long").as("detected"))
      .withColumn("fp_rate", when(col("n_test_neg") > 0L,
        col("false_flags").cast("double") / col("n_test_neg").cast("double"))
        .otherwise(lit(null).cast("double")))
      .withColumn("recall", when(col("n_test_pos") > 0L,
        col("detected").cast("double") / col("n_test_pos").cast("double"))
        .otherwise(lit(null).cast("double")))
  }

  /** Score-grain midrank table for one scorer: (_sv_<prefix>,
    * <prefix>_h2/h2p/h2n) — collapse to score grain, then exact
    * distributed exclusive prefix sums (ScalableRank — never a
    * single-partition running total). For a row at score v (cum = counts
    * strictly below v): 2·midrank = 2·cum + cnt + 1, and likewise within
    * the row's own class.
    *
    * Derived from `rows` alone — independent of any other scorer's
    * decoration, which is what lets delongCompare attach BOTH scorers'
    * tables to the undecorated rows in one flat join chain instead of
    * nesting decorations (the nested form embedded the whole scored
    * lineage ~21× in the plan — 205 Exchange nodes / 84 scans at sf0.1 —
    * and every planning/canonicalization pass walked all of it).
    *
    * BOTH scorers ride ONE grouped prefix pass: their score values stack
    * under a `_side` tag and the prefix sum groups by side — per-side
    * prefixes are independent, so the integers are identical to two
    * separate passes, at half the range-exchange/persist/offset-broadcast
    * machinery (and the side-tagged union costs the same two collapse
    * aggregations the separate passes paid anyway). */
  private def midrankTables(rows: DataFrame): (DataFrame, DataFrame) = {
    val stacked = rows.select(lit("a").as("_side"), col("_sa").as("_sv"), col("_l"))
      .unionByName(rows.select(lit("b").as("_side"), col("_sb").as("_sv"), col("_l")))
    val g = stacked.groupBy("_side", "_sv")
      .agg(count(lit(1)).as("_cnt"), sum(col("_l")).cast("long").as("_pos"))
    // ONE prefix pass for both running counts: pack (cnt, pos) into a
    // single long (cnt·2³¹ + pos — exact while each stays < 2³¹, the same
    // ~10⁹-row bound the decimal components carry), prefix-sum the packed
    // value, unpack with shift/mask. Halves the range exchanges.
    val cum2 = ScalableRank.withGroupedPrefixSum(
        g, col("_side"), Seq(col("_sv").asc),
        col("_cnt") * lit(1L << 31) + col("_pos"), "_cum_packed")
      .withColumn("_cum_all", shiftright(col("_cum_packed"), 31))
      .withColumn("_cum_pos", col("_cum_packed").bitwiseAND(lit((1L << 31) - 1)))
    def table(prefix: String): DataFrame = cum2
      .filter(col("_side") === prefix)
      .select(
        col("_sv").as(s"_sv_$prefix"),
        (lit(2L) * col("_cum_all") + col("_cnt") + lit(1L)).as(s"${prefix}_h2"),
        (lit(2L) * col("_cum_pos") + col("_pos") + lit(1L)).as(s"${prefix}_h2p"),
        (lit(2L) * (col("_cum_all") - col("_cum_pos")) +
          (col("_cnt") - col("_pos")) + lit(1L)).as(s"${prefix}_h2n"))
    (table("a"), table("b"))
  }

  /** DeLong, DeLong & Clarke-Pearson (1988) comparison of two PAIRED
    * classifiers: exact AUCs, the variance of their difference from the
    * rank-based structural components, and the z statistic — the
    * "is model B actually better?" significance test, fully distributed.
    *
    * Exactness (§4): midranks are doubled into integers (the rocAuc
    * contract); each structural component is centered and scaled to the
    * INTEGER  A_i = m·(h2_i − h2⁺_i) − S  (positives; negatives mirror
    * with n/T), so all (co)variance sums are exact DECIMAL(38,0) integer
    * sums and the final statistics are one mirrored IEEE chain. Overflow
    * bound: components ~ N², products ~ N⁴ — exact to ~10⁹ rows, far
    * past any single evaluation slice (significance saturates long
    * before; subsample beyond that).
    *
    * Scale shape per scorer: one score-grain partial-agged groupBy, ONE
    * packed distributed prefix sum over the collapsed frame (running
    * all/pos counts share the pass), one join back at score grain; the
    * decorated frame persists through the bounded ScalableRank registry
    * (it feeds the scalar aggregate AND the component sums); scalars are
    * a 1-row aggregate broadcast BACK into the projection (no driver
    * round-trip). Output: one row. */
  def delongCompare(scored: DataFrame, scoreA: String, scoreB: String,
                    labelCol: String): DataFrame = {
    val rows = scored.select(col(scoreA).as("_sa"), col(scoreB).as("_sb"),
      col(labelCol).cast("long").as("_l"))
    // Both scorers' midrank tables derive from `rows` independently and
    // attach in one FLAT join chain — the former nested decoration
    // (withMidranks of withMidranks) replicated the scored lineage
    // multiplicatively in the plan; flat attachment keeps it linear, and
    // one side-tagged prefix pass serves both tables (midrankTables).
    val (encA, encB) = midrankTables(rows)
    val ranked = CacheRegistry.persist(ScalableRank, rows
      .join(encA, col("_sa") === col("_sv_a")).drop("_sv_a")
      .join(encB, col("_sb") === col("_sv_b")).drop("_sv_b"))
    // scalar frame: m, n, and the four rank-sum offsets
    val scalars = ranked.agg(
      sum(col("_l")).cast("long").as("m"),
      sum(lit(1L) - col("_l")).cast("long").as("n"),
      sum(when(col("_l") === 1L, col("a_h2")).otherwise(lit(0L)))
        .cast("long").as("_ra"),
      sum(when(col("_l") === 1L, col("b_h2")).otherwise(lit(0L)))
        .cast("long").as("_rb"),
      sum(when(col("_l") === 0L, col("a_h2")).otherwise(lit(0L)))
        .cast("long").as("_qa"),
      sum(when(col("_l") === 0L, col("b_h2")).otherwise(lit(0L)))
        .cast("long").as("_qb"))
      .select(col("m"), col("n"),
        (col("_ra") - col("m") * (col("m") + lit(1L))).as("sa"),
        (col("_rb") - col("m") * (col("m") + lit(1L))).as("sb"),
        (col("_qa") - col("n") * (col("n") + lit(1L))).as("ta"),
        (col("_qb") - col("n") * (col("n") + lit(1L))).as("tb"))
    // decimal(19,0) components ⇒ products promote to decimal(38,0):
    // exact through ~10⁹-row evaluation slices (see scaladoc bound)
    val dec = "decimal(19,0)"
    val withC = ranked.crossJoin(broadcast(scalars))
      // centered integer structural components (0 for the other class)
      .withColumn("aa", when(col("_l") === 1L,
        col("m") * (col("a_h2") - col("a_h2p")) - col("sa")).otherwise(lit(0L))
        .cast(dec))
      .withColumn("ab", when(col("_l") === 1L,
        col("m") * (col("b_h2") - col("b_h2p")) - col("sb")).otherwise(lit(0L))
        .cast(dec))
      .withColumn("ba", when(col("_l") === 0L,
        col("n") * (col("a_h2") - col("a_h2n")) - col("ta")).otherwise(lit(0L))
        .cast(dec))
      .withColumn("bb", when(col("_l") === 0L,
        col("n") * (col("b_h2") - col("b_h2n")) - col("tb")).otherwise(lit(0L))
        .cast(dec))
    val sums = withC.groupBy("m", "n", "sa", "sb", "ta", "tb")
      .agg(sum(col("aa") * col("aa")).as("paa"),
        sum(col("ab") * col("ab")).as("pbb"),
        sum(col("aa") * col("ab")).as("pab"),
        sum(col("ba") * col("ba")).as("qaa"),
        sum(col("bb") * col("bb")).as("qbb"),
        sum(col("ba") * col("bb")).as("qab"))
    val mD = col("m").cast("double")
    val nD = col("n").cast("double")
    sums
      .withColumn("c2", lit(2.0) * mD * nD) // the (2mn) scaling, once
      .withColumn("auc_a", col("sa").cast("double") / col("c2"))
      .withColumn("auc_b", col("sb").cast("double") / col("c2"))
      .withColumn("delta", col("auc_a") - col("auc_b"))
      .withColumn("var10",
        (col("paa").cast("double") + col("pbb").cast("double") -
          lit(2.0) * col("pab").cast("double")) /
          ((mD - lit(1.0)) * col("c2") * col("c2") * mD))
      .withColumn("var01",
        (col("qaa").cast("double") + col("qbb").cast("double") -
          lit(2.0) * col("qab").cast("double")) /
          ((nD - lit(1.0)) * col("c2") * col("c2") * nD))
      .withColumn("se", sqrt(col("var10") + col("var01")))
      // identical-rank scorers have zero variance of the difference: no
      // sampling distribution to test against (and ANSI division traps)
      .withColumn("z", when(col("se") === 0.0, lit(null).cast("double"))
        .otherwise(col("delta") / col("se")))
      .select(col("m").as("pos_n"), col("n").as("neg_n"),
        col("auc_a"), col("auc_b"), col("delta"), col("se"), col("z"))
  }
}
