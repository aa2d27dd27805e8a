package graft.gold

import graft.util.CacheRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-touch revenue attribution: credit each purchase's value to the
  * click/view touchpoints that preceded it within a lookback window —
  * first-touch, last-touch, and linear credit in one frame. The marketing
  * completion of the funnel family (gold/Behavior.scala): the funnel says
  * users convert; attribution says which touches paid for it.
  *
  * Scale shape: the purchase×touch pairing is the RangeJoin bin trick
  * (operators/RangeJoin.scala), not an inequality join — each purchase
  * explodes to the ⌈lookback/24h⌉+1 calendar days its window touches
  * (2 keys at the default 24h) and equi-joins touches on (user, day)
  * before the exact interval filter. Pair volume is bounded by per-user
  * daily activity, never corpus²; Catalyst plans a shuffled hash join,
  * not the BroadcastNestedLoopJoin the raw interval predicate would get.
  * Credit windows partition by purchase — bounded by one user's window
  * activity.
  */
object Attribution {

  private val DayUs = 86400000000L

  /** One row per (purchase, touch) with linear credit and first/last
    * flags. Deterministic: touch order is (ts_us, event_id). */
  def multiTouch(events: DataFrame, lookbackHours: Int = 24): DataFrame = {
    val lookUs = lookbackHours.toLong * 3600000000L
    val base = events.select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("ts_us"))
    val purchases = base
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("value").as("purchase_value"), col("ts_us").as("p_ts_us"))
      // every calendar day the lookback window touches (⌈look/24h⌉+1 bins,
      // row-local sequence — a 24h lookback emits its usual ≤2 bins, and
      // longer lookbacks stay correct instead of silently missing the
      // intermediate days). Bins use exact integer `div` (µs magnitudes
      // lose sub-unit precision as doubles).
      .withColumn("_bin", explode(expr(
        s"sequence((p_ts_us - ${lookUs}L) div ${DayUs}L, p_ts_us div ${DayUs}L)")))
    val touches = base
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id").as("touch_id"), col("user_id"),
        col("event_type").as("touch_type"), col("ts_us").as("t_ts_us"))
      .withColumn("_bin", expr(s"t_ts_us div ${DayUs}L"))
    val paired = purchases
      .join(touches, Seq("user_id", "_bin"))
      .filter(col("t_ts_us") >= col("p_ts_us") - lookUs &&
        col("t_ts_us") < col("p_ts_us"))
      .drop("_bin")
    val wP = Window.partitionBy(col("purchase_id"))
    val wOrd = wP.orderBy(col("t_ts_us"), col("touch_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    paired
      .withColumn("n_touches", count(lit(1)).over(wP))
      .withColumn("_first", first(col("touch_id")).over(wOrd))
      .withColumn("_last", last(col("touch_id")).over(wOrd))
      .select(
        col("purchase_id"), col("user_id"), col("purchase_value"),
        col("p_ts_us"), col("touch_id"), col("touch_type"), col("t_ts_us"),
        col("n_touches"),
        (col("purchase_value") / col("n_touches").cast("double")).as("credit_linear"),
        (col("touch_id") === col("_first")).as("is_first_touch"),
        (col("touch_id") === col("_last")).as("is_last_touch"))
      .orderBy("purchase_id", "touch_id")
  }

  /** Channel-grain credit rollup of [[multiTouch]] — the mart marketing
    * actually reads: per touch type, how many touches, how many distinct
    * purchases it influenced, its LINEAR credit total, and the
    * first-/last-touch revenue it would claim under those models.
    *
    * Exactness: per-row linear credit (an IEEE division both engines
    * compute identically) is micro-quantized BEFORE the sum, so the
    * channel totals are exact integer sums, not order-dependent double
    * sums; first/last revenue sums ride the decimal(18,2) money
    * contract. One channel-grain partial-agg exchange over the paired
    * frame. */
  def creditRollup(events: DataFrame, lookbackHours: Int = 24): DataFrame =
    multiTouch(events, lookbackHours)
      .withColumn("_credit_micro",
        floor(col("credit_linear") * lit(1000000.0)).cast("long"))
      .groupBy("touch_type")
      .agg(
        count(lit(1)).as("touches"),
        countDistinct(col("purchase_id")).as("purchases_touched"),
        sum(col("_credit_micro")).as("linear_credit_micro"),
        sum(when(col("is_first_touch"), lit(1L)).otherwise(lit(0L))).as("n_first"),
        sum(when(col("is_last_touch"), lit(1L)).otherwise(lit(0L))).as("n_last"),
        sum(when(col("is_first_touch"),
          col("purchase_value").cast("decimal(18,2)"))).cast("double")
          .as("first_touch_value"),
        sum(when(col("is_last_touch"),
          col("purchase_value").cast("decimal(18,2)"))).cast("double")
          .as("last_touch_value"))
      .withColumn("linear_credit",
        col("linear_credit_micro").cast("double") / lit(1000000.0))
      .select("touch_type", "touches", "purchases_touched",
        "linear_credit_micro", "linear_credit", "n_first", "n_last",
        "first_touch_value", "last_touch_value")
      .orderBy("touch_type")

  /** Time-decay attribution rollup: like [[creditRollup]] but recency-
    * weighted — a touch Δt before the purchase earns weight 2^(−Δt/h)
    * (halflife `halflifeHours`), and each purchase's value splits
    * pro-rata over its touches' weights. The fourth classic model next
    * to first/last/linear (and [[shapley]]'s game-theoretic fifth).
    *
    * Exactness: the only libm call (pow) float32-rounds to micro-units
    * (the Colloc.q libm-absorbing contract), after which EVERYTHING is
    * integer — per-touch credit is (value_micro · w_micro) div Σw_micro
    * (exact floor division, so per-purchase credits can undershoot the
    * purchase value by at most n_touches micro-units, never overshoot),
    * and channel totals are BIGINT sums. Same single pair-grain +
    * channel-grain exchange pair as creditRollup. */
  def timeDecay(events: DataFrame, lookbackHours: Int = 24,
                halflifeHours: Double = 6.0): DataFrame = {
    val halfUs = halflifeHours * 3600.0e6
    val wP = Window.partitionBy(col("purchase_id"))
    multiTouch(events, lookbackHours)
      .withColumn("_vm", floor(col("purchase_value") * lit(1000000.0)).cast("long"))
      // w = 2^(−Δt/h) ∈ (2^-(lookback/h), 1]; float32-round → micro ints,
      // clamped to ≥1µ so a short halflife can never floor EVERY weight
      // of a purchase to 0 and divide its credits by a zero Σw (inert at
      // the 6h/24h defaults, where the minimum weight is 62500µ)
      .withColumn("_wm", expr(
        "greatest(CAST(floor(CAST(CAST(power(2.0D, -(CAST(p_ts_us - t_ts_us AS DOUBLE) " +
          s"/ ${halfUs}D)) AS FLOAT) AS DOUBLE) * 1000000.0D) AS BIGINT), 1L)"))
      .withColumn("_wsum", sum(col("_wm")).over(wP))
      .withColumn("_credit_micro", expr("(_vm * _wm) div _wsum"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("touches"),
        countDistinct(col("purchase_id")).as("purchases_touched"),
        sum(col("_credit_micro")).as("decay_credit_micro"),
        sum(col("_wm")).as("weight_micro_total"))
      .withColumn("decay_credit",
        col("decay_credit_micro").cast("double") / lit(1000000.0))
      .select("touch_type", "touches", "purchases_touched",
        "decay_credit_micro", "decay_credit", "weight_micro_total")
      .orderBy("touch_type")
  }

  /** The channel universe for [[shapley]], in bit-index order. All four
    * non-purchase event types participate (unlike multiTouch's
    * click/view-only credit), because coalition worth needs the full
    * journey context. */
  val ShapleyChannels: Seq[String] = Seq("click", "view", "signup", "error")

  /** Exact Shapley-value revenue attribution (Shapley 1953; Zhao et al.
    * 2018 "Shapley Value Methods for Attribution Modeling"): each
    * purchase's preceding-touch channel SET is a coalition observation,
    * coalition worth v(S) = total revenue of journeys whose channel set
    * is ⊆ S, and channel i's credit is the classic weighted marginal sum
    *   φ_i = Σ_{S ∌ i} |S|!·(k−1−|S|)!/k! · (v(S∪{i}) − v(S)).
    * Unlike linear/first/last credit (a per-journey split), φ accounts
    * for synergy between channels across the whole corpus.
    *
    * Exactness: journey revenue micro-quantizes BEFORE any sum, v(S) and
    * every marginal are BIGINT sums, and the factorial weights are kept
    * as the INTEGER |S|!(k−1−|S|)! (k! is divided out only in the final
    * one-shot IEEE chain) — so `phi_scaled_micro` is exact and the
    * efficiency identity Σφ_scaled = k!·v(U) holds bit-for-bit.
    *
    * Scale shape: the corpus-sized work is the same (user, day)-binned
    * equi-join as [[multiTouch]] plus one purchase-grain and one
    * mask-grain partial agg; everything after that lives on the 2^k-row
    * coalition lattice (k = 4 ⇒ 16 rows), joined broadcast-style. No
    * per-journey 2^k expansion, no driver loop. */
  def shapley(events: DataFrame, lookbackHours: Int = 24): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val k = ShapleyChannels.size
    val lookUs = lookbackHours.toLong * 3600000000L
    val base = events.select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("ts_us"))
    val purchases = base
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        floor(col("value") * lit(1000000.0)).cast("long").as("value_micro"),
        col("ts_us").as("p_ts_us"))
      .withColumn("_bin", explode(expr(
        s"sequence((p_ts_us - ${lookUs}L) div ${DayUs}L, p_ts_us div ${DayUs}L)")))
    val chanIdx = ShapleyChannels.zipWithIndex
      .foldLeft(lit(null).cast("int")) { case (acc, (c, i)) =>
        when(col("event_type") === c, lit(i)).otherwise(acc) }
    val touches = base
      .filter(col("event_type").isin(ShapleyChannels: _*))
      .select(col("user_id"), chanIdx.as("ch_idx"),
        col("ts_us").as("t_ts_us"))
      .withColumn("_bin", expr(s"t_ts_us div ${DayUs}L"))
    // journey grain: one row per purchase with ≥1 preceding touch; mask =
    // OR of channel bits seen in the lookback
    val journeys = purchases
      .join(touches, Seq("user_id", "_bin"))
      .filter(col("t_ts_us") >= col("p_ts_us") - lookUs &&
        col("t_ts_us") < col("p_ts_us"))
      .groupBy(col("purchase_id"))
      .agg(max(col("value_micro")).as("value_micro"),
        expr("bit_or(shiftleft(1, ch_idx))").cast("int").as("mask"))
    // mask grain: ≤ 2^k − 1 rows — the bounded state everything below
    // rides; persisted so the corpus pairing above runs exactly once (it
    // feeds THREE lattice consumers: v(S) via s0 and s1, journeys_touched).
    // SINGLE-LIVE-FRAME limitation: each call releases the PREVIOUS call's
    // maskAgg, so when two shapley frames coexist (e.g. the registered
    // attribution_shapley mart view plus a later direct call) the older
    // one silently recomputes the pairing on each consumer — correct
    // results, just without the compute-once property. Callers needing
    // coexisting frames should execute each frame fully before
    // constructing the next.
    CacheRegistry.release(Attribution)
    val maskAgg = CacheRegistry.persist(Attribution, journeys.groupBy("mask")
      .agg(sum("value_micro").as("v_micro"), count(lit(1)).as("n_journeys")))
    val lattice = spark.range(1 << k).select(col("id").cast("int").as("cs"))
    // v(S) = Σ_{mask ⊆ S} v_micro(mask): a 2^k × 2^k containment join of
    // two tiny frames
    val vS = lattice
      .join(broadcast(maskAgg),
        (col("mask").bitwiseAND(col("cs")) === col("mask")), "left")
      .groupBy("cs")
      .agg(coalesce(sum("v_micro"), lit(0L)).as("v"))
    val chans = ShapleyChannels.zipWithIndex
      .toDF("touch_type", "idx")
    // integer weight |S|!(k−1−|S|)! for k = 4
    val wCase = expr(
      "CASE bit_count(cs) WHEN 0 THEN 6L WHEN 1 THEN 2L WHEN 2 THEN 2L ELSE 6L END")
    val marg = broadcast(chans)
      .join(vS.as("s0"), expr("(shiftright(cs, idx) & 1) = 0"))
      .select(col("touch_type"), col("idx"), col("cs"),
        wCase.as("w"), col("v").as("v0"))
      .join(vS.select(col("cs").as("cs1"), col("v").as("v1")).as("s1"),
        expr("cs1 = (cs | shiftleft(1, idx))"))
      .groupBy("touch_type")
      .agg(sum(col("w") * (col("v1") - col("v0"))).as("phi_scaled_micro"))
    // journeys touched per channel, for context (exact, from the mask grain)
    val touched = broadcast(chans)
      .join(maskAgg, expr("(shiftright(mask, idx) & 1) = 1"), "left")
      .groupBy("touch_type")
      .agg(coalesce(sum("n_journeys"), lit(0L)).as("journeys_touched"))
    val kFact = (1 to k).product.toDouble
    val wTot = Window.partitionBy()
    marg.join(touched, Seq("touch_type"))
      .withColumn("_tot", sum(col("phi_scaled_micro")).over(wTot))
      .select(col("touch_type"), col("journeys_touched"),
        col("phi_scaled_micro"),
        (col("phi_scaled_micro").cast("double") / lit(kFact) / lit(1000000.0))
          .as("phi_revenue"),
        (col("phi_scaled_micro").cast("double") /
          when(col("_tot") =!= 0L, col("_tot").cast("double"))).as("phi_share"))
      .orderBy("touch_type")
  }
}
