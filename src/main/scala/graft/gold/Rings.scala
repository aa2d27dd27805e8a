package graft.gold

import graft.util.CacheRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared-attribute fraud-ring detection: pairs of users transacting
  * through the same device key on the same day — the collusion signal the
  * reference's devices/geo_events topics exist to surface (ref
  * spark_jobs/silver/build_fraud_features.py joins device features per
  * user; the ring view is the pairwise completion of that join).
  *
  * Scale shape: the pair generation is a self-join at (day, device)
  * bucket grain, so pair volume is Σ m² over bucket occupancies m — the
  * same quadratic-bucket hazard as LSH banding, governed the same way
  * (MinHash.scala hot-bucket governor): buckets whose occupancy exceeds
  * `maxUsersPerBucket` are excluded BEFORE the join by a deterministic
  * occupancy predicate. A device shared by 10 000 users in one day is a
  * gateway/NAT artifact, not a ring — dropping it is the analytically
  * correct call, and the cutoff is part of the query contract (mirrored
  * verbatim in the oracle), not a silent cap.
  */
object Rings {

  /** Admitted (day, device, user) bucket membership behind the occupancy
    * governor, persisted under this object — callers own the
    * `CacheRegistry.release(Rings)` lifecycle. The membership feeds BOTH
    * sides of the pair self-join; without a persist each side re-derives
    * it from the events scan (2× scan + 2× distinct at 100 TB). Several
    * may be live at once: the incremental path holds a base and a delta
    * store. */
  private def admittedBuckets(events: DataFrame, eventType: String,
                              maxUsersPerBucket: Int): DataFrame = {
    val buckets = events
      .filter(col("event_type") === eventType)
      .select(
        to_date(col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("long").as("device"),
        col("user_id"))
      .filter(col("device").isNotNull)
      .distinct()
    // Occupancy governor at bucket grain — one partial-agged count, the
    // filter happens before any pair exists.
    val sized = buckets
      .groupBy("day", "device")
      .agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= 2 && col("_occ") <= maxUsersPerBucket)
      .select("day", "device")
    CacheRegistry.persist(Rings, buckets.join(sized, Seq("day", "device")))
  }

  /** Distinct user pairs (a < b) co-occurring on a device-day, with how
    * many device-days they shared and over how many distinct devices.
    * `deviceKey` is extracted from the events props JSON. */
  def sharedDevicePairs(events: DataFrame, eventType: String = "purchase",
                        maxUsersPerBucket: Int = 50): DataFrame = {
    CacheRegistry.release(Rings)
    pairsFromStore(pairDeviceStore(events, eventType, maxUsersPerBucket,
      releaseFirst = false))
  }

  /** The MERGEABLE pair representation at (user_a, user_b, device) grain —
    * the materialized half of an incrementally-maintained fraud graph.
    * Day buckets are self-contained (the governor is per (day, device),
    * and a day's events land wholly in one batch), so a store built from
    * base days and a store built from delta days merge EXACTLY: same-key
    * rows add their disjoint day counts — the device-graph analog of the
    * CDC→gold incremental loop (Medallion) and the LSH band-store
    * (q_neardup_incremental). */
  def pairDeviceStore(events: DataFrame, eventType: String = "purchase",
                      maxUsersPerBucket: Int = 50,
                      releaseFirst: Boolean = true): DataFrame = {
    if (releaseFirst) CacheRegistry.release(Rings)
    val admitted = admittedBuckets(events, eventType, maxUsersPerBucket)
    val a = admitted.select(col("day"), col("device"), col("user_id").as("user_a"))
    val b = admitted.select(col("day"), col("device"), col("user_id").as("user_b"))
    a.join(b, Seq("day", "device"))
      .filter(col("user_a") < col("user_b"))
      .groupBy("user_a", "user_b", "device")
      .agg(
        count(lit(1)).as("dev_days"),
        min(col("day")).as("first_day"),
        max(col("day")).as("last_day"))
  }

  /** Merge stores built from disjoint day ranges (exact — see
    * pairDeviceStore). */
  def mergePairStores(stores: DataFrame*): DataFrame =
    stores.reduce(_.unionByName(_))
      .groupBy("user_a", "user_b", "device")
      .agg(
        sum(col("dev_days")).as("dev_days"),
        min(col("first_day")).as("first_day"),
        max(col("last_day")).as("last_day"))

  /** Link prediction over the bipartite user×(day, device) graph
    * (Adamic–Adar, Adamic & Adar 2003; Liben-Nowell & Kleinberg 2007):
    * scores candidate user pairs by the RARITY of what they share —
    * Σ over shared buckets 1/ln(occupancy) — so two users meeting on a
    * 2-user device outweigh twenty meetings on a 50-user gateway. The
    * ranking layer on top of sharedDevicePairs' raw counts: which
    * not-yet-flagged pairs the ring graph predicts next.
    *
    * Also emits common-neighbor count and the degree-normalized Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| over admitted buckets.
    *
    * Cross-engine determinism: 1/ln(occ) is quantized per BUCKET to
    * micro-units through a float32 round (the Colloc.q contract — the
    * float round absorbs sub-ulp libm differences between engines), and
    * pair scores assemble by exact integer sums; Jaccard is one IEEE
    * division of exact BIGINTs. Occupancy ≥ 2 by the governor, so
    * ln never sees 1.
    *
    * Scale shape: identical to pairDeviceStore — pair volume is Σ m²
    * over governed bucket occupancies, user degrees are one partial-agg
    * count over admitted membership, and the two degree joins are
    * user-grain SHUFFLE joins (the user population is corpus-sized).
    */
  def adamicAdarPairs(events: DataFrame, eventType: String = "purchase",
                      maxUsersPerBucket: Int = 50): DataFrame = {
    CacheRegistry.release(Rings)
    val admitted = admittedBuckets(events, eventType, maxUsersPerBucket)
    // Occupancy re-derived from admitted membership (exact — the
    // governor admitted whole buckets), carried onto each wedge row.
    val occ = admitted.groupBy("day", "device")
      .agg(count(lit(1)).as("occ"))
    val qinv = "CAST(floor(CAST(CAST(1.0 / ln(CAST(occ AS DOUBLE)) AS FLOAT) AS DOUBLE)" +
      " * CAST(1000000.0 AS DOUBLE)) AS BIGINT)"
    val a = admitted.join(occ, Seq("day", "device"))
      .select(col("day"), col("device"), col("user_id").as("user_a"),
        expr(qinv).as("w_micro"))
    val b = admitted.select(col("day"), col("device"), col("user_id").as("user_b"))
    val userDeg = admitted.groupBy("user_id")
      .agg(count(lit(1)).as("u_deg"))
    a.join(b, Seq("day", "device"))
      .filter(col("user_a") < col("user_b"))
      .groupBy("user_a", "user_b")
      .agg(
        count(lit(1)).as("common_buckets"),
        sum(col("w_micro")).as("aa_micro"))
      .join(userDeg.select(col("user_id").as("user_a"), col("u_deg").as("deg_a")),
        Seq("user_a"))
      .join(userDeg.select(col("user_id").as("user_b"), col("u_deg").as("deg_b")),
        Seq("user_b"))
      .withColumn("adamic_adar", col("aa_micro").cast("double") / lit(1000000.0))
      .withColumn("jaccard", col("common_buckets").cast("double")
        / (col("deg_a") + col("deg_b") - col("common_buckets")).cast("double"))
      .select("user_a", "user_b", "common_buckets", "deg_a", "deg_b",
        "aa_micro", "adamic_adar", "jaccard")
  }

  /** DuckDB mirror — same governor, same float32-rounded micro weights. */
  def adamicAdarOracleSql(maxUsersPerBucket: Int = 50): String =
    s"""WITH b AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day,
      |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS device, user_id
      |  FROM events
      |  WHERE event_type = 'purchase'
      |    AND json_extract_string(props, '$$.k') IS NOT NULL
      |), ok AS (
      |  SELECT day, device, CAST(count(*) AS BIGINT) AS occ
      |  FROM b GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $maxUsersPerBucket
      |), adm AS (
      |  SELECT b.day, b.device, b.user_id, ok.occ
      |  FROM b JOIN ok USING (day, device)
      |), ud AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS u_deg FROM adm GROUP BY 1
      |), pw AS (
      |  SELECT x.user_id AS user_a, y.user_id AS user_b,
      |    CAST(count(*) AS BIGINT) AS common_buckets,
      |    CAST(sum(CAST(floor(CAST(CAST(1.0 / ln(CAST(x.occ AS DOUBLE)) AS FLOAT) AS DOUBLE)
      |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS aa_micro
      |  FROM adm x JOIN adm y USING (day, device)
      |  WHERE x.user_id < y.user_id
      |  GROUP BY 1, 2
      |)
      |SELECT p.user_a, p.user_b, p.common_buckets,
      |  da.u_deg AS deg_a, db.u_deg AS deg_b, p.aa_micro,
      |  CAST(p.aa_micro AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS adamic_adar,
      |  CAST(p.common_buckets AS DOUBLE)
      |    / CAST(da.u_deg + db.u_deg - p.common_buckets AS DOUBLE) AS jaccard
      |FROM pw p
      |JOIN ud da ON p.user_a = da.user_id
      |JOIN ud db ON p.user_b = db.user_id
      |ORDER BY p.user_a, p.user_b""".stripMargin

  /** Roll a (pair, device)-grain store up to the pair view —
    * shared_devices is the store's row count per pair (one row per
    * distinct device by construction), so no countDistinct is needed. */
  def pairsFromStore(store: DataFrame): DataFrame =
    store.groupBy("user_a", "user_b")
      .agg(
        sum(col("dev_days")).as("shared_device_days"),
        count(lit(1)).as("shared_devices"),
        min(col("first_day")).as("first_day"),
        max(col("last_day")).as("last_day"))
      .orderBy("user_a", "user_b")
}
