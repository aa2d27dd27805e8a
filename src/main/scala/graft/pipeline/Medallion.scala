package graft.pipeline

import graft.gold.{FraudSummary, Revenue}
import graft.ml.FraudScore
import graft.operators.{Bronze, Cleaning, Enrichment, MergeUpsert}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze → Silver → Gold medallion materialization: the reference's
  * layered lakehouse (Kafka→Delta on MinIO, Airflow-scheduled) re-expressed
  * as partitioned parquet layers with idempotent silver merges.
  * Ref: /root/reference/spark_jobs/ (bronze, silver, gold jobs) and
  * /root/reference/airflow/dags/ (layer scheduling).
  *
  * Layout and scale choices:
  *  - every layer partitioned by its date column (`partitionBy`) — the
  *    100 TB pruning axis; daily re-processing rewrites only its partition;
  *  - silver is MERGE-upserted on the business key, so any slice can be
  *    re-processed any number of times without duplicates (the reference's
  *    core idempotency contract);
  *  - gold tables are sorted within partitions on their dominant filter
  *    column (the reference Z-orders on (shipping_country, event_date) —
  *    same locality goal, parquet-native mechanism: row-group min/max
  *    pruning on the sorted column).
  */
class Medallion(spark: SparkSession, sfDir: String, warehouseDir: String) {

  private def path(layer: String, table: String) = s"$warehouseDir/$layer/$table"

  // ---- bronze: raw + lineage, append-shaped, partitioned by event_date ----

  def runBronze(): Unit = {
    Bronze.bronzeEvents(graft.Tables.events(spark, sfDir))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path("bronze", "events"))

    graft.Tables.orders(spark, sfDir)
      .withColumn("order_date", col("o_orderdate").cast("date"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("order_date")
      .parquet(path("bronze", "orders"))
  }

  // ---- silver: cleaned + enriched, MERGE-idempotent ----

  /** Cleans/enriches bronze orders and MERGE-upserts into silver (source
    * wins on o_orderkey) — running this any number of times yields the
    * same table. */
  def runSilver(): Unit = {
    // merge-on-read: rows tombstoned in bronze (GDPR erasure) must not
    // resurrect into a rebuilt silver
    val bronzeOrders = DeletionVectors.read(spark, path("bronze", "orders"))
      .drop("order_date") // re-derived by cleaning
    val enriched = Enrichment.enrichOrders(
      Cleaning.cleanOrders(bronzeOrders),
      graft.Tables.customer(spark, sfDir),
      graft.Tables.nation(spark, sfDir),
      graft.Tables.region(spark, sfDir))

    upsertSilver("orders_enriched", enriched, Seq("o_orderkey"), "order_date")
  }

  /** MERGE-upsert `updates` into a versioned silver table (created on the
    * first call), with schema evolution: a run that starts carrying a new
    * column widens the table (old rows null), and a run that stops carrying
    * one leaves existing values in place — the reference's Delta autoMerge
    * write contract (delta_utils.py upsert_delta). Each run lands in a new
    * v=N snapshot (Delta-style time travel without Delta); readers pin a
    * version for point-in-time correctness. Returns the committed version.
    *
    * Concurrency: optimistic, Delta's commit-protocol shape. The MERGE is
    * computed against the latest committed snapshot B; before writing,
    * the writer atomically CLAIMS version B+1 (exclusive file create
    * under `_commits/`). A second writer that also read B loses the
    * claim and gets [[Medallion.ConcurrentWriteException]] — it must
    * re-read and re-merge, because its inputs are stale (a MERGE on the
    * same keys is never blind-retryable; Delta raises
    * ConcurrentAppendException for the same reason). Without the claim,
    * the race is a silent lost update: both writers compute v=B+1 and
    * the second Overwrite erases the first. Atomicity rides on the
    * filesystem's exclusive create (HDFS/local; an object store needs a
    * coordinating LogStore, exactly as Delta documents). */
  def upsertSilver(table: String, updates: DataFrame, keys: Seq[String],
                   partitionCol: String,
                   checks: Seq[(String, org.apache.spark.sql.Column)] = Nil): Long = {
    // Delta CHECK-constraint analog: a violating batch fails BEFORE any
    // snapshot is written — no version is committed, readers see nothing.
    // enforce returns the PINNED batch so the write below lands the exact
    // rows that passed validation (not a recomputation of them).
    val validated = graft.operators.Constraints.enforce(updates, checks)
    val prev = latestVersion(table)
    val merged = prev match {
      case Some(_) => MergeUpsert.mergeEvolve(
        readSilver(table).drop("_merge_action"), validated, keys)
      case None => validated.withColumn("_merge_action", lit("inserted"))
    }
    val next = prev.getOrElse(0L) + 1
    claimVersion(table, next)
    try merged.write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
      .parquet(path("silver", table) + s"/v=$next")
    finally if (checks.nonEmpty) validated.unpersist(blocking = false)
    next
  }

  /** Atomically claim `version` of `table` or throw
    * [[Medallion.ConcurrentWriteException]] if another writer holds it. */
  private def claimVersion(table: String, version: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(
      path("silver", table), s"_commits/v=$version")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.create(marker, /* overwrite = */ false).close()
    catch {
      case _: java.io.IOException =>
        throw new Medallion.ConcurrentWriteException(
          s"silver $table v=$version already claimed by a concurrent " +
            "writer; re-read the latest snapshot and re-merge")
    }
  }

  /** Delta VACUUM analog (ref: delta_utils.py vacuum_delta_table — default
    * RETAIN 168 HOURS on daily runs ≈ keep the last 7 snapshots): drop all
    * but the newest `keep` silver versions. The current version is never
    * deletable (`keep >= 1` enforced), so readers of the latest snapshot
    * are immune; pinned readers of older versions lose them — the same
    * contract as Delta vacuum. Returns the deleted versions. */
  def vacuumSilver(table: String, keep: Int = 7): Seq[Long] = {
    require(keep >= 1, "vacuum must keep at least the current version")
    val dir = new org.apache.hadoop.fs.Path(path("silver", table))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val versions = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).sorted
    val doomed = versions.dropRight(keep)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"v=$v"), true)
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"_commits/v=$v"), false)
    }
    doomed.toSeq
  }

  /** Highest COMMITTED silver version, if any. A snapshot counts only
    * when its directory carries Spark's _SUCCESS commit marker — a
    * crashed half-written v=N must never be readable as latest (the
    * poor-man's transaction-log visibility rule; Delta gets the same
    * from its log). */
  def latestVersion(table: String): Option[Long] =
    committedVersions(table).lastOption

  /** Every COMMITTED silver version of `table` (carrying the _SUCCESS
    * visibility marker), ascending. */
  def committedVersions(table: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(path("silver", table))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("v="))
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.getName.stripPrefix("v=").toLong).sorted.toSeq
  }

  /** Point-in-time read of a specific silver snapshot — merge-on-read:
    * deletion vectors (row-level deletes, GDPR erasure) are subtracted.
    * Vector-free snapshots cost one fs.exists beyond a plain scan. */
  def readSilverVersion(table: String, version: Long): DataFrame =
    DeletionVectors.read(spark, path("silver", table) + s"/v=$version")

  /** Timestamp time travel (the `timestampAsOf` half of the reference's
    * read_delta, delta_utils.py:80 — [[readSilverVersion]] is the
    * `versionAsOf` half): reads the greatest committed version whose
    * commit time is ≤ `tsMillis`. Commit time is the visibility moment —
    * the instant [[committedVersions]] started listing the snapshot: the
    * `_SUCCESS` marker's mtime, or the `_commit_ts` marker a physical
    * rewrite ([[DeletionVectors.materialize]], e.g. a GDPR purge) carried
    * forward in its place — so "as of T" returns exactly what a reader AT
    * time T saw, even after every file in the snapshot was rewritten.
    * Throws if no version was visible yet (same contract as Delta's
    * timestampAsOf before the first commit). */
  def readSilverAsOf(table: String, tsMillis: Long): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(path("silver", table))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val visible = committedVersions(table).filter { v =>
      DeletionVectors.commitTimeMillis(fs,
          new org.apache.hadoop.fs.Path(dir, s"v=$v"))
        .exists(_ <= tsMillis)
    }
    require(visible.nonEmpty,
      s"no committed version of silver $table at or before $tsMillis")
    readSilverVersion(table, visible.max)
  }

  /** Change-data-feed between two silver snapshots (Delta
    * `table_changes` equivalent): inserts/updates/deletes of `attrs` at
    * `keys` grain. Feeds incremental gold — the changed-partition set for
    * runGoldIncremental is `feed.select(dateCol).distinct()` instead of
    * "reprocess everything". */
  def silverChanges(table: String, fromVersion: Long, toVersion: Long,
                    keys: Seq[String], attrs: Seq[String]): DataFrame =
    graft.operators.ChangeFeed.changes(
      readSilverVersion(table, fromVersion),
      readSilverVersion(table, toVersion), keys, attrs)

  // ---- gold: aggregates, sorted-within-partition on the filter axis ----

  /** Gold's view of events: the BRONZE layer read through its deletion
    * vectors — NOT the raw source. The layering rule that makes erasure
    * stick: a gold rebuild that read the un-erased source would resurrect
    * a forgotten subject into subject-grain gold (and its Overwrite wipes
    * the tombstones that were hiding it). `ts` is restored from the
    * bronze partition date for the date-grain consumers (bit-identical:
    * they only cast it straight back to a date). */
  private def eventsForGold: DataFrame =
    DeletionVectors.read(spark, path("bronze", "events"))
      .withColumn("ts", col("event_date").cast("timestamp"))

  def runGold(): Unit = {
    val silver = readSilver("orders_enriched")
    Revenue.revenueDaily(silver)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("order_date")
      .parquet(path("gold", "revenue_daily"))

    FraudScore.score(FraudScore.featureVector(silver))
      .sortWithinPartitions("risk_label")
      .write.mode(SaveMode.Overwrite).parquet(path("gold", "fraud_scores"))

    FraudSummary.userRiskScores(eventsForGold)
      .write.mode(SaveMode.Overwrite).parquet(path("gold", "user_risk_scores"))

    FraudSummary.fraudSummaryDaily(eventsForGold)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path("gold", "fraud_summary"))

    // data-skipping manifest on the sorted axis of the unpartitioned
    // scores table (the partitioned tables prune by directory already)
    FileStats.collect(spark, path("gold", "fraud_scores"),
      Seq("risk_label", "fraud_score"))
  }

  /** Manifest-planned range read of a gold table (see FileStats): only
    * files whose [min,max] on `column` intersects [lo,hi] reach the scan.
    * Merge-on-read like every other reader — a partial scan subtracts
    * exactly its own files' tombstones. */
  def readGoldRange(table: String, column: String, lo: Any, hi: Any): DataFrame =
    DeletionVectors.applyVectors(spark, path("gold", table),
      FileStats.readRange(spark, path("gold", table), column, lo, hi)._1)

  /** Incremental gold maintenance: recompute date-partitioned gold tables
    * ONLY for the given dates and overwrite just those partitions (dynamic
    * partition overwrite). The daily-scheduled path at 100 TB — a
    * late-arriving slice re-aggregates its partitions, never the full
    * history. */
  def runGoldIncremental(dates: Seq[String]): Unit = {
    refreshRevenueDaily(dates)
    overwritePartitions(FraudSummary.fraudSummaryDaily(
        eventsForGold.filter(col("event_date").isin(dates: _*))), // partition-pruned
      "fraud_summary", "event_date", dates)
  }

  /** Re-aggregate revenue_daily for `dates` from the latest silver. */
  private def refreshRevenueDaily(dates: Seq[String]): Unit =
    overwritePartitions(Revenue.revenueDaily(readSilver("orders_enriched")
        .filter(col("order_date").isin(dates: _*))),
      "revenue_daily", "order_date", dates)

  /** Make gold `table`'s `partitionCol` partitions for `dates` hold
    * exactly `df`: a per-write dynamic partition overwrite (the session
    * conf is never touched) replaces the partitions `df` has rows for, and
    * a date `df` has no row for — every order moved off it — is deleted
    * instead of left stale. A replaced partition holds only files this
    * write named, so a date whose file listing is unchanged by the write
    * got no rows; finding it costs two listings, no Spark job. */
  private def overwritePartitions(df: DataFrame, table: String, partitionCol: String,
                                  dates: Seq[String]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path("gold", table))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(d: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir, s"$partitionCol=$d")
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSet else Set.empty
    }
    val before = dates.map(d => d -> files(d)).filter(_._2.nonEmpty)
    df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path("gold", table))
    for ((d, old) <- before if files(d) == old)
      fs.delete(new org.apache.hadoop.fs.Path(dir, s"$partitionCol=$d"), true)
  }

  /** CDC-driven gold maintenance — the closed loop silverChanges was built
    * to feed: diff two silver snapshots, project the AFFECTED date
    * partitions out of the feed (a delete or date-move refreshes the OLD
    * date, an insert the NEW — both sides of the feed contribute), and
    * refresh exactly those partitions of the SILVER-derived gold table,
    * revenue_daily. fraud_summary derives from bronze events, which an
    * orders change feed cannot change, so it is left alone. The driver
    * collects DATES (partition grain, like manifest planning), never rows;
    * everything row-shaped stays distributed. Returns the refreshed dates
    * — empty feed, no gold I/O at all. */
  def runGoldIncrementalFromChanges(fromVersion: Long, toVersion: Long,
      attrs: Seq[String] = Seq("o_totalprice", "status_normalized"))
      : Seq[String] = {
    val feed = silverChanges("orders_enriched", fromVersion, toVersion,
      Seq("o_orderkey"), attrs :+ "order_date")
    val dates = feed
      .select(explode(array(col("order_date_old").cast("string"),
        col("order_date_new").cast("string"))).as("d"))
      .filter(col("d").isNotNull)
      .distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (dates.nonEmpty) refreshRevenueDaily(dates)
    dates
  }

  def runAll(): Unit = { runBronze(); runSilver(); runGold() }

  /** The streaming lakehouse loop closed end-to-end: every micro-batch of
    * order updates MERGE-commits a new silver version and then refreshes
    * ONLY the partitions of silver-derived gold (revenue_daily) its change
    * feed touched. Event-derived gold (fraud_summary) is left alone: an
    * orders batch cannot change it. This is streaming ingestion driving
    * CDC-incremental gold, which is the reference's operating mode
    * (Kafka → Delta MERGE → scheduled gold refresh) with the scheduler
    * removed: gold staleness is one micro-batch, and the
    * per-batch gold cost is proportional to the dates the batch touched,
    * never to history.
    *
    * Empty triggers commit nothing (no empty snapshot, no gold I/O).
    * Checkpoint replay re-merges a batch onto a snapshot that already
    * contains it — the diff is empty, so the replayed gold refresh is a
    * no-op: effectively exactly-once end to end. Micro-batches are
    * serial within a query, so the optimistic claim never conflicts with
    * itself; a concurrent BATCH writer to the same table surfaces as
    * ConcurrentWriteException and fails the query rather than losing
    * either write. */
  def streamingGoldMaintenance(updates: DataFrame, keys: Seq[String],
      tiebreak: Seq[String], checkpointDir: String,
      attrs: Seq[String] = Seq("o_totalprice", "status_normalized"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val src = graft.operators.Cleaning.deterministicDedup(
            batch.toDF(), keys, tiebreak)
          val prev = latestVersion("orders_enriched")
          val next = upsertSilver("orders_enriched", src, keys, "order_date")
          prev match {
            case Some(p) => runGoldIncrementalFromChanges(p, next, attrs)
            case None => runGold()
          }
        }
        ()
      }
      .start()

  private def hasSuccess(layer: String, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(layer, table), "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The medallion pipeline as a dependency DAG (the reference's Airflow
    * shape, airflow/dags): bronze branches are independent and run in
    * parallel; silver waits only on its bronze input; the four gold tables
    * fan out in parallel once their inputs exist. Idempotency probes:
    * bronze stages skip when their _SUCCESS commit marker exists (a re-run
    * of the same interval — Airflow's "already succeeded" short-circuit);
    * silver always runs because the MERGE upsert is idempotent by
    * construction; gold always runs because it must reflect the latest
    * silver version. */
  def stages(): Seq[Orchestrator.Stage] = {
    import Orchestrator.Stage
    Seq(
      Stage("bronze_events", Nil,
        () => Bronze.bronzeEvents(graft.Tables.events(spark, sfDir))
          .write.mode(SaveMode.Overwrite).partitionBy("event_date")
          .parquet(path("bronze", "events")),
        done = () => hasSuccess("bronze", "events")),
      Stage("bronze_orders", Nil,
        () => graft.Tables.orders(spark, sfDir)
          .withColumn("order_date", col("o_orderdate").cast("date"))
          .write.mode(SaveMode.Overwrite).partitionBy("order_date")
          .parquet(path("bronze", "orders")),
        done = () => hasSuccess("bronze", "orders")),
      Stage("silver_orders", Seq("bronze_orders"), () => runSilver()),
      Stage("gold_revenue_daily", Seq("silver_orders"),
        () => Revenue.revenueDaily(readSilver("orders_enriched"))
          .write.mode(SaveMode.Overwrite).partitionBy("order_date")
          .parquet(path("gold", "revenue_daily"))),
      Stage("gold_fraud_scores", Seq("silver_orders"),
        () => {
          FraudScore.score(FraudScore.featureVector(readSilver("orders_enriched")))
            .sortWithinPartitions("risk_label")
            .write.mode(SaveMode.Overwrite).parquet(path("gold", "fraud_scores"))
          FileStats.collect(spark, path("gold", "fraud_scores"),
            Seq("risk_label", "fraud_score"))
          ()
        }),
      Stage("gold_user_risk_scores", Seq("bronze_events"),
        () => FraudSummary.userRiskScores(eventsForGold)
          .write.mode(SaveMode.Overwrite).parquet(path("gold", "user_risk_scores"))),
      Stage("gold_fraud_summary", Seq("bronze_events"),
        () => FraudSummary.fraudSummaryDaily(eventsForGold)
          .write.mode(SaveMode.Overwrite).partitionBy("event_date")
          .parquet(path("gold", "fraud_summary"))),
      // the DAG-terminal quality gate (the reference's dbt-test / DQ
      // Airflow tasks): validate the MATERIALIZED warehouse, fail the run
      // — not just a report row — when a check breaks. One fused
      // aggregation per table (Constraints.enforce), released right after.
      Stage("dq_gate",
        Seq("gold_revenue_daily", "gold_fraud_scores",
          "gold_user_risk_scores", "gold_fraud_summary"),
        () => {
          // validate (no persist): these tables are already materialized;
          // there is no write to keep consistent with
          graft.operators.Constraints.validate(readSilver("orders_enriched"), Seq(
            "silver_orderkey_not_null" -> col("o_orderkey").isNotNull,
            "silver_amount_positive" -> (col("o_totalprice") > 0)))
          graft.operators.Constraints.validate(readGold("revenue_daily"), Seq(
            "gold_gmv_nonneg" -> (col("gmv") >= 0),
            "gold_orders_positive" -> (col("total_orders") > 0),
            "gold_fraud_bounded" -> (col("fraud_orders") <= col("total_orders"))))
        }))
  }

  /** runAll through the DAG: independent branches in parallel, per-stage
    * idempotency, a failed branch never blocks an unrelated one. */
  def runAllOrchestrated(parallelism: Int = 4): Seq[Orchestrator.StageResult] =
    Orchestrator.run(stages(), parallelism)

  /** Gold read — merge-on-read like silver: deletion vectors subtracted. */
  def readGold(table: String): DataFrame =
    DeletionVectors.read(spark, path("gold", table))

  // ---- GDPR right-to-be-forgotten (Art. 17) -------------------------------

  /** Erase data subject `key` across the lakehouse: tombstone every row
    * keyed to the subject in every layer — bronze orders (o_custkey) and
    * events (user_id), EVERY retained silver snapshot (time travel must
    * not resurrect an erased subject), and the subject-grain gold tables
    * (fraud_scores, user_risk_scores) — via deletion vectors, so all
    * readers exclude the rows immediately while the data files stay
    * immutable. Returns the audit receipt: one row per table scope with
    * the rows erased (GDPR's demonstrability requirement); a second call
    * for the same subject erases 0 everywhere (idempotent).
    *
    * Out of scope by the anonymous-aggregate carve-out: aggregate-grain
    * gold (revenue_daily, fraud_summary) and trained model artifacts —
    * both re-derive from the erased silver on their next rebuild.
    * Physical removal completes via [[completeErasure]] (and vacuum of
    * expired versions) inside the compliance window — the
    * Delta-documented operating pattern: DELETE now, VACUUM/PURGE before
    * the deadline.
    *
    * Scale shape: each erase is ONE distributed scan column-pruned to
    * the key column, writing positions sized by the subject's rows; no
    * table rewrite, nothing row-shaped at the driver. */
  /** One row of the erasure topology: a subject-keyed table scope with
    * its key column and partition layout. */
  private case class SubjectScope(layer: String, table: String,
                                  scope: String, keyCol: String,
                                  partitionCols: Seq[String])

  /** The erasure topology — ONE list drives both [[forgetCustomer]] and
    * [[completeErasure]], so the GDPR coverage surface (which tables hold
    * the subject, under which key, in which layout) cannot drift between
    * the logical erase and the physical purge. Extend HERE when a new
    * subject-grain table joins a layer. */
  private def subjectScopes(): Seq[SubjectScope] =
    Seq(
      SubjectScope("bronze", "orders", "", "o_custkey", Seq("order_date")),
      SubjectScope("bronze", "events", "", "user_id", Seq("event_date"))) ++
      committedVersions("orders_enriched").map(v =>
        SubjectScope("silver", "orders_enriched", s"/v=$v", "o_custkey",
          Seq("order_date"))) ++
      Seq(
        SubjectScope("gold", "fraud_scores", "", "o_custkey", Nil),
        SubjectScope("gold", "user_risk_scores", "", "user_id", Nil))

  def forgetCustomer(key: Long): DataFrame = {
    import spark.implicits._
    val rows = subjectScopes().flatMap { s =>
      val dir = path(s.layer, s.table) + s.scope
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else Some((s.layer, s.table, s.scope, s.keyCol,
        DeletionVectors.delete(spark, dir, col(s.keyCol) === lit(key))))
    }
    rows.toDF("layer", "table", "scope", "key_column", "rows_erased")
  }

  /** Physical completion of logical erasures: every table directory
    * holding deletion vectors is rewritten without its tombstones
    * (partition layout preserved) and its vectors cleared; the
    * fraud_scores data-skipping manifest is re-collected over the
    * rewritten files. Returns (layer, table, scope, surviving_rows) for
    * each rewritten directory — vector-free directories are untouched,
    * so the rewrite cost is proportional to the tables that actually
    * carry erasures, run once per compliance window, not per request. */
  def completeErasure(): DataFrame = {
    import spark.implicits._
    val rows = subjectScopes().flatMap { s =>
      val dir = path(s.layer, s.table) + s.scope
      if (!DeletionVectors.hasVectors(spark, dir)) None
      else {
        val survivors = DeletionVectors.materialize(spark, dir, s.partitionCols)
        // the rewrite invalidated fraud_scores' data-skipping manifest
        if (s.table == "fraud_scores")
          FileStats.collect(spark, dir, Seq("risk_label", "fraud_score"))
        Some((s.layer, s.table, s.scope, survivors))
      }
    }
    rows.toDF("layer", "table", "scope", "surviving_rows")
  }

  /** Latest silver snapshot. */
  def readSilver(table: String): DataFrame =
    readSilverVersion(table, latestVersion(table).getOrElse(
      throw new IllegalStateException(s"no silver versions for $table")))
}

object Medallion {
  /** Optimistic-concurrency conflict: another writer committed (or is
    * committing) the version this writer computed against stale inputs.
    * The Delta ConcurrentAppendException analog — callers re-read the
    * latest snapshot and re-merge; a blind retry would replay a MERGE
    * whose base is gone. */
  final class ConcurrentWriteException(msg: String)
    extends java.util.ConcurrentModificationException(msg)
}
