package graft.pipeline

import graft.gold.{FraudSummary, Revenue}
import graft.ml.FraudScore
import graft.operators.{Bronze, ChangeFeed, Cleaning, Enrichment, MergeUpsert}
import graft.util.VersionedDir
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze → Silver → Gold medallion materialization: the reference's
  * layered lakehouse (Kafka→Delta on MinIO, Airflow-scheduled) re-expressed
  * as partitioned parquet layers with idempotent silver merges.
  * Ref: /root/reference/spark_jobs/ (bronze, silver, gold jobs) and
  * /root/reference/airflow/dags/ (layer scheduling).
  *
  * Every bronze and gold table is declared ONCE (`bronzeTables`,
  * `goldTables`): its input, its build, its partition column, its sort and
  * its post-write hook. The linear build ([[runBronze]], [[runGold]]), the
  * DAG ([[stages]]), both incremental paths and the erasure purge are all
  * derived from those declarations, so a layout change cannot reach one
  * path and skip another.
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
  *
  * Freshness: gold records the silver version it reflects in one marker
  * file, `gold/_silver_version`, written after a full build and after each
  * fully successful CDC refresh. Every silver-derived gold table is fresh
  * after each CDC micro-batch: `revenue_daily` through the partitions the
  * change feed touched, `fraud_scores` (whose per-customer features let one
  * changed order move many scores) rebuilt whole from the new snapshot.
  */
class Medallion(spark: SparkSession, sfDir: String, warehouseDir: String) {
  import Medallion._

  private def path(layer: String, table: String) = s"$warehouseDir/$layer/$table"

  /** The warehouse's filesystem: every layer lives under `warehouseDir`. */
  private lazy val fs = new Path(warehouseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val SilverOrders = "orders_enriched"

  // ---- table declarations: every bronze and gold write derives from these ----

  /** Raw + lineage, append-shaped, partitioned by date. */
  private val bronzeTables = Seq(
    Table("bronze", "events", FromSource(() => graft.Tables.events(spark, sfDir)),
      Bronze.bronzeEvents, Some("event_date"), subjectKey = Some("user_id")),
    Table("bronze", "orders", FromSource(() => graft.Tables.orders(spark, sfDir)),
      _.withColumn("order_date", col("o_orderdate").cast("date")), Some("order_date"),
      subjectKey = Some("o_custkey")))

  /** Aggregates and scores, sorted within partitions on the filter axis. */
  private val goldTables = Seq(
    Table("gold", "revenue_daily", FromSilver, Revenue.revenueDaily, Some("order_date")),
    // data-skipping manifest on the sorted axis of the unpartitioned
    // scores table (the partitioned tables prune by directory already)
    Table("gold", "fraud_scores", FromSilver,
      s => FraudScore.score(FraudScore.featureVector(s)), sortCol = Some("risk_label"),
      subjectKey = Some("o_custkey"),
      afterWrite = dir => FileStats.collect(spark, dir, Seq("risk_label", "fraud_score"))),
    Table("gold", "user_risk_scores", FromEvents, FraudSummary.userRiskScores,
      subjectKey = Some("user_id")),
    Table("gold", "fraud_summary", FromEvents, FraudSummary.fraudSummaryDaily,
      Some("event_date")))

  /** `t`'s input, with `silver` standing for the pinned snapshot. */
  private def input(t: Table, silver: => DataFrame): DataFrame = t.input match {
    case FromSource(read) => read()
    case FromSilver => silver
    case FromEvents => eventsForGold
  }

  /** Build `t` from `in` and write it: the whole table or, given `dates`,
    * only those partitions, built from `in` filtered to them. A partial
    * write is a per-write dynamic partition overwrite (the Spark conf is
    * never touched): it replaces the partitions the build has rows for,
    * and a date it has no row for — every order moved off it — is deleted
    * instead of left stale. A replaced partition holds only files this
    * write named, so a date whose file listing is unchanged by the write
    * got no rows; finding it costs two listings, no Spark job. */
  private def write(t: Table, in: DataFrame, dates: Option[Seq[String]] = None): Unit = {
    val dir = new Path(path(t.layer, t.name))
    def partition(d: String) = new Path(dir, s"${t.partitionCol.get}=$d")
    def files(d: String): Set[String] =
      if (fs.exists(partition(d))) fs.listStatus(partition(d)).map(_.getPath.getName).toSet
      else Set.empty
    val before = dates.toSeq.flatten.map(d => d -> files(d)).filter(_._2.nonEmpty)
    val built = t.build(dates.fold(in)(ds => in.filter(col(t.partitionCol.get).isin(ds: _*))))
    val w = t.sortCol.fold(built)(built.sortWithinPartitions(_)).write.mode(SaveMode.Overwrite)
    val scoped = if (dates.isDefined) w.option("partitionOverwriteMode", "dynamic") else w
    t.partitionCol.fold(scoped)(scoped.partitionBy(_)).parquet(dir.toString)
    for ((d, old) <- before if files(d) == old) fs.delete(partition(d), true)
    t.afterWrite(dir.toString)
  }

  def runBronze(): Unit = bronzeTables.foreach(t => write(t, input(t, readSilver(SilverOrders))))

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

    upsertSilver(SilverOrders, enriched, Seq("o_orderkey"), "order_date")
  }

  /** MERGE-upsert `updates` into a versioned silver table (created on the
    * first call), with schema evolution: a run that starts carrying a new
    * column widens the table (old rows null), and a run that stops carrying
    * one leaves existing values in place — the reference's Delta autoMerge
    * write contract (delta_utils.py upsert_delta). Each run lands in a new
    * v=N snapshot (Delta-style time travel without Delta); readers pin a
    * version for point-in-time correctness. Returns the committed version.
    *
    * Concurrency: optimistic. The MERGE is computed against the latest
    * committed snapshot B and committed as exactly B+1 through the
    * [[graft.util.VersionedDir]] protocol; a second writer that also read
    * B loses the claim and gets [[Medallion.ConcurrentWriteException]]. It
    * must re-read and re-merge, because its inputs are stale (a MERGE on
    * the same keys is never blind-retryable). A write that fails releases
    * B+1, so the next upsert can take it. */
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
    try silverDir(table).commit(prev.getOrElse(0L) + 1)(
      merged.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(_))
    finally if (checks.nonEmpty) validated.unpersist(blocking = false)
  }

  private def silverDir(table: String) = new VersionedDir(fs, new Path(path("silver", table)))

  /** Delta VACUUM analog (ref: delta_utils.py vacuum_delta_table — default
    * RETAIN 168 HOURS on daily runs ≈ keep the last 7 snapshots): drop all
    * but the newest `keep` committed silver versions ([[VersionedDir.vacuum]]).
    * The current version is never deletable (`keep >= 1` enforced), so
    * readers of the latest snapshot are immune; pinned readers of older
    * versions lose them — the same contract as Delta vacuum. Returns the
    * deleted versions. */
  def vacuumSilver(table: String, keep: Int = 7): Seq[Long] = silverDir(table).vacuum(keep)

  /** Highest COMMITTED silver version, if any: a crashed half-written v=N
    * is never readable as latest ([[VersionedDir]]'s visibility rule). */
  def latestVersion(table: String): Option[Long] =
    committedVersions(table).lastOption

  /** Every COMMITTED silver version of `table`, ascending. */
  def committedVersions(table: String): Seq[Long] = silverDir(table).committed

  /** Point-in-time read of a specific silver snapshot — merge-on-read:
    * deletion vectors (row-level deletes, GDPR erasure) are subtracted.
    * Vector-free snapshots cost one fs.exists beyond a plain scan. */
  def readSilverVersion(table: String, version: Long): DataFrame =
    DeletionVectors.read(spark, silverDir(table).path(version).toString)

  /** Timestamp time travel (the `timestampAsOf` half of the reference's
    * read_delta, delta_utils.py:80 — [[readSilverVersion]] is the
    * `versionAsOf` half): reads the greatest committed version whose
    * commit instant ([[VersionedDir]]) is ≤ `tsMillis`. The instant
    * survives a physical rewrite of the snapshot (a GDPR purge, a
    * compaction), so "as of T" returns exactly what a reader AT time T
    * saw. Throws if no version was visible yet (same contract as Delta's
    * timestampAsOf before the first commit). */
  def readSilverAsOf(table: String, tsMillis: Long): DataFrame = {
    val visible = silverDir(table).asOf(tsMillis)
    require(visible.nonEmpty,
      s"no committed version of silver $table at or before $tsMillis")
    readSilverVersion(table, visible.get)
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

  // ---- gold ----

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

  /** Every gold table, rebuilt whole from the latest silver snapshot and
    * bronze events; then the gold marker names that snapshot. */
  def runGold(): Unit = {
    val version = latest(SilverOrders)
    val silver = readSilverVersion(SilverOrders, version)
    goldTables.foreach(t => write(t, input(t, silver)))
    markGold(version)
  }

  private def goldMarker = new Path(path("gold", "_silver_version"))

  /** Record that every silver-derived gold table reflects silver `version`.
    * A crash mid-write leaves the new marker or an empty one, which reads
    * as none: the next batch then rebuilds gold whole. */
  private def markGold(version: Long): Unit = {
    val out = fs.create(goldMarker, true)
    try out.writeBytes(version.toString) finally out.close()
  }

  /** The silver version gold last fully reflected: the marker's, if it
    * exists, parses, and names a version still committed (not vacuumed). */
  private def goldVersion: Option[Long] = scala.util.Try {
    val in = fs.open(goldMarker)
    try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
  }.toOption.filter(committedVersions(SilverOrders).contains)

  /** Manifest-planned range read of a gold table (see FileStats): only
    * files whose [min,max] on `column` intersects [lo,hi] reach the scan.
    * Merge-on-read like every other reader — a partial scan subtracts
    * exactly its own files' tombstones. */
  def readGoldRange(table: String, column: String, lo: Any, hi: Any): DataFrame =
    DeletionVectors.applyVectors(spark, path("gold", table),
      FileStats.readRange(spark, path("gold", table), column, lo, hi)._1)

  /** Incremental gold maintenance: recompute the date-partitioned gold
    * tables ONLY for the given dates and overwrite just those partitions.
    * The daily-scheduled path at 100 TB — a late-arriving slice
    * re-aggregates its partitions, never the full history. */
  def runGoldIncremental(dates: Seq[String]): Unit = {
    lazy val silver = readSilver(SilverOrders)
    goldTables.filter(_.partitionCol.isDefined)
      .foreach(t => write(t, input(t, silver), Some(dates)))
  }

  /** CDC-driven gold maintenance: bring every silver-derived gold table
    * from snapshot `fromVersion` to `toVersion`, by one rule per layout:
    *  - a partitioned table (revenue_daily) overwrites only the partitions
    *    the change feed touched — both sides of the feed contribute, so a
    *    delete or date-move refreshes the OLD date and an insert the NEW;
    *  - an unpartitioned table (fraud_scores) is rebuilt whole from the new
    *    snapshot, on its own thread from the moment the feed starts, since
    *    one changed order moves its customer's window features and so the
    *    scores of all that customer's orders.
    * Event-derived gold (fraud_summary, user_risk_scores) is left alone:
    * an orders feed cannot change it. Only DATES are collected (partition
    * grain, like manifest planning), never rows. Once every table has
    * succeeded the gold marker names `toVersion`. Returns the refreshed
    * dates; a `(v, v)` call returns none and does no gold I/O at all. */
  def runGoldIncrementalFromChanges(fromVersion: Long, toVersion: Long,
      attrs: Seq[String] = Seq("o_totalprice", "status_normalized"))
      : Seq[String] = if (fromVersion == toVersion) Nil else {
    val next = readSilverVersion(SilverOrders, toVersion)
    val (partitioned, whole) = goldTables.filter(_.input == FromSilver)
      .partition(_.partitionCol.isDefined)
    val dates = alongside(whole.foreach(write(_, next))) {
      val feed = ChangeFeed.changes(readSilverVersion(SilverOrders, fromVersion), next,
        Seq("o_orderkey"), (attrs ++ partitioned.flatMap(_.partitionCol)).distinct)
      partitioned.flatMap { t =>
        val c = t.partitionCol.get
        val ds = feed
          .select(explode(array(col(s"${c}_old").cast("string"),
            col(s"${c}_new").cast("string"))).as("d"))
          .filter(col("d").isNotNull)
          .distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        if (ds.nonEmpty) write(t, next, Some(ds))
        ds
      }.distinct.sorted
    }
    markGold(toVersion)
    dates
  }

  /** Run `side` on a thread of its own (which inherits this thread's Spark
    * local properties) while `main` runs on this one; return `main`'s
    * result once both have succeeded. */
  private def alongside[A](side: => Unit)(main: => A): A = {
    val task = new java.util.concurrent.FutureTask[Unit](() => side)
    new Thread(task, "graft-gold-rebuild").start()
    val a = try main catch { case e: Throwable => scala.util.Try(task.get()); throw e }
    try task.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    a
  }

  def runAll(): Unit = { runBronze(); runSilver(); runGold() }

  /** The streaming lakehouse loop closed end-to-end: every micro-batch of
    * order updates MERGE-commits a new silver version and then brings
    * silver-derived gold to it through [[runGoldIncrementalFromChanges]]:
    * revenue_daily's touched partitions, and fraud_scores rebuilt whole,
    * so every gold table is fresh after each batch. Event-derived gold is
    * left alone: an orders batch cannot change it. This is streaming
    * ingestion driving CDC-incremental gold, which is the reference's
    * operating mode (Kafka → Delta MERGE → scheduled gold refresh) with
    * the scheduler removed: gold staleness is one micro-batch.
    *
    * The refresh diffs from the version the gold MARKER names, not from
    * the silver version before the upsert. So a batch that crashed after
    * its silver commit but before its refresh finished is made whole by
    * its replay: the replay's diff still spans the crashed batch's change.
    * A gold without a marker is rebuilt whole ([[runGold]]). Empty
    * triggers commit nothing (no empty snapshot, no gold I/O), and a
    * replay of a batch that did finish re-merges onto a snapshot that
    * already contains it and changes no gold row: effectively
    * exactly-once end to end, across a crash between commit and refresh.
    * Micro-batches are serial within a query, so the optimistic claim
    * never conflicts with itself; a concurrent BATCH writer to the same
    * table surfaces as ConcurrentWriteException and fails the query
    * rather than losing either write. */
  def streamingGoldMaintenance(updates: DataFrame, keys: Seq[String],
      tiebreak: Seq[String], checkpointDir: String,
      attrs: Seq[String] = Seq("o_totalprice", "status_normalized"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val src = Cleaning.deterministicDedup(batch.toDF(), keys, tiebreak)
          val next = upsertSilver(SilverOrders, src, keys, "order_date")
          goldVersion match {
            case Some(g) => runGoldIncrementalFromChanges(g, next, attrs)
            case None => runGold()
          }
        }
        ()
      }
      .start()

  /** The medallion pipeline as a dependency DAG (the reference's Airflow
    * shape, airflow/dags), one stage per declared table: bronze branches
    * are independent and run in parallel; silver waits only on its bronze
    * input; the gold tables fan out in parallel once their inputs exist,
    * the silver-derived ones on ONE snapshot, pinned when the first of
    * them starts. Idempotency probes: bronze stages skip when their
    * _SUCCESS commit marker exists (a re-run of the same interval —
    * Airflow's "already succeeded" short-circuit); silver always runs
    * because the MERGE upsert is idempotent by construction; gold always
    * runs because it must reflect the latest silver version. */
  def stages(): Seq[Orchestrator.Stage] = {
    import Orchestrator.Stage
    lazy val version = latest(SilverOrders)
    lazy val silver = readSilverVersion(SilverOrders, version)
    def build(t: Table) = () => write(t, input(t, silver))
    bronzeTables.map(t => Stage(t.stage, Nil, build(t),
      done = () => fs.exists(new Path(path(t.layer, t.name), "_SUCCESS")))) ++
      Seq(Stage("silver_orders", Seq("bronze_orders"), () => runSilver())) ++
      goldTables.map(t => Stage(t.stage, t.input.deps, build(t))) :+
      // the DAG-terminal quality gate (the reference's dbt-test / DQ
      // Airflow tasks): validate the MATERIALIZED warehouse, fail the run
      // — not just a report row — when a check breaks. One fused
      // aggregation per table (Constraints.enforce), released right after.
      Stage("dq_gate", goldTables.map(_.stage), () => {
        // every gold stage succeeded: gold reflects the pinned snapshot
        markGold(version)
        // validate (no persist): these tables are already materialized;
        // there is no write to keep consistent with
        graft.operators.Constraints.validate(silver, Seq(
          "silver_orderkey_not_null" -> col("o_orderkey").isNotNull,
          "silver_amount_positive" -> (col("o_totalprice") > 0)))
        graft.operators.Constraints.validate(readGold("revenue_daily"), Seq(
          "gold_gmv_nonneg" -> (col("gmv") >= 0),
          "gold_orders_positive" -> (col("total_orders") > 0),
          "gold_fraud_bounded" -> (col("fraud_orders") <= col("total_orders"))))
      })
  }

  /** runAll through the DAG: independent branches in parallel, per-stage
    * idempotency, a failed branch never blocks an unrelated one. */
  def runAllOrchestrated(parallelism: Int = 4): Seq[Orchestrator.StageResult] =
    Orchestrator.run(stages(), parallelism)

  /** Gold read — merge-on-read like silver: deletion vectors subtracted. */
  def readGold(table: String): DataFrame =
    DeletionVectors.read(spark, path("gold", table))

  // ---- GDPR right-to-be-forgotten (Art. 17) -------------------------------

  /** One row of the erasure topology: a subject-keyed table scope with
    * its key column, its partition layout and the hook its table runs
    * after a rewrite of its files. */
  private case class SubjectScope(layer: String, table: String,
                                  scope: String, keyCol: String,
                                  partitionCols: Seq[String],
                                  afterWrite: String => Unit = _ => ())

  /** The erasure topology — ONE list drives both [[forgetCustomer]] and
    * [[completeErasure]], so the GDPR coverage surface (which tables hold
    * the subject, under which key, in which layout) cannot drift between
    * the logical erase and the physical purge. Bronze and gold scopes come
    * from the table declarations' `subjectKey`. */
  private def subjectScopes(): Seq[SubjectScope] = {
    def scopes(ts: Seq[Table]) = ts.flatMap(t => t.subjectKey.map(k =>
      SubjectScope(t.layer, t.name, "", k, t.partitionCol.toSeq, t.afterWrite)))
    scopes(bronzeTables) ++
      committedVersions(SilverOrders).map(v =>
        SubjectScope("silver", SilverOrders, "/" + VersionedDir.name(v), "o_custkey",
          Seq("order_date"))) ++
      scopes(goldTables)
  }

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
  def forgetCustomer(key: Long): DataFrame = {
    import spark.implicits._
    val rows = subjectScopes().flatMap { s =>
      val dir = path(s.layer, s.table) + s.scope
      val p = new Path(dir)
      if (!fs.exists(p)) None
      else Some((s.layer, s.table, s.scope, s.keyCol,
        DeletionVectors.delete(spark, dir, col(s.keyCol) === lit(key))))
    }
    rows.toDF("layer", "table", "scope", "key_column", "rows_erased")
  }

  /** Physical completion of logical erasures: every table directory
    * holding deletion vectors is rewritten without its tombstones
    * (partition layout preserved), its vectors cleared, and its table's
    * post-write hook run again (fraud_scores re-collects its data-skipping
    * manifest over the rewritten files). Returns (layer, table, scope,
    * surviving_rows) for each rewritten directory — vector-free
    * directories are untouched, so the rewrite cost is proportional to
    * the tables that actually carry erasures, run once per compliance
    * window, not per request. */
  def completeErasure(): DataFrame = {
    import spark.implicits._
    val rows = subjectScopes().flatMap { s =>
      val dir = path(s.layer, s.table) + s.scope
      if (!DeletionVectors.hasVectors(spark, dir)) None
      else {
        val survivors = DeletionVectors.materialize(spark, dir, s.partitionCols)
        s.afterWrite(dir)
        Some((s.layer, s.table, s.scope, survivors))
      }
    }
    rows.toDF("layer", "table", "scope", "surviving_rows")
  }

  /** Latest silver snapshot. */
  def readSilver(table: String): DataFrame = readSilverVersion(table, latest(table))

  private def latest(table: String): Long = latestVersion(table).getOrElse(
    throw new IllegalStateException(s"no silver versions for $table"))
}

object Medallion {
  /** Where a declared table's rows come from; `deps` are the DAG stages
    * that must have run before it is built. */
  private sealed abstract class Input(val deps: Seq[String])
  /** A source table of the scale-factor directory. */
  private final case class FromSource(read: () => DataFrame) extends Input(Nil)
  /** One pinned snapshot of silver orders. */
  private case object FromSilver extends Input(Seq("silver_orders"))
  /** Bronze events read through their deletion vectors. */
  private case object FromEvents extends Input(Seq("bronze_events"))

  /** One bronze or gold table: its input, its build, its layout (partition
    * column, sort within files), the key of the data subject its rows
    * carry (its erasure scope), and a hook run on its directory after
    * every write of its files. */
  private final case class Table(layer: String, name: String, input: Input,
      build: DataFrame => DataFrame, partitionCol: Option[String] = None,
      sortCol: Option[String] = None, subjectKey: Option[String] = None,
      afterWrite: String => Unit = _ => ()) {
    def stage: String = s"${layer}_$name"
  }

  /** Optimistic-concurrency conflict on a silver write
    * ([[VersionedDir.ConcurrentWriteException]]). */
  type ConcurrentWriteException = VersionedDir.ConcurrentWriteException
}
