package graft

import graft.pipeline.Medallion
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class MedallionSpec extends SparkSpec {

  test("bronze→silver→gold materializes partitioned layers end to end") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runAll()

    // bronze partitioned by event_date
    val bronzeDirs = new java.io.File(s"$wh/bronze/events").list()
    assert(bronzeDirs.count(_.startsWith("event_date=")) >= 28)

    val silver = m.readSilver("orders_enriched")
    assert(silver.count() == Tables.orders(spark, TinySf).count())
    assert(silver.columns.contains("region_risk"))

    val gold = m.readGold("revenue_daily")
    assert(gold.count() > 0)
    val scores = m.readGold("fraud_scores")
    assert(scores.where(col("fraud_score").isNull).count() == 0)

    // gold write collected a skipping manifest; the range read equals the
    // plain filtered read
    assert(graft.pipeline.FileStats.hasStats(spark, s"$wh/gold/fraud_scores"))
    val hot = m.readGoldRange("fraud_scores", "fraud_score", 0.8, 1.0)
    assert(hot.count() ==
      scores.where(col("fraud_score") >= 0.8 && col("fraud_score") <= 1.0).count())
  }

  test("date filters prune bronze partitions at the scan") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh3").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runBronze()
    val q = spark.read.parquet(s"$wh/bronze/events")
      .filter(col("event_date") === "2024-01-05")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"), plan.take(800))
    // only one partition directory is read
    assert(q.select(col("event_date")).distinct().count() == 1)
  }

  test("silver re-processing is idempotent (MERGE contract)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh2").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runBronze()
    m.runSilver()
    val first = m.readSilver("orders_enriched")
      .drop("_merge_action").orderBy("o_orderkey").collect()
    m.runSilver() // re-run: every row re-merges
    val second = m.readSilver("orders_enriched")
      .drop("_merge_action").orderBy("o_orderkey").collect()
    assert(first.toSeq == second.toSeq)
    assert(m.readSilver("orders_enriched")
      .where(col("_merge_action") === "updated").count() == first.length)
  }

  test("incremental gold overwrites only the targeted date partitions") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh5").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runAll()
    val dims = Seq("order_date", "region_name", "status_normalized", "amount_tier")
    val full = m.readGold("revenue_daily")
      .orderBy(dims.head, dims.tail: _*).collect().toSeq
    val fullFs = m.readGold("fraud_summary").orderBy("event_date").collect().toSeq
    val someDates = m.readGold("revenue_daily")
      .select(col("order_date").cast("string")).distinct()
      .limit(3).collect().map(_.getString(0)).toSeq
    val someEventDates = m.readGold("fraud_summary")
      .select(col("event_date").cast("string")).distinct()
      .limit(2).collect().map(_.getString(0)).toSeq
    m.runGoldIncremental(someDates ++ someEventDates)
    val after = m.readGold("revenue_daily")
      .orderBy(dims.head, dims.tail: _*).collect().toSeq
    // re-aggregating a slice from the same silver must be a no-op overall
    assert(after == full)
    assert(m.readGold("fraud_summary").orderBy("event_date").collect().toSeq == fullFs)
    // and untouched partitions still present
    assert(m.readGold("revenue_daily").select("order_date").distinct().count() > 3)
  }

  /** A built warehouse (silver v1) plus one upsert (v2) of 40 orders
    * rewritten by `touch`; returns (medallion, v1, v2, the dates the
    * upsert touched on either side, the warehouse). */
  private def cdcFixture(name: String)(touch: (Medallion, DataFrame) => DataFrame)
      : (Medallion, Long, Long, Seq[String], String) = {
    val wh = java.nio.file.Files.createTempDirectory(name).toString
    val m = new Medallion(spark, TinySf, wh)
    m.runAll() // silver v1, gold computed from it
    val v1 = m.latestVersion("orders_enriched").get

    val current = m.readSilver("orders_enriched").drop("_merge_action")
    val victimKeys = current.orderBy("o_orderkey").limit(40)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val victims = current.filter(col("o_orderkey").isin(victimKeys.toSeq: _*))
    val touched = touch(m, victims)
    val expectedDates = victims.select("order_date").union(touched.select("order_date"))
      .select(col("order_date").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val v2 = m.upsertSilver("orders_enriched", touched,
      Seq("o_orderkey"), "order_date")
    assert(v2 > v1)
    (m, v1, v2, expectedDates, wh)
  }

  /** Relative paths of the parquet data files under `dir`. */
  private def dataFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet") &&
        !f.getFileName.toString.startsWith("."))
      .map(f => root.relativize(f).toString).toSet
    finally s.close()
  }

  /** Every gold table as stored equals its full recompute from the latest
    * silver snapshot and bronze events, as multisets of rows. */
  private def assertGoldMatchesRecompute(m: Medallion, wh: String): Unit = {
    import graft.gold.{FraudSummary, Revenue}
    import graft.ml.FraudScore
    val silver = m.readSilver("orders_enriched")
    val events = spark.read.parquet(s"$wh/bronze/events")
      .withColumn("ts", col("event_date").cast("timestamp"))
    val want = Map(
      "revenue_daily" -> Revenue.revenueDaily(silver),
      "fraud_scores" -> FraudScore.score(FraudScore.featureVector(silver)),
      "user_risk_scores" -> FraudSummary.userRiskScores(events),
      "fraud_summary" -> FraudSummary.fraudSummaryDaily(events))
    for ((table, full) <- want) {
      val cols = full.columns.toSeq
      val got = m.readGold(table).select(cols.head, cols.tail: _*)
      val stale = got.exceptAll(full).count()
      val missing = full.exceptAll(got).count()
      assert(stale == 0 && missing == 0,
        s"$table: $stale stored rows not in the recompute, $missing missing")
    }
  }

  test("CDC-driven incremental gold refreshes exactly the changed dates " +
    "and converges to the full recompute") {
    // touch a handful of orders on a known set of dates: double the price
    val (m, v1, v2, expectedDates, wh) = cdcFixture("graft_wh_cdc")((_, v) =>
      v.withColumn("o_totalprice", col("o_totalprice") * 2))
    // gold is now stale for exactly those dates; the CDC loop must find
    // them from the feed alone and refresh only them
    val refreshed = m.runGoldIncrementalFromChanges(v1, v2)
    assert(refreshed == expectedDates, s"$refreshed != $expectedDates")
    // every gold table, fraud_scores included: a doubled price moves the
    // customer's window features, so the scores of all that customer's
    // orders change, not only the 40
    assertGoldMatchesRecompute(m, wh)

    // an empty diff (v2 vs v2) must do nothing
    assert(m.runGoldIncrementalFromChanges(v2, v2).isEmpty)
  }

  test("a CDC refresh rewrites revenue_daily only: fraud_summary's files " +
    "stay as they were") {
    // move the orders onto the first day that holds events, so the
    // refreshed dates include a fraud_summary partition
    def eventDays(m: Medallion) = m.readGold("fraud_summary")
      .select(col("event_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val (m, v1, v2, expectedDates, wh) = cdcFixture("graft_wh_cdc_rev")((m, v) =>
      v.withColumn("order_date", lit(eventDays(m).head).cast("date")))
    assert(expectedDates.exists(eventDays(m).contains))
    val before = dataFiles(s"$wh/gold/fraud_summary")
    assert(before.nonEmpty)
    assert(m.runGoldIncrementalFromChanges(v1, v2) == expectedDates)
    // an orders change feed cannot change event-derived gold
    assert(dataFiles(s"$wh/gold/fraud_summary") == before)
    assertGoldMatchesRecompute(m, wh)
  }

  test("a micro-batch that crashes between its silver commit and its gold " +
    "refresh is made whole by its replay") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_crash").toString
    @volatile var crash = true
    val m = new Medallion(spark, TinySf, wh) {
      override def runGoldIncrementalFromChanges(fromVersion: Long, toVersion: Long,
                                                 attrs: Seq[String]): Seq[String] =
        if (crash) { crash = false; throw new IllegalStateException("crash before refresh") }
        else super.runGoldIncrementalFromChanges(fromVersion, toVersion, attrs)
    }
    m.runAll()
    val v1 = m.latestVersion("orders_enriched").get
    val silver = m.readSilver("orders_enriched").drop("_merge_action")
    val updDir = java.nio.file.Files.createTempDirectory("graft_crash_upd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_crash_ckpt").toString
    silver.orderBy("o_orderkey").limit(15)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .write.mode("append").parquet(updDir)
    def start() = m.streamingGoldMaintenance(
      spark.readStream.schema(silver.schema).parquet(updDir),
      Seq("o_orderkey"), Seq("o_totalprice"), ckpt)

    val first = start()
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      first.processAllAvailable())
    finally first.stop()
    // the batch committed silver v1 + 1, then crashed before its refresh
    assert(m.latestVersion("orders_enriched").contains(v1 + 1))

    val replay = start()
    try replay.processAllAvailable() finally replay.stop()
    assert(m.latestVersion("orders_enriched").contains(v1 + 2))
    assertGoldMatchesRecompute(m, wh)
  }

  test("runAll and runAllOrchestrated build the same gold") {
    def build(name: String)(run: Medallion => Unit): (Medallion, String) = {
      val wh = java.nio.file.Files.createTempDirectory(name).toString
      val m = new Medallion(spark, TinySf, wh)
      run(m)
      (m, wh)
    }
    val (linear, whL) = build("graft_wh_linear")(_.runAll())
    val (dag, whD) = build("graft_wh_dag_same")(m =>
      assert(m.runAllOrchestrated().forall(_.status == "success")))
    for (t <- Seq("revenue_daily", "fraud_scores", "user_risk_scores", "fraud_summary")) {
      def rows(m: Medallion) = {
        val df = m.readGold(t)
        df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq
      }
      assert(rows(linear) == rows(dag), s"$t differs")
      // data files per table and partition directory
      def layout(wh: String) = dataFiles(s"$wh/gold/$t").toSeq
        .groupBy(f => Option(java.nio.file.Paths.get(f).getParent).map(_.toString))
        .map { case (d, fs) => d -> fs.size }
      assert(layout(whL) == layout(whD), s"$t file layout differs")
    }
    def marker(wh: String) =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$wh/gold/_silver_version")), "UTF-8")
    assert(marker(whL) == marker(whD))
    assert(marker(whL) == linear.latestVersion("orders_enriched").get.toString)
  }

  test("repeated CDC upserts do not fragment silver: no version has more " +
    "files than the first upsert wrote") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_frag").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runBronze()
    m.runSilver() // v1: the base build
    val base = m.readSilver("orders_enriched")
      .select("o_orderkey", "o_orderstatus", "status_normalized", "order_date")
      .orderBy("o_orderkey")
    val rows = base.limit(90).collect().toSeq
    // three batches of the same shape, 30 orders each, as a CDC stream
    // lands them
    val files = (0 until 3).map { i =>
      val batch = spark.createDataFrame(rows.slice(30 * i, 30 * i + 30).asJava, base.schema)
        .withColumn("status_normalized", lit(s"batch_$i"))
      val v = m.upsertSilver("orders_enriched", batch, Seq("o_orderkey"), "order_date")
      dataFiles(s"$wh/silver/orders_enriched/v=$v").size
    }
    assert(files.tail.forall(_ <= files.head), s"files per version: $files")
  }

  test("bronze reads merge evolved schemas across writes") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh6").toString
    val base = Tables.events(spark, TinySf)
      .select("event_id", "event_type", "value").limit(100)
    base.write.mode("overwrite").parquet(s"$wh/evolving")
    base.withColumn("new_signal", col("value") * 2)
      .write.mode("append").parquet(s"$wh/evolving")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$wh/evolving")
    assert(merged.columns.contains("new_signal"))
    assert(merged.count() == 200)
    assert(merged.where(col("new_signal").isNull).count() == 100)
  }

  test("silver snapshots are versioned and point-in-time readable") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh4").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runBronze()
    m.runSilver()
    assert(m.latestVersion("orders_enriched").contains(1L))
    m.runSilver()
    assert(m.latestVersion("orders_enriched").contains(2L))
    // v1 still readable after v2 lands (time travel), same logical content
    val v1 = m.readSilverVersion("orders_enriched", 1L)
      .drop("_merge_action").orderBy("o_orderkey").collect()
    val v2 = m.readSilverVersion("orders_enriched", 2L)
      .drop("_merge_action").orderBy("o_orderkey").collect()
    assert(v1.nonEmpty && v1.toSeq == v2.toSeq)

    // a crashed half-written snapshot (no _SUCCESS marker) is invisible:
    // latest must stay at the last COMMITTED version
    val ghost = new java.io.File(s"$wh/silver/orders_enriched/v=99")
    assert(ghost.mkdirs())
    new java.io.FileOutputStream(new java.io.File(ghost, "part-x.parquet")).close()
    assert(m.latestVersion("orders_enriched").contains(2L))

    // timestampAsOf: pin distinct commit times on the _SUCCESS markers,
    // then "as of T" must return exactly what a reader at T saw
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def succ(v: Long) = new org.apache.hadoop.fs.Path(
      s"$wh/silver/orders_enriched/v=$v/_SUCCESS")
    val (t1, t2) = (1000000L, 2000000L)
    fs.setTimes(succ(1L), t1, -1)
    fs.setTimes(succ(2L), t2, -1)
    assert(m.readSilverAsOf("orders_enriched", t1).drop("_merge_action")
      .orderBy("o_orderkey").collect().toSeq == v1.toSeq)   // v1 visible at t1
    assert(m.readSilverAsOf("orders_enriched", t2 + 1)
      .drop("_merge_action").orderBy("o_orderkey").collect().toSeq == v2.toSeq)
    val before = intercept[IllegalArgumentException](
      m.readSilverAsOf("orders_enriched", t1 - 1))
    assert(before.getMessage.contains("no committed version"))
  }

  test("silver MERGE evolves the schema: adding a column widens, dropping keeps values") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_wh7").toString
    val m = new Medallion(spark, TinySf, wh)
    val day = "2024-01-01"
    val v0 = Seq((1L, 10.0, day), (2L, 20.0, day))
      .toDF("k", "amount", "dt").withColumn("dt", col("dt").cast("date"))
    m.upsertSilver("t", v0, Seq("k"), "dt")

    // run 2 starts carrying a new column and touches only k=2
    val v1 = Seq((2L, 21.0, day, "mobile"), (3L, 30.0, day, "web"))
      .toDF("k", "amount", "dt", "channel")
      .withColumn("dt", col("dt").cast("date"))
    m.upsertSilver("t", v1, Seq("k"), "dt")
    val after = m.readSilver("t").orderBy("k").collect()
    assert(m.readSilver("t").columns.toSet ==
      Set("k", "amount", "dt", "channel", "_merge_action"))
    assert(after.map(_.getAs[Long]("k")).toSeq == Seq(1L, 2L, 3L))
    assert(after(0).getAs[String]("channel") == null)      // untouched row: null
    assert(after(0).getAs[String]("_merge_action") == "kept")
    assert(after(1).getAs[String]("channel") == "mobile")  // updated row
    assert(after(1).getAs[Double]("amount") == 21.0)
    assert(after(2).getAs[String]("channel") == "web")     // inserted row

    // run 3 stops carrying `channel`: matched rows KEEP their values
    // (Delta updateAll sets only the source's columns)
    val v2 = Seq((2L, 22.0, day)).toDF("k", "amount", "dt")
      .withColumn("dt", col("dt").cast("date"))
    m.upsertSilver("t", v2, Seq("k"), "dt")
    val fin = m.readSilver("t").orderBy("k").collect()
    assert(fin(1).getAs[Double]("amount") == 22.0)
    assert(fin(1).getAs[String]("channel") == "mobile") // survived the update
    assert(fin(2).getAs[String]("channel") == "web")    // kept row untouched

    // a type change is refused, never silently cast
    val bad = Seq((1L, "ten", day)).toDF("k", "amount", "dt")
      .withColumn("dt", col("dt").cast("date"))
    val e = intercept[IllegalArgumentException](m.upsertSilver("t", bad, Seq("k"), "dt"))
    assert(e.getMessage.contains("amount"))
  }

  test("vacuum prunes old silver versions, never the current one") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh8").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runBronze()
    (1 to 4).foreach(_ => m.runSilver())
    assert(m.latestVersion("orders_enriched").contains(4L))
    val latest = m.readSilver("orders_enriched")
      .drop("_merge_action").orderBy("o_orderkey").collect()

    assert(m.vacuumSilver("orders_enriched", keep = 2) == Seq(1L, 2L))
    assert(m.latestVersion("orders_enriched").contains(4L))
    // latest content is untouched; pinned old versions are gone (Delta
    // vacuum contract)
    assert(m.readSilver("orders_enriched")
      .drop("_merge_action").orderBy("o_orderkey").collect().toSeq == latest.toSeq)
    intercept[Exception](m.readSilverVersion("orders_enriched", 1L).collect())
    // keep >= 1 is enforced, so the current version is never deletable
    intercept[IllegalArgumentException](m.vacuumSilver("orders_enriched", keep = 0))
    // vacuuming a table below the keep horizon is a no-op
    assert(m.vacuumSilver("orders_enriched", keep = 7).isEmpty)
    assert(m.vacuumSilver("absent_table").isEmpty)
  }

  /** A fresh warehouse holding silver table `t`: ten rows (k, amount, d)
    * upserted `versions` times, one committed version each. */
  private def smallSilver(prefix: String, versions: Int): (String, Medallion, DataFrame) = {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory(prefix).toString
    val m = new Medallion(spark, TinySf, wh)
    val rows = (1L to 10L).map(k => (k, k * 1.5, s"2024-01-0${k % 3 + 1}")).toDF("k", "amount", "d")
      .withColumn("d", col("d").cast("date"))
    (1 to versions).foreach(_ => m.upsertSilver("t", rows, Seq("k"), "d"))
    (wh, m, rows)
  }

  test("vacuum counts committed versions only: a crashed newer snapshot " +
    "cannot push the current one out") {
    val (wh, m, rows) = smallSilver("graft_wh_vac_ghost", versions = 2)
    // a crashed v=3 holding one part file and no _SUCCESS
    val ghost = new java.io.File(s"$wh/silver/t/v=3")
    assert(ghost.mkdirs())
    new java.io.FileOutputStream(new java.io.File(ghost, "part-x.parquet")).close()
    assert(m.vacuumSilver("t", keep = 1) == Seq(1L))
    assert(m.latestVersion("t").contains(2L))
    assert(m.readSilver("t").count() == rows.count())
    // a stranded staging sibling whose name only starts like a version
    assert(new java.io.File(s"$wh/silver/t/v=2_compact_tmp").mkdirs())
    assert(m.vacuumSilver("t", keep = 1).isEmpty)
    assert(m.latestVersion("t").contains(2L))
  }

  test("a silver write that fails after its claim releases the version: " +
    "the next upsert commits it") {
    val (_, m, rows) = smallSilver("graft_wh_fail", versions = 1)
    // no `checks`: enforce would fail the batch before the claim; this one
    // fails only when the write executes
    val failing = rows.withColumn("amount",
      raise_error(lit("injected write failure")).cast("double"))
    intercept[Exception](m.upsertSilver("t", failing, Seq("k"), "d"))
    assert(m.latestVersion("t").contains(1L))
    assert(m.upsertSilver("t", rows.withColumn("amount", col("amount") + 1.0),
      Seq("k"), "d") == 2L)
    assert(m.latestVersion("t").contains(2L))
    assert(m.readSilver("t").filter(col("_merge_action") === "updated").count() == 10L)
  }

  test("compaction keeps a snapshot's commit instant: as-of reads still resolve") {
    import graft.pipeline.Compaction
    val (wh, m, _) = smallSilver("graft_wh_compact_asof", versions = 1)
    def rows(df: DataFrame) = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).orderBy("k").collect().toSeq
    }
    val v1 = rows(m.readSilverVersion("t", 1L))
    val t1 = 1000000L
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .setTimes(new org.apache.hadoop.fs.Path(s"$wh/silver/t/v=1/_SUCCESS"), t1, -1)

    assert(Compaction.compact(spark, s"$wh/silver/t/v=1", targetBytes = 64L << 20) >= 1)
    assert(rows(m.readSilverAsOf("t", t1)) == v1)
    intercept[IllegalArgumentException](m.readSilverAsOf("t", t1 - 1))
    // the swap left only the version and its claims behind
    assert(new java.io.File(s"$wh/silver/t").list().toSet == Set("v=1", "_commits"),
      new java.io.File(s"$wh/silver/t").list().mkString(", "))
  }

  test("silver change feed is empty across an idempotent re-run") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh5").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runBronze(); m.runSilver(); m.runSilver()
    val feed = m.silverChanges("orders_enriched", 1L, 2L,
      Seq("o_orderkey"), Seq("o_totalprice", "status_normalized", "region_risk"))
    assert(feed.count() == 0L) // re-processing the same input changes nothing
  }

  test("compaction bin-packs small files and preserves data + sort locality") {
    import graft.pipeline.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val orders = Tables.orders(spark, TinySf)
    orders.repartition(40).write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(before >= 40)
    val sum0 = spark.read.parquet(dir).agg(sum(col("o_orderkey"))).collect()(0).getLong(0)

    val after = Compaction.compact(spark, dir, targetBytes = 64L << 20,
      sortCols = Seq("o_orderdate"))
    assert(after < before && after >= 1)
    val compacted = spark.read.parquet(dir)
    assert(compacted.agg(sum(col("o_orderkey"))).collect()(0).getLong(0) == sum0)
    assert(compacted.count() == orders.count())
  }

  test("file-stats manifest skips files outside the predicate range") {
    import graft.pipeline.FileStats
    val dir = java.nio.file.Files.createTempDirectory("graft_skip").toString + "/t"
    val orders = Tables.orders(spark, TinySf)
    // range-partitioned layout on the stats axis → disjoint per-file ranges
    // (the layout Medallion's sort-within-partitions / Compaction sortCols
    // produce — stats only prune what the writer clustered)
    orders.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(dir)

    val covered = FileStats.collect(spark, dir, Seq("o_orderkey", "o_totalprice"))
    assert(covered >= 8, s"manifest covers $covered files")
    assert(FileStats.hasStats(spark, dir))

    // a narrow o_orderkey slice must plan a strict file subset...
    val keys = orders.select(min("o_orderkey"), max("o_orderkey")).collect()(0)
    val (lo, hi) = (keys.getLong(0), keys.getLong(0) + (keys.getLong(1) - keys.getLong(0)) / 8)
    val (pruned, read, total) = FileStats.readRange(spark, dir, "o_orderkey", lo, hi)
    assert(read < total, s"read $read of $total files")
    // ...and match the full-scan filter exactly
    val want = spark.read.parquet(dir)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
    assert(pruned.count() == want.count() && want.count() > 0)
    assert(pruned.agg(sum("o_orderkey")).collect()(0).getLong(0) ==
      want.agg(sum("o_orderkey")).collect()(0).getLong(0))

    // an out-of-domain range reads NOTHING — zero files, empty result,
    // schema intact
    val (none, zero, _) = FileStats.readRange(spark, dir, "o_orderkey",
      keys.getLong(1) + 1000L, keys.getLong(1) + 2000L)
    assert(zero == 0L && none.count() == 0L)
    assert(none.schema.fieldNames.contains("o_totalprice"))

    // stats on a column the layout did NOT cluster prune ~nothing: the
    // manifest is honest about layout, same as Delta. Probe the central
    // half of the value domain — every unclustered file spans it.
    val tp = orders.select(min("o_totalprice"), max("o_totalprice")).collect()(0)
    val (tlo, thi) = (tp.getDouble(0), tp.getDouble(1))
    val (_, readShuffled, totalShuffled) = FileStats.readRange(spark, dir,
      "o_totalprice", tlo + (thi - tlo) * 0.25, tlo + (thi - tlo) * 0.75)
    assert(totalShuffled == total)
    assert(readShuffled == total, "unclustered column should not prune")

    // re-collect after the data changed (append) stays consistent and
    // ignores the manifest's own files
    orders.limit(10).write.mode("append").parquet(dir)
    // staleness safety: BEFORE re-collecting, the planner must read the
    // appended (manifest-unknown) files — skipping never drops unseen data
    val (stale, readStale, totalStale) = FileStats.readRange(spark, dir, "o_orderkey", lo, hi)
    assert(totalStale > total)
    assert(readStale > read, "appended files must be force-included")
    val wantStale = spark.read.parquet(dir)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi).count()
    assert(stale.count() == wantStale)
    val covered2 = FileStats.collect(spark, dir, Seq("o_orderkey"))
    assert(covered2 > covered)
  }

  test("readRange plans the scan through ONE manifest action") {
    import graft.pipeline.FileStats
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft_skip1").toString + "/t"
    val orders = Tables.orders(spark, TinySf)
    orders.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(dir)
    FileStats.collect(spark, dir, Seq("o_orderkey"))
    // warm the manifest's schema/file-index caches so the counted window
    // sees only PLANNING work, not first-touch metadata
    FileStats.stats(spark, dir).schema

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val keys = orders.select(min("o_orderkey"), max("o_orderkey")).collect()(0)
      jobs.set(0)
      // planning is synchronous inside readRange; the returned frame is
      // lazy, so every job in this window is planning cost
      val (_, read, total) = FileStats.readRange(spark, dir, "o_orderkey",
        keys.getLong(0), keys.getLong(0) + 1)
      // the listener bus is async: poll until both expected job-start
      // events arrive (a fixed sleep is flaky under load)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (jobs.get() < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(read < total)
      // exactly 2 jobs: ONE manifest collect (covered + surviving sets in
      // the same pass) and one footer read setting up the OUTPUT frame —
      // the latter is the baseline cost of any parquet read. r5 shape ran
      // two manifest passes plus an uncached schema-inference job.
      assert(jobs.get() == 2,
        s"readRange planning ran ${jobs.get()} jobs; expected one manifest " +
          "collect + one output-read setup")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("Bloom manifest skips files for point lookups min/max cannot prune") {
    import graft.pipeline.FileStats
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/t"
    val orders = Tables.orders(spark, TinySf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // hash layout on a DIFFERENT axis: every file spans the full
    // o_orderkey domain, so range stats are useless on it — the exact
    // case the Bloom manifest exists for
    orders.repartition(8, col("o_custkey"))
      .write.mode("overwrite").parquet(dir)
    FileStats.collect(spark, dir, Seq("o_orderkey"))
    val covered = FileStats.collectBloom(spark, dir, Seq("o_orderkey"))
    assert(covered >= 8, s"bloom manifest covers $covered files")

    // point lookups on present keys: bit-exact vs the full-scan filter,
    // and reading strictly fewer files than min/max planning (which keeps
    // every file — their [min,max] all span the probed key)
    // mid-domain keys: every file's [min,max] spans them (extreme keys
    // CAN be range-pruned even on a hash layout — the one file holding
    // the global min is the only one whose min reaches it)
    val allKeys = orders.select("o_orderkey").orderBy("o_orderkey")
      .collect().map(_.getLong(0))
    val keys = (1 to 6).map(i => allKeys(allKeys.length * i / 8))
    var bloomRead = 0L
    for (key <- keys) {
      val (df, read, total) = FileStats.readPoint(spark, dir, "o_orderkey", key)
      val want = spark.read.parquet(dir).filter(col("o_orderkey") === key)
      assert(df.collect().toSeq.sortBy(_.getLong(0)) ==
        want.collect().toSeq.sortBy(_.getLong(0)))
      assert(df.count() > 0, s"present key $key lost")
      assert(FileStats.survivingFiles(spark, dir, "o_orderkey", key, key)
        .size.toLong == total, "min/max should keep every file on this layout")
      bloomRead += read
      assert(read < total, s"bloom read $read of $total files for key $key")
    }
    // an order key lives in exactly one file; at 2^14 bits / 5 hashes /
    // ~190 keys per file the false-positive rate is ~1e-6 — demand real
    // pruning, not just "one less file"
    assert(bloomRead <= keys.size * 2L,
      s"bloom read $bloomRead files across ${keys.size} point lookups")

    // absent key: nothing to find, (almost) nothing to read — and the
    // empty-survivor short-circuit keeps the schema
    val (none, readAbsent, total) = FileStats.readPoint(spark, dir,
      "o_orderkey", -987654321L)
    assert(none.count() == 0L)
    assert(readAbsent < total)
    assert(none.schema.fieldNames.contains("o_totalprice"))

    // staleness safety: files appended after collection are always read
    val key = keys.head
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(key, 99999L, 1.0)),
      spark.read.parquet(dir).schema)
      .write.mode("append").parquet(dir)
    val (stale, readStale, totalStale) = FileStats.readPoint(spark, dir,
      "o_orderkey", key)
    assert(totalStale == total + 1)
    assert(readStale >= 2, "the manifest-unknown appended file must be read")
    assert(stale.count() ==
      spark.read.parquet(dir).filter(col("o_orderkey") === key).count())
  }

  test("optimistic concurrency: a stale writer cannot silently overwrite " +
    "a claimed version") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_occ").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runBronze(); m.runSilver()
    val v1 = m.latestVersion("orders_enriched").get
    val upd = m.readSilver("orders_enriched").drop("_merge_action")
      .orderBy("o_orderkey").limit(10)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)

    // another writer holds the claim on v1+1 (its commit is in flight):
    // this writer computed its MERGE against the same base and must FAIL,
    // not overwrite — pre-claim, both would write v=2 and the second
    // Overwrite would silently erase the first
    val marker = new org.apache.hadoop.fs.Path(
      s"$wh/silver/orders_enriched/_commits/v=${v1 + 1}")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, false).close()
    intercept[Medallion.ConcurrentWriteException] {
      m.upsertSilver("orders_enriched", upd, Seq("o_orderkey"), "order_date")
    }
    // nothing committed: latest is still v1, the snapshot unharmed
    assert(m.latestVersion("orders_enriched").contains(v1))
    assert(m.readSilver("orders_enriched").count() > 0)

    // the losing writer's retry protocol — re-read, re-merge — succeeds
    // on the next free version once the conflicting claim resolves
    fs.delete(marker, false)
    val v2 = m.upsertSilver("orders_enriched",
      m.readSilver("orders_enriched").drop("_merge_action")
        .orderBy("o_orderkey").limit(10)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderkey"), "order_date")
    assert(v2 == v1 + 1)
    assert(m.latestVersion("orders_enriched").contains(v2))
  }

  test("deletion vectors delete rows without rewriting data files") {
    import graft.pipeline.DeletionVectors
    val dir = java.nio.file.Files.createTempDirectory("graft_dv").toString + "/t"
    val orders = Tables.orders(spark, TinySf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    orders.repartition(6).write.mode("overwrite").parquet(dir)

    def dataFiles(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val out = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.toUri.getPath.contains("/_graft_dv/"))
          out += (f.getPath.toUri.getPath + "@" + f.getLen)
      }
      out.result()
    }
    val before = dataFiles()
    val total = orders.count()

    // delete ~10% of rows: data files must be BYTE-IDENTICAL afterwards
    val n1 = DeletionVectors.delete(spark, dir, col("o_totalprice") > 400000.0)
    assert(n1 > 0 && n1 < total / 5)
    assert(dataFiles() == before, "delete must not touch data files")
    val want1 = orders.filter(col("o_totalprice") <= 400000.0)
    val got1 = DeletionVectors.read(spark, dir)
    assert(got1.count() == total - n1 && got1.count() == want1.count())
    assert(got1.filter(col("o_totalprice") > 400000.0).count() == 0)

    // overlapping second delete: idempotent on already-deleted rows,
    // vectors accumulate
    val n2 = DeletionVectors.delete(spark, dir, col("o_totalprice") > 300000.0)
    assert(n2 > 0)
    assert(DeletionVectors.delete(spark, dir, col("o_totalprice") > 300000.0) == 0,
      "re-deleting the same predicate must tombstone nothing new")
    val got2 = DeletionVectors.read(spark, dir)
    assert(got2.count() == total - n1 - n2)
    assert(got2.filter(col("o_totalprice") > 300000.0).count() == 0)
    // surviving rows are untouched — column sums match the exact filter
    val wantSum = orders.filter(col("o_totalprice") <= 300000.0)
      .agg(sum("o_orderkey")).collect()(0).getLong(0)
    assert(got2.agg(sum("o_orderkey")).collect()(0).getLong(0) == wantSum)

    // materialize: survivors rewritten, vectors cleared, plain reads agree
    val kept = DeletionVectors.materialize(spark, dir)
    assert(kept == total - n1 - n2)
    assert(!DeletionVectors.hasVectors(spark, dir))
    assert(spark.read.parquet(dir).count() == kept)
    assert(spark.read.parquet(dir).agg(sum("o_orderkey")).collect()(0).getLong(0)
      == wantSum)
  }

  test("GDPR erasure: forgetCustomer tombstones every layer, completeErasure makes it physical") {
    import graft.pipeline.DeletionVectors
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_gdpr").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runAll()
    m.runSilver() // a second committed version: erasure must cover time travel
    assert(m.committedVersions("orders_enriched") == Seq(1L, 2L))

    // a subject present in BOTH id spaces: has orders and events
    val key = m.readSilver("orders_enriched")
      .filter(col("o_custkey") < 15).select("o_custkey").first().getLong(0)
    def silverRows(v: Long) = m.readSilverVersion("orders_enriched", v)
      .filter(col("o_custkey") === key).count()
    val preS1 = silverRows(1L)
    val preRisk = m.readGold("user_risk_scores")
      .filter(col("user_id") === key).count()
    assert(preS1 > 0 && preRisk == 1L)

    val receipt = m.forgetCustomer(key).cache()
    // audit rows for both bronze tables, both silver versions, both
    // subject-grain gold tables — with real counts
    assert(receipt.count() == 6)
    val byScope = receipt.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(4)).toMap
    assert(byScope(("silver", "orders_enriched", "/v=1")) == preS1)
    assert(byScope(("gold", "user_risk_scores", "")) == 1L)
    assert(byScope(("bronze", "events", "")) > 0)
    receipt.unpersist(blocking = false)

    // every reader excludes the subject immediately (merge-on-read)
    assert(silverRows(1L) == 0 && silverRows(2L) == 0)
    assert(m.readSilver("orders_enriched").filter(col("o_custkey") === key).count() == 0)
    assert(m.readGold("fraud_scores").filter(col("o_custkey") === key).count() == 0)
    assert(m.readGold("user_risk_scores").filter(col("user_id") === key).count() == 0)
    assert(m.readGoldRange("fraud_scores", "fraud_score", 0.0, 1.0)
      .filter(col("o_custkey") === key).count() == 0, "manifest-planned reads too")
    // other subjects untouched
    assert(m.readSilver("orders_enriched").count() ==
      Tables.orders(spark, TinySf).filter(col("o_custkey") =!= key).count())

    // idempotent: a second request erases nothing new
    assert(m.forgetCustomer(key).agg(sum("rows_erased")).collect()(0).getLong(0) == 0L)

    // a silver REBUILD from erased bronze does not resurrect the subject
    m.runSilver()
    assert(m.readSilver("orders_enriched").filter(col("o_custkey") === key).count() == 0)

    // pin distinct pre-purge commit instants so we can prove the physical
    // purge preserves them (it rewrites every file incl. _SUCCESS)
    val fsSilver = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val (t1, t2) = (1000000L, 2000000L)
    fsSilver.setTimes(new org.apache.hadoop.fs.Path(
      s"$wh/silver/orders_enriched/v=1/_SUCCESS"), t1, -1)
    fsSilver.setTimes(new org.apache.hadoop.fs.Path(
      s"$wh/silver/orders_enriched/v=2/_SUCCESS"), t2, -1)

    // physical completion: vectors cleared, raw scans agree, layout kept
    val purged = m.completeErasure().collect()
    assert(purged.nonEmpty)

    // timestamp time travel still resolves PRE-purge instants: the rewrite
    // carried each snapshot's original commit time forward as _commit_ts
    // (before the fix, the fresh _SUCCESS mtimes were purge time and every
    // pre-purge "as of T" threw 'no committed version')
    val asOfT1 = m.readSilverAsOf("orders_enriched", t1)
    assert(asOfT1.filter(col("o_custkey") === key).count() == 0)
    assert(asOfT1.count() ==
      m.readSilverVersion("orders_enriched", 1L).count())
    assert(m.readSilverAsOf("orders_enriched", t2 + 1).count() ==
      m.readSilverVersion("orders_enriched", 2L).count())
    intercept[IllegalArgumentException](
      m.readSilverAsOf("orders_enriched", t1 - 1))
    // the swap left no staging residue behind
    assert(!new java.io.File(s"$wh/silver/orders_enriched")
      .listFiles().exists(_.getName.contains("__dv_")),
      "materialize left a staging dir behind")
    assert(!DeletionVectors.hasVectors(spark, s"$wh/bronze/orders"))
    assert(spark.read.parquet(s"$wh/bronze/orders")
      .filter(col("o_custkey") === key).count() == 0)
    assert(spark.read.parquet(s"$wh/silver/orders_enriched/v=1")
      .filter(col("o_custkey") === key).count() == 0)
    // partition layout survived the rewrite (pruning axis intact)
    val fs = new org.apache.hadoop.fs.Path(s"$wh/bronze/orders")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$wh/bronze/orders"))
      .exists(_.getPath.getName.startsWith("order_date=")))
    // the re-collected manifest still plans correct range reads
    assert(m.readGoldRange("fraud_scores", "fraud_score", 0.0, 1.0).count() ==
      m.readGold("fraud_scores").count())
  }

  test("CHECK constraints fail a violating silver write without committing a version") {
    import spark.implicits._
    import graft.operators.Constraints
    val wh = java.nio.file.Files.createTempDirectory("graft_wh9").toString
    val m = new Medallion(spark, TinySf, wh)
    val checks = Seq(
      "amount_positive" -> (col("amount") > 0.0),
      "status_known" -> col("status").isin("ok", "failed"))
    val good = Seq((1L, 10.0, "ok", "2024-01-01"), (2L, 5.0, "failed", "2024-01-01"))
      .toDF("id", "amount", "status", "d").withColumn("d", col("d").cast("date"))
    val v1 = m.upsertSilver("t_checked", good, Seq("id"), "d", checks)
    assert(v1 == 1L)

    val bad = Seq((3L, -4.0, "ok", "2024-01-02"), (4L, 1.0, "wat", "2024-01-02"))
      .toDF("id", "amount", "status", "d").withColumn("d", col("d").cast("date"))
    val e = intercept[Constraints.CheckViolation] {
      m.upsertSilver("t_checked", bad, Seq("id"), "d", checks)
    }
    assert(e.getMessage.contains("amount_positive (1 rows)") &&
      e.getMessage.contains("status_known (1 rows)"), e.getMessage)
    // nothing committed: still at v1, data untouched
    assert(m.latestVersion("t_checked").contains(1L))
    assert(m.readSilver("t_checked").count() == 2L)
    // NULL predicate result passes (unknown != violation), as in SQL CHECK
    val nullish = Seq((5L, Option.empty[Double], "ok", "2024-01-03"))
      .toDF("id", "amount", "status", "d").withColumn("d", col("d").cast("date"))
    assert(m.upsertSilver("t_checked", nullish, Seq("id"), "d", checks) == 2L)
  }

  test("Z-order layout + file stats prune on BOTH interleaved dimensions") {
    import graft.pipeline.FileStats
    graft.functions.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_zskip").toString + "/t"
    val base = Tables.orders(spark, TinySf)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_key"))
    // interleaving only helps when both dimensions occupy comparable bit
    // ranges — raw day (~2400 distinct) vs tiny-sf cust (150 distinct)
    // degenerates to day-order. Normalize: offset day to 0, scale cust up
    // (the offset/scale analog of Delta's range-id mapping before Z-ORDER).
    val zb = base.agg(min("day_key"), max("o_custkey")).collect()(0)
    val (dOff, cMax) = (zb.getLong(0), zb.getLong(1))
    val cScale = math.max(1L, 2400L / math.max(cMax, 1L))
    val orders = base.withColumn("z_key",
      expr(s"morton2(day_key - ${dOff}L, o_custkey * ${cScale}L)"))
    // the medallion's Z-order write: range-partition + sort on the
    // interleaved code, so each file covers a 2-D tile, not a 1-D stripe
    orders.repartitionByRange(16, col("z_key")).sortWithinPartitions("z_key")
      .write.mode("overwrite").parquet(dir)
    val total = FileStats.collect(spark, dir, Seq("day_key", "o_custkey"))
    assert(total >= 16)

    val b = orders.agg(min("day_key"), max("day_key"),
      min("o_custkey"), max("o_custkey")).collect()(0)
    val (d0, d1, c0, c1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // an eighth-of-domain probe on EITHER axis must skip files — the
    // property a single-column sort cannot give for both columns at once
    val (_, readDay, t1) = FileStats.readRange(spark, dir, "day_key",
      d0, d0 + (d1 - d0) / 8)
    val (_, readCust, t2) = FileStats.readRange(spark, dir, "o_custkey",
      c0, c0 + (c1 - c0) / 8)
    assert(t1 == total && t2 == total)
    assert(readDay < total, s"day axis read $readDay of $total")
    assert(readCust < total, s"cust axis read $readCust of $total")
    // and results stay exact
    val wantDay = spark.read.parquet(dir)
      .filter(col("day_key").between(d0, d0 + (d1 - d0) / 8)).count()
    val (gotDayDf, _, _) = FileStats.readRange(spark, dir, "day_key",
      d0, d0 + (d1 - d0) / 8)
    assert(gotDayDf.count() == wantDay && wantDay > 0)
  }
}
