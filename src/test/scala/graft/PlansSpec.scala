package graft

import graft.functions.GraftFunctions
import graft.plans.NativeAsOf
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class PlansSpec extends SparkSpec {

  private def eventSides = {
    val ev = Tables.events(spark, TinySf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        expr("ts_ns div 1000").as("ts_us"))
    (ev.filter(col("event_type") === "error").drop("event_type"),
      ev.filter(col("event_type") === "purchase").drop("event_type"))
  }

  test("native as-of join matches the union+window implementation") {
    val (err, pur) = eventSides
    val native = NativeAsOf.asOf(err, pur, "user_id", "ts_us", "value")
      .select("event_id", "asof_value", "asof_ts_us")
      .orderBy("event_id").collect().toSeq
    val windowed = graft.operators.AsOfJoin.asOf(err, pur)
      .select("event_id", "asof_value", "asof_ts_us")
      .orderBy("event_id").collect().toSeq
    assert(native.nonEmpty)
    assert(native == windowed)
  }

  test("native as-of forward direction and tolerance semantics") {
    import spark.implicits._
    val l = Seq((1L, 1L, 10L), (2L, 1L, 12L), (3L, 1L, 25L), (4L, 2L, 5L))
      .toDF("event_id", "user_id", "ts_us")
    val r = Seq((1L, 12L, 1.5), (1L, 20L, 2.5), (2L, 1L, 9.0))
      .toDF("user_id", "ts_us", "value")
    // forward: probes 10 and 12 SHARE the ts=12 match (peek, not consume)
    val fwd = NativeAsOf.asOf(l, r, "user_id", "ts_us", "value", forward = true)
      .select("event_id", "asof_value", "asof_ts_us")
      .orderBy("event_id").collect().toSeq.map(x =>
        (x.getLong(0), Option(x.get(1)), Option(x.get(2))))
    assert(fwd == Seq(
      (1L, Some(1.5), Some(12L)), (2L, Some(1.5), Some(12L)),
      (3L, None, None), (4L, None, None)))
    // backward with tolerance 5: ts=25 matches 20 (gap 5), ts=5 matches 1
    // (gap 4); ts=10/12 have no at-or-before rows at all for user 1... the
    // earliest right row for user 1 is ts=12, so probe 12 matches exactly
    val tol = NativeAsOf.asOf(l, r, "user_id", "ts_us", "value", toleranceUs = 5L)
      .select("event_id", "asof_value").orderBy("event_id").collect().toSeq
      .map(x => (x.getLong(0), Option(x.get(1))))
    assert(tol == Seq(
      (1L, None), (2L, Some(1.5)), (3L, Some(2.5)), (4L, Some(9.0))))
    // tighter tolerance 3 drops the gap-5 and gap-4 matches
    val tol3 = NativeAsOf.asOf(l, r, "user_id", "ts_us", "value", toleranceUs = 3L)
      .select("event_id", "asof_value").orderBy("event_id").collect().toSeq
      .map(x => (x.getLong(0), Option(x.get(1))))
    assert(tol3 == Seq(
      (1L, None), (2L, Some(1.5)), (3L, None), (4L, None)))
  }

  test("ASOF JOIN SQL syntax plans through AsOfJoinExec and matches the native result") {
    val (err, pur) = eventSides
    err.createOrReplaceTempView("asof_sql_err")
    pur.select("user_id", "ts_us", "value").createOrReplaceTempView("asof_sql_pur")
    val sqlDf = spark.sql("""
      SELECT e.event_id, e.user_id, e.ts_us, e.value, e.asof_value, e.asof_ts_us
      FROM asof_sql_err e ASOF JOIN asof_sql_pur p
      MATCH_CONDITION(e.ts_us >= p.ts_us)
      ON e.user_id = p.user_id""")
    val native = NativeAsOf.asOf(err, pur, "user_id", "ts_us", "value")
      .select("event_id", "user_id", "ts_us", "value", "asof_value", "asof_ts_us")
    val a = sqlDf.orderBy("event_id").collect().toSeq
    val b = native.orderBy("event_id").collect().toSeq
    assert(a.nonEmpty && a == b)
    // the SQL text planned through the custom exec, not a rewrite to joins
    assert(allNodes(finalPlan(sqlDf)).exists(_.isInstanceOf[graft.plans.AsOfJoinExec]),
      finalPlan(sqlDf).toString.take(800))

    // forward direction via <=, with surrounding WHERE + aggregation
    val fwd = spark.sql("""
      SELECT count(*) AS n FROM asof_sql_err e ASOF JOIN asof_sql_pur p
      MATCH_CONDITION(e.ts_us <= p.ts_us) ON e.user_id = p.user_id
      WHERE e.asof_value IS NOT NULL""").collect()(0).getLong(0)
    val fwdNative = NativeAsOf.asOf(err, pur.select("user_id", "ts_us", "value"),
        "user_id", "ts_us", "value", forward = true)
      .filter(col("asof_value").isNotNull).count()
    assert(fwd == fwdNative && fwd > 0)

    // ordinary SQL passes through the delegate untouched
    assert(spark.sql("SELECT 1 AS one").collect()(0).getInt(0) == 1)
    // ... including SQL that merely CONTAINS the text in a string literal
    assert(spark.sql("SELECT 'ASOF JOIN' AS s").collect()(0).getString(0) == "ASOF JOIN")
    // identifiers resolve case-insensitively, like the rest of Spark SQL
    val ci = spark.sql("""
      SELECT count(*) AS n FROM asof_sql_err e ASOF JOIN asof_sql_pur p
      MATCH_CONDITION(e.TS_US >= p.ts_us) ON e.USER_ID = p.user_id""")
      .collect()(0).getLong(0)
    assert(ci == a.size)
    // an ASOF statement outside the grammar fails with the grammar, not a
    // misleading delegate syntax error
    val ex = intercept[Exception](
      spark.sql("SELECT * FROM asof_sql_err e ASOF JOIN asof_sql_pur p ON e.user_id = p.user_id"))
    assert(ex.getMessage.contains("MATCH_CONDITION"), ex.getMessage)
  }

  test("native as-of generalizes to string keys and string payloads") {
    import spark.implicits._
    val l = Seq((1L, "alice", 10L), (2L, "alice", 30L), (3L, "bob", 10L), (4L, "carol", 10L))
      .toDF("event_id", "who", "ts_us")
    val r = Seq(("alice", 5L, "first"), ("alice", 25L, "second"), ("bob", 50L, "late"))
      .toDF("who", "ts_us", "note")
    val out = NativeAsOf.asOf(l, r, "who", "ts_us", "note")
      .select("event_id", "asof_value", "asof_ts_us")
      .orderBy("event_id").collect().toSeq
      .map(x => (x.getLong(0), Option(x.get(1)), Option(x.get(2))))
    assert(out == Seq(
      (1L, Some("first"), Some(5L)),   // most recent at-or-before 10
      (2L, Some("second"), Some(25L)), // advanced past 'first' — copyValue kept it distinct
      (3L, None, None),                // bob's only note is after the probe
      (4L, None, None)))               // no rows for carol at all
    // the carried output attribute is typed to the payload column
    val schema = NativeAsOf.asOf(l, r, "who", "ts_us", "note").schema
    assert(schema("asof_value").dataType == org.apache.spark.sql.types.StringType)
  }

  // AsOfJoinExec participates in codegen iff it sits inside a
  // WholeStageCodegenExec's stage WITHOUT an InputAdapter (= stage
  // boundary) in between — a plain collect would cross boundaries and
  // count a fallback exec under a parent stage as codegen'd.
  private def codegenStagesWithAsOf(df: org.apache.spark.sql.DataFrame) = {
    def inStage(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.InputAdapter => false
      case _: graft.plans.AsOfJoinExec => true
      case other => other.children.exists(inStage)
    }
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec if inStage(w.child) => w
    }
  }

  test("native as-of participates in whole-stage codegen; compiled == interpreted") {
    withoutAqe {
      val (err, pur) = eventSides
      def run() = NativeAsOf.asOf(err, pur, "user_id", "ts_us", "value")
        .orderBy("event_id")
      assert(codegenStagesWithAsOf(run()).nonEmpty,
        run().queryExecution.executedPlan.toString.take(1200))
      val compiled = run().collect().toSeq
      val prev = spark.conf.get("spark.sql.codegen.wholeStage")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try {
        val interpreted = run().collect().toSeq
        assert(compiled.nonEmpty && compiled == interpreted)
      } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    }
  }

  test("as-of codegen covers forward/tolerance/string paths; non-atomic payloads fall back") {
    withoutAqe {
      import spark.implicits._
      val l = Seq((1L, 1L, 10L), (2L, 1L, 12L), (3L, 1L, 25L), (4L, 2L, 5L))
        .toDF("event_id", "user_id", "ts_us")
      val r = Seq((1L, 12L, 1.5), (1L, 20L, 2.5), (2L, 1L, 9.0))
        .toDF("user_id", "ts_us", "value")
      val fwd = NativeAsOf.asOf(l, r, "user_id", "ts_us", "value", forward = true)
      val tol = NativeAsOf.asOf(l, r, "user_id", "ts_us", "value", toleranceUs = 5L)
      assert(codegenStagesWithAsOf(fwd).nonEmpty, fwd.queryExecution.executedPlan.toString.take(1200))
      assert(codegenStagesWithAsOf(tol).nonEmpty, tol.queryExecution.executedPlan.toString.take(1200))
      // string key + string payload: the UTF8String clone path compiles too
      val ls = Seq((1L, "alice", 10L)).toDF("event_id", "who", "ts_us")
      val rs = Seq(("alice", 5L, "first")).toDF("who", "ts_us", "note")
      val str = NativeAsOf.asOf(ls, rs, "who", "ts_us", "note")
      assert(codegenStagesWithAsOf(str).nonEmpty, str.queryExecution.executedPlan.toString.take(1200))
      // array payload is outside the codegen type set: the exec must plan
      // OUTSIDE any codegen stage and run the interpreted merge correctly
      val ra = r.withColumn("vals", array(col("value"))).drop("value")
      val arr = NativeAsOf.asOf(l, ra, "user_id", "ts_us", "vals")
      assert(codegenStagesWithAsOf(arr).isEmpty, arr.queryExecution.executedPlan.toString.take(1200))
      val got = arr.select("event_id", "asof_value").orderBy("event_id").collect().toSeq
        .map(x => (x.getLong(0), Option(x.getSeq[Double](1)).map(_.toList)))
      assert(got == Seq(
        (1L, None), (2L, Some(List(1.5))), (3L, Some(List(2.5))), (4L, Some(List(9.0)))))
    }
  }

  test("a LIMIT over the as-of join stops its codegen loop without a codegen-contract warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("asof-limit-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(classOf[graft.plans.AsOfJoinExec]).asInstanceOf[Logger]
    logger.addAppender(capture)
    try withoutAqe {
      // one key: every probe row sits in one partition, in time order
      val l = (1L to 20L).map(t => (t, 1L, t * 10)).toDF("event_id", "user_id", "ts_us")
      val r = Seq((1L, 35L, 1.5), (1L, 95L, 2.5)).toDF("user_id", "ts_us", "value")
      val joined = NativeAsOf.asOf(l, r, "user_id", "ts_us", "value")
      val limited = joined.limit(5).orderBy("event_id")
      val stages = codegenStagesWithAsOf(limited)
      assert(stages.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.execution.LocalLimitExec])),
        limited.queryExecution.executedPlan.toString.take(1500))
      assert(limited.collect().toSeq == joined.orderBy("event_id").collect().toSeq.take(5))
    } finally logger.removeAppender(capture)
    assert(!logged.asScala.exists(_.contains("[BUG]")), logged.asScala.mkString("\n"))
  }

  test("native as-of plan is the custom exec with one exchange+sort per side") {
    val (err, pur) = eventSides
    val df = NativeAsOf.asOf(err, pur, "user_id", "ts_us", "value")
    df.collect()
    // AQE's toString shows final + initial plans; inspect only the final
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("AsOfJoin "), plan.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan.take(1200))
  }

  private def withoutAqe[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def emptyPartitionWindows(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }

  test("ScalableRank matches global-window ranking exactly, incl. ties") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, (i % 37).toDouble)).toDF("k", "v")
    val got = graft.operators.ScalableRank
      .ranked(df, col("v"), col("k"), 10)
      .select("k", "v", "rn", "rank", "dense_rank", "ntile")
      .orderBy("k").collect().toSeq
    // rank/dense_rank rank the VALUE (ties are peers) — their window orders
    // by v alone; row_number/ntile need the total order incl. tiebreaker.
    val wT = org.apache.spark.sql.expressions.Window.orderBy(col("v").desc, col("k").asc)
    val wV = org.apache.spark.sql.expressions.Window.orderBy(col("v").desc)
    val want = df
      .withColumn("rn", row_number().over(wT).cast("long"))
      .withColumn("rank", rank().over(wV).cast("long"))
      .withColumn("dense_rank", dense_rank().over(wV).cast("long"))
      .withColumn("ntile", ntile(10).over(wT).cast("long"))
      .orderBy("k").collect().toSeq
    assert(got == want)
  }

  test("spendRanking plans no single-partition window over the data") {
    withoutAqe {
      val df = graft.operators.Features.spendRanking(
        graft.operators.Cleaning.cleanOrders(Tables.orders(spark, TinySf)))
      val wins = emptyPartitionWindows(df)
      assert(wins.nonEmpty) // the constant-size offset windows
      // every unpartitioned window must sit over the per-shuffle-partition
      // count frame (one row per partition), never over the data itself
      wins.foreach { w =>
        assert(w.child.toString.contains("_pid"), w.child.toString.take(600))
      }
    }
  }

  test("topCustomers ranks over a limit-bounded input, not a global sort") {
    withoutAqe {
      val df = graft.gold.Revenue.topCustomers(
        graft.operators.Cleaning.cleanOrders(Tables.orders(spark, TinySf)),
        Tables.customer(spark, TinySf), 25)
      val wins = emptyPartitionWindows(df)
      assert(wins.nonEmpty)
      wins.foreach { w =>
        assert(w.child.toString.contains("TakeOrderedAndProject"),
          w.child.toString.take(600))
      }
    }
  }

  test("rank-based percentiles plan no percentile aggregate and one key exchange") {
    withoutAqe {
      val up = graft.operators.Features.userPercentiles(
        graft.operators.Cleaning.cleanOrders(Tables.orders(spark, TinySf)))
      val rd = graft.gold.Revenue.revenueDaily(graft.operators.Enrichment.enrichOrders(
        graft.operators.Cleaning.cleanOrders(Tables.orders(spark, TinySf)),
        Tables.customer(spark, TinySf), Tables.nation(spark, TinySf),
        Tables.region(spark, TinySf)))
      Seq("q_user_percentiles" -> up, "q_revenue_daily" -> rd).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        // the built-in exact percentile (unbounded per-group agg buffer)
        // must not appear anywhere in the physical plan
        assert(!plan.toLowerCase.contains("percentile"), s"$name: ${plan.take(800)}")
      }
      // the window sort and the downstream groupBy share ONE exchange on
      // the group key (subset-distribution rule) — the whole percentile
      // path costs a single custkey shuffle of the fact rows (the other
      // exchange in the plan is cleanOrders' orderkey dedup, upstream)
      val upPlan = up.queryExecution.executedPlan.toString
      assert("hashpartitioning\\(o_custkey".r.findAllIn(upPlan).size == 1, upPlan.take(1500))
    }
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB, a selective dimension predicate should cut the FACT scan
    // at runtime, not just the dim side: Spark's InjectRuntimeFilter plants
    // a bloom_filter_might_contain predicate on the probe side, built from
    // the filtered creation side. Local thresholds are tuned for sf-scale
    // data (prod defaults: 10 GB probe-scan floor); broadcast is disabled
    // because the rule targets shuffle joins (broadcast joins already prune
    // via their own hash relation).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = Tables.orders(spark, TinySf)
        .filter(col("o_totalprice") > 4500.0) // selective creation side
      val li = Tables.lineitem(spark, TinySf)
      val j = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .select("l_orderkey", "l_extendedprice", "o_totalprice")
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") &&
        optimized.contains("bloom_filter_agg"), optimized.take(1500))
      // and the filter is advisory only — results identical with it off
      val n = j.count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      assert(n == j.count() && n > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("FuseVecDot rewrites the HOF dot pattern into the native expression") {
    GraftFunctions.installOptimizations(spark)
    val e = Tables.embeddings(spark, TinySf)
    val df = e.select(col("vec_id"),
      Similarity.dot(col("embedding"), col("embedding")).as("d"))
    assert(df.queryExecution.optimizedPlan.toString.contains("vec_dot"),
      df.queryExecution.optimizedPlan.toString.take(600))
    // and the rewrite preserves values bit-exactly
    GraftFunctions.register(spark)
    val direct = e.select(col("vec_id"), expr("vec_dot(embedding, embedding)").as("d"))
    assert(df.orderBy("vec_id").collect().toSeq ==
      direct.orderBy("vec_id").collect().toSeq)
  }

  test("bottomk_sample plans as a partial+final aggregate pair (map-side combine)") {
    GraftFunctions.register(spark)
    val df = Tables.documents(spark, TinySf)
      .groupBy(col("lang"))
      .agg(expr("bottomk_sample(md5(cast(doc_id AS string)), doc_id, 5)").as("s"))
    df.collect()
    // the whole point vs the window path: the exchange must carry <= k
    // pairs per group per task — which requires a PARTIAL aggregation
    // below the shuffle and a FINAL merge above it
    val aggs = allNodes(finalPlan(df)).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.size >= 2, s"expected partial+final aggregate pair:\n${finalPlan(df)}")
    val modes = aggs.flatMap(_.aggregateExpressions.map(_.mode.toString)).distinct
    assert(modes.contains("Partial") && modes.contains("Final"),
      s"missing map-side combine (modes=$modes):\n${finalPlan(df)}")
  }
}
