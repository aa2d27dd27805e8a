package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Ev, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming↔batch parity: the same transforms produce the same results
  * whether driven by a streaming query or a batch job. */
class StreamingSpec extends SparkSpec {

  test("tumbling watermark aggregation matches its batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, TinySf)
      .select("ts", "event_type", "value", "user_id")
    val rows = events.as[(java.sql.Timestamp, String, Double, Long)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, String, Double, Long)]
    stream.addData(rows)
    val q = StreamOps.tumblingCounts(
        stream.toDF.toDF("ts", "event_type", "value", "user_id"))
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("tumbling_out")
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = StreamOps.tumblingCounts(events)
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("metrics listener captures per-batch throughput, duration, state and watermark") {
    import spark.implicits._
    import graft.streaming.Observability
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, TinySf)
      .select("ts", "event_type", "value", "user_id")
      .as[(java.sql.Timestamp, String, Double, Long)].collect().toSeq
    val (firstHalf, secondHalf) = rows.splitAt(rows.length / 2)

    val listener = Observability.attach(spark)
    try {
      val stream = MemoryStream[(java.sql.Timestamp, String, Double, Long)]
      val q = StreamOps.tumblingCounts(
          stream.toDF.toDF("ts", "event_type", "value", "user_id"))
        .writeStream.format("memory").queryName("obs_out")
        .outputMode("complete").start()
      stream.addData(firstHalf)
      q.processAllAvailable()
      stream.addData(secondHalf)
      q.processAllAvailable()
      q.stop()

      // the listener bus is async — wait for both batch events to land
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def batches() = listener.metrics(spark)
        .filter(col("query_name") === "obs_out" && col("num_input_rows") > 0)
      while (batches().count() < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)

      val m = batches().orderBy("batch_id").collect()
      assert(m.length >= 2, s"captured ${m.length} batches")
      assert(m.map(_.getAs[Long]("num_input_rows")).sum == rows.length)
      assert(m.forall(_.getAs[Long]("batch_duration_ms") > 0))
      assert(m.forall(_.getAs[Double]("processed_rows_per_sec") > 0.0))
      // watermarked agg: state is populated and the watermark advances
      // once a batch with later event-times has been processed
      assert(m.last.getAs[Long]("state_rows") > 0)
      assert(m.last.getAs[String]("watermark").nonEmpty)

      val s = listener.summary(spark)
        .filter(col("query_name") === "obs_out").collect()(0)
      assert(s.getAs[Long]("total_rows") == rows.length)
      assert(s.getAs[Double]("p95_batch_ms") >= s.getAs[Double]("avg_batch_ms") / 2)
      assert(s.getAs[Long]("max_state_rows") > 0)
    } finally Observability.detach(spark, listener)
  }

  test("kafka parse path round-trips events through the connector schema") {
    import graft.sources.KafkaSource
    // Mock the kafka connector's fixed output schema (key/value BINARY,
    // topic/partition/offset/timestamp) from real events serialized to JSON.
    val ev = Tables.events(spark, TinySf).limit(200)
      .select(col("event_id"), col("user_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"),
        col("value"), col("props"))
    val mocked = ev
      .select(
        col("event_id").cast("string").cast("binary").as("key"),
        to_json(struct(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"), col("value"), col("props"))).cast("binary").as("value"),
        lit("events").as("topic"),
        (col("event_id") % 4).cast("int").as("partition"),
        col("event_id").as("offset"),
        timestamp_micros(col("ts_us")).as("timestamp"))
    val parsed = KafkaSource.parseAndEnrich(mocked)
    // lineage + partition contract
    assert(Seq("_kafka_topic", "_kafka_offset", "_raw_payload", "event_date",
      "_source_system", "prop_k").forall(parsed.columns.contains))
    // payload fields survive the JSON round-trip bit-exactly
    val got = parsed.select("event_id", "user_id", "ts_us", "event_type", "value")
      .orderBy("event_id").collect().toSeq
    val want = ev.select("event_id", "user_id", "ts_us", "event_type", "value")
      .orderBy("event_id").collect().toSeq
    assert(got == want)
    assert(parsed.where(col("_source_system") === "kafka").count() == 200)
  }

  test("session_window streaming matches its batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, TinySf)
      .select("ts", "user_id", "event_type", "value")
    val rows = events.as[(java.sql.Timestamp, Long, String, Double)].collect().toSeq
    val maxTs = rows.map(_._1.getTime).max
    // flush rows: far-future events advance the watermark past every
    // session end (their own session, for a sentinel user, is filtered out)
    def flush(h: Int) = (new java.sql.Timestamp(maxTs + h * 3600 * 1000L),
      999999L, "view", 0.0)

    val stream = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val q = graft.streaming.StreamOps.sessionWindowStats(
        stream.toDF.toDF("ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("sessionwin_out")
      .outputMode("append").start()
    stream.addData(rows); q.processAllAvailable()
    stream.addData(flush(10)); q.processAllAvailable()
    stream.addData(flush(20)); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessionwin_out")
      .filter(col("user_id") =!= 999999L)
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = graft.streaming.StreamOps.sessionWindowStats(events)
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stateful sessionization carries open sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val us = 1000000L
    // user 1: events at t=0,60s | batch boundary | t=120s (same session),
    // then t=4000s (new session). Flush closes the last open session.
    val batchA = Seq(Ev(1L, 1L, 0L, "view", 1.0), Ev(1L, 2L, 60 * us, "purchase", 5.0))
    val batchB = Seq(Ev(1L, 3L, 120 * us, "view", 2.0), Ev(1L, 4L, 4000 * us, "error", 0.0))
    val flush = Seq(Ev(1L, 99L, StreamOps.FlushTsUs, "view", 0.0))

    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionize(stream.toDS(), gapUs = 30 * 60 * us)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    stream.addData(batchA); q.processAllAvailable()
    stream.addData(batchB); q.processAllAvailable()
    stream.addData(flush); q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sessions_out").as[SessionOut]
      .collect().toSeq.sortBy(_.session_idx)
    // session 1: 3 events (0,60,120s) spanning the batch boundary; session 2: 1 event
    assert(sessions.map(s => (s.session_idx, s.event_count, s.purchases, s.errors)) ==
      Seq((1L, 3L, 1L, 0L), (2L, 1L, 0L, 1L)))
    assert(sessions.head.session_start_us == 0L)
    assert(sessions.head.session_end_us == 120 * us)
  }

  test("streaming sessionization agrees with the batch operator on real data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.events(spark, TinySf)
      .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_type"), col("value"))
      .as[Ev].collect().toSeq
    val users = evs.map(_.user_id).distinct
    val flush = users.map(u => Ev(u, 9999999L, StreamOps.FlushTsUs, "view", 0.0))

    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionize(stream.toDS(), Sessionize2.gapUs)
      .writeStream.format("memory").queryName("sessions_real")
      .outputMode("append").start()
    stream.addData(evs); q.processAllAvailable()
    stream.addData(flush); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessions_real")
      .select("user_id", "session_idx", "event_count", "purchases", "errors")
      .orderBy("user_id", "session_idx").collect().toSeq
    val batch = graft.operators.Sessionize.sessionStats(Tables.events(spark, TinySf))
      .select("user_id", "session_idx", "event_count", "purchases", "errors")
      .orderBy("user_id", "session_idx").collect().toSeq
    assert(streamed == batch)
    assert(batch.size > 100)
  }

  test("event-time timers close EVERY idle session from one watermark advance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TimerSessions
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val listener = graft.streaming.Observability.attach(spark)
    try {
      val evs = Tables.events(spark, TinySf)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"),
          col("event_type"), col("value"), col("ts").cast("timestamp").as("ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4), r.getTimestamp(5))).toSeq
      val maxUs = evs.map(_._3).max
      // watermark advancers from ONE synthetic user — no per-key flush:
      // the second batch lets the first advancer's watermark take effect
      def adv(id: Long, us: Long) =
        (999999L, id, us, "view", 0.0, new java.sql.Timestamp(us / 1000L))
      val stream = MemoryStream[(Long, Long, Long, String, Double, java.sql.Timestamp)]
      val q = TimerSessions.sessionize(
          stream.toDS().toDF("user_id", "event_id", "ts_us", "event_type", "value", "ts"),
          Sessionize2.gapUs)
        .writeStream.format("memory").queryName("timer_sessions")
        .outputMode("append").start()
      stream.addData(evs); q.processAllAvailable()
      stream.addData(Seq(adv(9000001L, maxUs + 10L * Sessionize2.gapUs))); q.processAllAvailable()
      stream.addData(Seq(adv(9000002L, maxUs + 20L * Sessionize2.gapUs))); q.processAllAvailable()
      q.stop()

      val streamed = spark.table("timer_sessions")
        .filter(col("user_id") =!= 999999L)
        .select("user_id", "session_idx", "event_count", "purchases", "errors")
        .orderBy("user_id", "session_idx").collect().toSeq
      val batch = graft.operators.Sessionize.sessionStats(Tables.events(spark, TinySf))
        .select("user_id", "session_idx", "event_count", "purchases", "errors")
        .orderBy("user_id", "session_idx").collect().toSeq
      assert(streamed == batch)
      assert(batch.size > 100)

      // component-level health: the state-store gauges surface PER
      // OPERATOR (which operator's state, memory, commit time), not just
      // as a per-query total — the listener bus is async, so wait
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def ops() = listener.operatorMetrics(spark)
        .filter(col("query_name") === "timer_sessions")
      while (ops().count() < 1 && System.nanoTime() < deadline) Thread.sleep(100)
      val om = ops().collect()
      assert(om.nonEmpty, "no per-operator state metrics captured")
      assert(om.forall(_.getAs[String]("operator_name").nonEmpty))
      assert(om.map(_.getAs[Long]("num_rows_updated")).sum > 0,
        "state rows were updated but the per-operator gauge shows none")
      assert(om.exists(_.getAs[Long]("memory_used_bytes") > 0))
      val os = listener.operatorSummary(spark)
        .filter(col("query_name") === "timer_sessions").collect()
      assert(os.length == 1, s"expected one stateful operator, got ${os.length}")
      assert(os(0).getAs[Long]("total_rows_updated") > 0)
    } finally {
      graft.streaming.Observability.detach(spark, listener)
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState EWMA drift matches the batch fold bit-exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulDrift
    // transformWithState runs on the RocksDB state store only
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = Tables.events(spark, TinySf)
        .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"),
          col("event_type"), col("value"))
        .as[Ev].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
      // two micro-batches split mid-history: state must carry EWMA across
      val (first, second) = evs.splitAt(evs.size / 2)

      val stream = MemoryStream[Ev]
      val q = StatefulDrift.driftStream(stream.toDS())
        .writeStream.format("memory").queryName("drift_out")
        .outputMode("append").start()
      stream.addData(first); q.processAllAvailable()
      stream.addData(second); q.processAllAvailable()
      q.stop()

      val streamed = spark.table("drift_out")
        .orderBy("event_id").collect().toSeq
      val batch = StatefulDrift.driftBatch(
        Tables.events(spark, TinySf)
          .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"),
            col("event_type"), col("value"))
          .as[Ev])
        .toDF().orderBy("event_id").collect().toSeq
      assert(streamed == batch)
      assert(batch.size > 100)
      // spikes exist and only after warm-up, with value above the band
      val spikes = batch.filter(_.getBoolean(7))
      assert(spikes.nonEmpty)
      spikes.foreach { r =>
        assert(r.getLong(6) >= StatefulDrift.WarmupN)
        assert(r.getDouble(3) > StatefulDrift.SpikeFactor * r.getDouble(4))
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpointed stream restarts without duplicating output") {
    import spark.implicits._
    val batchDf = Tables.events(spark, TinySf)
      .select("event_id", "ts", "event_type", "props").limit(500)
    val inDir = java.nio.file.Files.createTempDirectory("graft_ckpt_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    batchDf.write.mode("overwrite").parquet(inDir)

    def runOnce(): Unit = {
      val q = StreamOps.bronzeShape(
          spark.readStream.schema(batchDf.schema).parquet(inDir))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    runOnce() // restart from checkpoint: input already committed → no new rows
    val afterSecond = spark.read.parquet(outDir).count()
    assert(afterFirst == 500L)
    assert(afterSecond == 500L)
    assert(spark.read.parquet(outDir).select("event_id").distinct().count() == 500L)
  }

  test("stream-stream interval join matches its batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, TinySf)
      .select("ts", "user_id", "event_id", "event_type", "value")
    val rows = events
      .as[(java.sql.Timestamp, Long, Long, String, Double)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, Long, Long, String, Double)]
    stream.addData(rows)
    val q = StreamOps.purchaseErrorJoin(
        stream.toDF.toDF("ts", "user_id", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ssj_out")
      .orderBy("p_event_id", "e_event_id").collect().toSeq
    val batch = StreamOps.purchaseErrorJoin(events)
      .orderBy("p_event_id", "e_event_id").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("LEFT OUTER stream-stream interval join null-pads unmatched " +
    "purchases once the watermark passes, matching the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, TinySf)
      .select("ts", "user_id", "event_id", "event_type", "value")
    val rows = events
      .as[(java.sql.Timestamp, Long, Long, String, Double)].collect().toSeq
    val maxTs = rows.map(_._1.getTime).max

    val stream = MemoryStream[(java.sql.Timestamp, Long, Long, String, Double)]
    stream.addData(rows)
    val q = StreamOps.purchaseErrorLeftJoin(
        stream.toDF.toDF("ts", "user_id", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("ssj_left_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // a far-future sentinel on EACH side advances both watermarks so
    // every unmatched real purchase is provably beyond late errors and
    // must emit null-padded; the sentinels themselves are excluded below
    val future = new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000)
    stream.addData(Seq(
      (future, 999999L, 888888L, "purchase", 0.0),
      (future, 999998L, 888889L, "error", 0.0)))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ssj_left_out")
      .filter(col("p_event_id") =!= 888888L)
      .orderBy("p_event_id", "e_event_id").collect().toSeq
    val batch = StreamOps.purchaseErrorLeftJoin(events)
      .orderBy("p_event_id", "e_event_id").collect().toSeq
    assert(streamed == batch)
    // the left-outer semantics must actually exercise: some purchases
    // have no in-window error and arrive null-padded
    assert(batch.exists(_.isNullAt(batch.head.fieldIndex("e_event_id"))),
      "test corpus must contain error-free purchases")
    assert(batch.exists(!_.isNullAt(batch.head.fieldIndex("e_event_id"))))
  }

  test("FULL OUTER stream-stream interval join null-pads BOTH unmatched " +
    "sides on watermark expiry, matching the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, TinySf)
      .select("ts", "user_id", "event_id", "event_type", "value")
    val rows = events
      .as[(java.sql.Timestamp, Long, Long, String, Double)].collect().toSeq
    val maxTs = rows.map(_._1.getTime).max

    val stream = MemoryStream[(java.sql.Timestamp, Long, Long, String, Double)]
    stream.addData(rows)
    val q = StreamOps.purchaseErrorFullJoin(
        stream.toDF.toDF("ts", "user_id", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("ssj_full_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // far-future sentinels advance both watermarks so every unmatched
    // real row on EITHER side is provably beyond late partners and must
    // emit null-padded; the sentinels themselves are excluded below
    val future = new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000)
    stream.addData(Seq(
      (future, 999999L, 888888L, "purchase", 0.0),
      (future, 999998L, 888889L, "error", 0.0)))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ssj_full_out")
      .filter((col("p_event_id").isNull || col("p_event_id") =!= 888888L) &&
        (col("e_event_id").isNull || col("e_event_id") =!= 888889L))
      .orderBy("p_event_id", "e_event_id").collect().toSeq
    val batch = StreamOps.purchaseErrorFullJoin(events)
      .orderBy("p_event_id", "e_event_id").collect().toSeq
    assert(streamed == batch)
    // all three row classes must actually exercise: matched pairs,
    // error-side-null purchases, purchase-side-null errors
    val pIdx = batch.head.fieldIndex("p_event_id")
    val eIdx = batch.head.fieldIndex("e_event_id")
    assert(batch.exists(r => !r.isNullAt(pIdx) && !r.isNullAt(eIdx)))
    assert(batch.exists(r => !r.isNullAt(pIdx) && r.isNullAt(eIdx)),
      "test corpus must contain error-free purchases")
    assert(batch.exists(r => r.isNullAt(pIdx) && !r.isNullAt(eIdx)),
      "test corpus must contain errors preceding no purchase")
  }

  test("watermarked streaming dedup drops replayed events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, TinySf)
      .select("ts", "event_id", "event_type").limit(200)
    val rows = events.as[(java.sql.Timestamp, Long, String)].collect().toSeq

    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamOps.dedupStream(
        stream.toDF.toDF("ts", "event_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    stream.addData(rows); q.processAllAvailable()
    stream.addData(rows); q.processAllAvailable() // replay the same batch
    q.stop()
    assert(spark.table("dedup_out").count() == 200)
  }

  test("deterministic stratified sampler is batch/stream identical") {
    import spark.implicits._
    import graft.operators.Sampling
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TinySf).select("doc_id", "lang")
    val rows = docs.as[(Long, String)].collect().toSeq
    val rates = Map("en" -> 3000, "zh" -> 5000)

    val stream = MemoryStream[(Long, String)]
    stream.addData(rows)
    val q = Sampling.sampleStratified(
        stream.toDF.toDF("doc_id", "lang"),
        col("lang"), col("doc_id"), rates, defaultBp = 1000)
      .writeStream.format("memory").queryName("sample_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sample_out").orderBy("doc_id").collect().toSeq
    val batch = Sampling.sampleStratified(docs, col("lang"), col("doc_id"),
      rates, defaultBp = 1000).orderBy("doc_id").collect().toSeq
    // membership is a pure key function — replaying in a stream, on any
    // partitioning, yields the exact same sample
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("bronze shaping runs as a file-source streaming query") {
    import spark.implicits._
    val batchDf = Tables.events(spark, TinySf).select("event_id", "ts", "event_type", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
    batchDf.write.mode("overwrite").parquet(dir)

    val streamIn = spark.readStream.schema(batchDf.schema).parquet(dir)
    val q = StreamOps.bronzeShape(streamIn)
      .writeStream.format("memory").queryName("bronze_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("bronze_out")
    assert(out.count() == batchDf.count())
    assert(out.where(col("prop_k").isNull).count() == 0)
    assert(out.select("event_date").distinct().count() >= 28)
  }

  test("dropDuplicatesWithinWatermark collapses late jittered duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamOps.dedupWithinWatermark(
        stream.toDF.toDF("ts", "event_id", "event_type"),
        Seq("event_id"), "10 minutes")
      .writeStream.format("memory").queryName("wm_dedup_out")
      .outputMode("append").start()
    val base = 1700000000000L
    stream.addData(Seq((ts(base), 1L, "click"), (ts(base + 1000), 2L, "view")))
    q.processAllAvailable()
    // redelivery of key 1 with a DIFFERENT (late, jittered) timestamp —
    // plain dropDuplicates on (event_id, ts) would keep it as new
    stream.addData(Seq((ts(base + 5000), 1L, "click")))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("wm_dedup_out").count() == 2)
  }

  test("foreachBatch merge sink upserts micro-batches into versioned silver") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = java.nio.file.Files.createTempDirectory("graft_merge_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_merge_ckpt").toString
    val stream = MemoryStream[(Long, String, Double, Long)]
    val q = StreamOps.mergeSink(
      stream.toDF.toDF("k", "status", "amount", "seq"),
      keys = Seq("k"), tiebreak = Seq("seq"),
      targetDir = target, checkpointDir = ckpt)

    // batch 1: two inserts, with an in-batch duplicate of k=1 (seq wins)
    stream.addData(Seq((1L, "new", 10.0, 1L), (1L, "dup", 11.0, 2L), (2L, "new", 20.0, 1L)))
    q.processAllAvailable()
    // batch 2: update k=1, insert k=3
    stream.addData(Seq((1L, "upd", 15.0, 3L), (3L, "new", 30.0, 1L)))
    q.processAllAvailable()
    q.stop()

    val vs = new java.io.File(target).listFiles().map(_.getName).filter(_.startsWith("v="))
    assert(vs.toSet == Set("v=1", "v=2"))
    val fin = spark.read.parquet(s"$target/v=2")
      .select("k", "status", "amount", "_merge_action")
      .as[(Long, String, Double, String)].collect().toSet
    assert(fin == Set(
      (1L, "upd", 15.0, "updated"),
      (2L, "new", 20.0, "kept"),
      (3L, "new", 30.0, "inserted")))
  }

  test("streaming scoring hot-reloads the latest registry model between micro-batches") {
    import graft.ml.{ModelRegistry, TrainedModel}
    import graft.operators.Cleaning
    import graft.streaming.StreamScoring
    import org.apache.spark.ml.classification.GBTClassifier

    // feature rows (o_orderkey, label, 25 features) from the batch pipeline
    val clean = Cleaning.cleanOrders(Tables.orders(spark, TinySf))
    val feats = graft.ml.FraudScore.fullFeatureVector(
        graft.operators.Enrichment.enrichOrders(clean,
          Tables.customer(spark, TinySf), Tables.nation(spark, TinySf),
          Tables.region(spark, TinySf)),
        clean, Cleaning.cleanLineitem(Tables.lineitem(spark, TinySf)))
      .select(col("o_orderkey") +: col("label").cast("double").as("label") +:
        TrainedModel.FeatureCols.map(c => col(c).cast("double").as(c)): _*)
      .persist()
    val assembled = StreamScoring.assembleFeatures(feats)

    def train(maxIter: Int) = new GBTClassifier()
      .setFeaturesCol("fv").setLabelCol("label")
      .setMaxIter(maxIter).setMaxDepth(3).setSeed(42L)
      .fit(assembled)

    val root = java.nio.file.Files.createTempDirectory("graft_serving").toString
    val m1 = train(2)
    assert(ModelRegistry.save(spark, m1, root, "fraud_gbt") == 1L)

    // serve: file-source stream of feature rows, scored in foreachBatch
    val streamDir = java.nio.file.Files.createTempDirectory("graft_feat_stream").toString
    val (first, second) = (feats.filter(col("o_orderkey") % 2 === 0),
      feats.filter(col("o_orderkey") % 2 === 1))
    first.write.mode("append").parquet(streamDir)

    val scorer = new StreamScoring.HotModelScorer(root, "fraud_gbt")
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]() // key, pred, version
    val q = StreamScoring.assembleFeatures(
        spark.readStream.schema(feats.schema).parquet(streamDir))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = scorer.scoreBatch(b)
          .select("o_orderkey", "predicted_fraud", "model_version").collect()
        out.synchronized {
          out ++= rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))); ()
        }
      }
      .start()
    try {
      q.processAllAvailable()
      val afterV1 = out.synchronized(out.toVector)
      assert(afterV1.nonEmpty && afterV1.forall(_._3 == 1L),
        "first batches must score with registry version 1")
      assert(scorer.loadedVersion.contains(1L))
      // per-row parity with direct batch scoring by the same model
      val direct1 = m1.transform(assembled.join(first.select("o_orderkey"), "o_orderkey"))
        .select(col("o_orderkey"), col("prediction").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(afterV1.forall { case (k, p, _) => direct1(k) == p })

      // train v2 MID-STREAM and save; next micro-batch must pick it up
      // without restarting the query (the /model/reload contract)
      val m2 = train(4)
      assert(ModelRegistry.save(spark, m2, root, "fraud_gbt") == 2L)
      second.write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      val all = out.synchronized(out.toVector)
      val v2rows = all.drop(afterV1.size)
      assert(v2rows.nonEmpty && v2rows.forall(_._3 == 2L),
        s"post-save batches must score with version 2: ${v2rows.take(3)}")
      assert(scorer.loadedVersion.contains(2L))
      val direct2 = m2.transform(assembled.join(second.select("o_orderkey"), "o_orderkey"))
        .select(col("o_orderkey"), col("prediction").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(v2rows.forall { case (k, p, _) => direct2(k) == p })
      // earlier rows keep their version-1 lineage — scoring is versioned
      assert(all.take(afterV1.size).forall(_._3 == 1L))
    } finally {
      q.stop()
      feats.unpersist(blocking = false)
      graft.util.CacheRegistry.release(TrainedModel)
    }
  }

  test("streaming ANN scoring hot-reloads the latest registry index between micro-batches") {
    import graft.sim.AnnIndex
    import graft.streaming.StreamScoring

    val emb = Tables.embeddings(spark, TinySf)
    val base = emb.filter(col("vec_id") % 4 =!= 3)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_serving").toString
    val idx = AnnIndex.train(base)
    // v1: index + the base-only corpus, published as one atomic version
    assert(AnnIndex.saveWithCorpus(spark, idx, base, root, "ivfpq_serve") == 1L)

    // query vectors in their OWN id space (not corpus vec_ids)
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000L).as("query_id"), col("embedding"))
      .persist()
    val (first, second) = (queries.filter(col("query_id") % 2 === 0),
      queries.filter(col("query_id") % 2 === 1))
    val streamDir = java.nio.file.Files.createTempDirectory("graft_qvec_stream").toString
    first.write.mode("append").parquet(streamDir)

    def direct(version: Long, qs: org.apache.spark.sql.DataFrame) =
      AnnIndex.searchWithQueries(
          spark.read.parquet(AnnIndex.corpusPath(spark, root, "ivfpq_serve", Some(version)))
            .withColumn("cell", col("cell").cast("long")),
          idx, AnnIndex.queriesFrom(qs), excludeSelf = false)
        .select("query_id", "rank", "vec_id", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap

    val scorer = new StreamScoring.HotIndexScorer(root, "ivfpq_serve")
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double, Long)]()
    val q = spark.readStream.schema(queries.schema).parquet(streamDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = scorer.scoreBatch(b)
          .select("query_id", "rank", "vec_id", "cos_sim", "index_version").collect()
        out.synchronized {
          out ++= rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getLong(4))); ()
        }
      }
      .start()
    try {
      q.processAllAvailable()
      val afterV1 = out.synchronized(out.toVector)
      assert(afterV1.nonEmpty && afterV1.forall(_._5 == 1L),
        "first batches must search with index version 1")
      assert(scorer.loadedVersion.contains(1L))
      // per-slot parity (neighbor AND bit-exact score) with batch search
      val d1 = direct(1L, first)
      assert(afterV1.forall { case (qid, rank, vec, sim, _) =>
        d1((qid, rank)) == ((vec, sim)) })
      // v1 serves the base-only corpus: no delta vector can be a neighbor
      assert(afterV1.forall(_._3 % 4 != 3), "v1 returned a vector not in its corpus")

      // publish v2 MID-STREAM: same quantizers, corpus grown to the full
      // set (the nightly rebuild); next micro-batch must pick it up
      assert(AnnIndex.saveWithCorpus(spark, idx, emb, root, "ivfpq_serve") == 2L)
      second.write.mode("append").parquet(streamDir)
      q.processAllAvailable()
      val all = out.synchronized(out.toVector)
      val v2rows = all.drop(afterV1.size)
      assert(v2rows.nonEmpty && v2rows.forall(_._5 == 2L),
        s"post-publish batches must search with version 2: ${v2rows.take(3)}")
      assert(scorer.loadedVersion.contains(2L))
      val d2 = direct(2L, second)
      assert(v2rows.forall { case (qid, rank, vec, sim, _) =>
        d2((qid, rank)) == ((vec, sim)) })
      // earlier rows keep their version-1 lineage
      assert(all.take(afterV1.size).forall(_._5 == 1L))
    } finally {
      q.stop()
      queries.unpersist(blocking = false)
    }
  }

  test("streaming order updates drive CDC-incremental gold per micro-batch") {
    import graft.pipeline.Medallion
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_sloop").toString
    val m = new Medallion(spark, TinySf, wh)
    m.runAll()
    val v1 = m.latestVersion("orders_enriched").get

    val silver = m.readSilver("orders_enriched").drop("_merge_action")
    val updDir = java.nio.file.Files.createTempDirectory("graft_upd_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sloop_ckpt").toString

    // batch 1: double the price of 15 orders
    val batch1 = silver.orderBy("o_orderkey").limit(15)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    batch1.write.mode("append").parquet(updDir)

    val stream = spark.readStream.schema(silver.schema).parquet(updDir)
    val q = m.streamingGoldMaintenance(stream, Seq("o_orderkey"),
      Seq("o_totalprice"), ckpt)
    try {
      q.processAllAvailable()
      assert(m.latestVersion("orders_enriched").contains(v1 + 1))

      // batch 2: different orders, different dates
      val batch2 = silver.orderBy(desc("o_orderkey")).limit(15)
        .withColumn("o_totalprice", col("o_totalprice") * 3)
      batch2.write.mode("append").parquet(updDir)
      q.processAllAvailable()
      assert(m.latestVersion("orders_enriched").contains(v1 + 2))
    } finally q.stop()

    // gold must equal the full recompute from the final silver — the
    // incremental refreshes covered every touched partition, no more
    val fullDf = graft.gold.Revenue.revenueDaily(
      m.readSilver("orders_enriched").drop("_merge_action"))
    val dims = Seq("order_date", "region_name", "status_normalized", "amount_tier")
    val want = fullDf.orderBy(dims.head, dims.tail: _*).collect().toSeq
    val cols = fullDf.columns.toSeq
    val got = m.readGold("revenue_daily")
      .select(cols.head, cols.tail: _*)
      .orderBy(dims.head, dims.tail: _*).collect().toSeq
    assert(got == want, "streamed gold diverged from the full recompute")
    // and the updates actually landed (prices really changed)
    assert(m.readSilver("orders_enriched")
      .filter(col("_merge_action") === "updated").count() > 0)
  }

  /** A file-source mvSink over TinySf lineitem, fed two micro-batches (even
    * and odd orders): returns the store, its checkpoint, a restart on that
    * checkpoint run to completion, and the batch build over both halves. */
  private def mvStore(root: String) = {
    val keys = Seq("l_returnflag", "l_linestatus")
    val specs = Seq(("sum", "l_quantity"), ("min", "l_discount"), ("max", "l_discount"))
    val li = Tables.lineitem(spark, TinySf).select(col("l_returnflag"),
      col("l_linestatus"), col("l_quantity"), col("l_discount"), col("l_orderkey"))
    val (src, store, ckpt) = (s"$root/src", s"$root/mv", s"$root/ckpt")
    def start(checkpoint: String) = StreamOps.mvSink(
      spark.readStream.schema(li.schema).parquet(src), keys, specs, store, checkpoint)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(keys.map(col): _*).collect().toSeq
    def land(half: org.apache.spark.sql.Column): Unit =
      li.filter(half).coalesce(1).write.mode("append").parquet(src)
    land(col("l_orderkey") % 2 === 0) // the file source needs its directory
    val q = start(ckpt)
    try {
      q.processAllAvailable()
      land(col("l_orderkey") % 2 === 1)
      q.processAllAvailable()
    } finally q.stop()
    val built = sorted(graft.plans.MvRewrite.partialStates(li.drop("l_orderkey"), keys, specs))
    (store, ckpt, start _, (v: Long) => sorted(spark.read.parquet(s"$store/v=$v")), built)
  }

  test("a replayed snapshot-sink micro-batch folds once; a crashed attempt " +
    "of it is taken over") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_replay").toString
    val (store, ckpt, start, snapshot, built) = mvStore(root)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def path(p: String) = new org.apache.hadoop.fs.Path(p)
    def versions = new java.io.File(store).list().filter(_.startsWith("v=")).sorted.toSeq
    assert(versions == Seq("v=1", "v=2") && snapshot(2L) == built)

    // foreachBatch is at-least-once: batch 1 ran, but its commit was not
    // recorded, so a restart delivers it again
    def replayBatch1(): Unit = {
      assert(fs.delete(path(s"$ckpt/commits/1"), false))
      val q = start(ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    replayBatch1()
    assert(versions == Seq("v=1", "v=2"), "a replayed batch published a new version")
    assert(snapshot(2L) == built, "a replayed batch was folded twice")

    // a crash mid-write of batch 1: v=2 holds a claim and part of its files,
    // no _SUCCESS; the replay takes the claim over and rewrites it whole
    val v2 = new java.io.File(s"$store/v=2")
    assert(fs.delete(path(s"$store/v=2/_SUCCESS"), false))
    v2.listFiles().filter(_.getName.endsWith(".parquet")).take(1)
      .foreach(f => assert(fs.delete(path(f.getPath), false)))
    replayBatch1()
    assert(versions == Seq("v=1", "v=2"))
    assert(snapshot(2L) == built, "the taken-over batch diverged from the batch build")
  }

  test("a second checkpoint lineage against a snapshot store fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_lineage").toString
    val (store, _, start, snapshot, built) = mvStore(root)
    val q = start(s"$root/ckpt_other")
    try {
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      assert(ex.getMessage.contains("owned by checkpoint"), ex.getMessage)
    } finally q.stop()
    assert(new java.io.File(store).list().filter(_.startsWith("v=")).sorted.toSeq ==
      Seq("v=1", "v=2"))
    assert(snapshot(2L) == built, "the rejected lineage touched the store")
  }

  test("streaming sketch maintenance equals a batch sketch of everything seen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.operators.Cleaning.cleanOrders(Tables.orders(spark, TinySf))
      .select(col("order_date").cast("timestamp").as("ts"),
        col("o_totalprice").as("v"), col("o_orderkey").as("k"))
      .as[(java.sql.Timestamp, Double, Long)].collect().toSeq
    val (a, rest) = rows.splitAt(rows.length / 3)
    val (b, c) = rest.splitAt(rest.length / 2)
    val store = java.nio.file.Files.createTempDirectory("graft-qsk-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-qsk-ckpt").toString

    val stream = MemoryStream[(java.sql.Timestamp, Double, Long)]
    val df = stream.toDF.toDF("ts", "v", "k")
      .withColumn("day", col("ts").cast("date"))
    val q = StreamOps.sketchSink(df, "day", col("v"), col("k"), store, ckpt)
    Seq(a, b, c).foreach { part => stream.addData(part); q.processAllAvailable() }
    q.stop()

    val latest = new java.io.File(store).listFiles().map(_.getName)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).max
    assert(latest == 3L) // one snapshot per micro-batch
    val streamed = spark.read.parquet(s"$store/v=$latest")
    val direct = graft.gold.QuantileSketch.sketch(
      rows.toDF("ts", "v", "k").withColumn("day", col("ts").cast("date")),
      Seq("day"), col("v"), col("k"))
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.select("day", "qsk", "n_rows").collect()
        .map(r => r.getDate(0).toString ->
          (r.getSeq[org.apache.spark.sql.Row](1).toList.map(_.toSeq.toList),
            r.getLong(2))).toMap
    val (sm, dm) = (toMap(streamed), toMap(direct))
    assert(sm.keySet == dm.keySet && sm.nonEmpty)
    sm.foreach { case (day, v) =>
      assert(v == dm(day), s"day $day: streamed sketch diverged from batch")
    }
    // re-merging the streamed store with a replay of batch c is a no-op on
    // the sample side (per-row identity dedup)
    val replay = graft.gold.QuantileSketch.merge(
      streamed.unionByName(graft.gold.QuantileSketch.sketch(
        c.toDF("ts", "v", "k").withColumn("day", col("ts").cast("date")),
        Seq("day"), col("v"), col("k"))),
      Seq("day"))
    val rm = toMap(replay)
    sm.foreach { case (day, (qsk, _)) =>
      assert(rm(day)._1 == qsk, s"day $day: replay changed the sample") }
  }

  test("Prometheus HTTP endpoint serves live scrapes of the streaming listener") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def get(port: Int, path: String): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) ""
        else try scala.io.Source.fromInputStream(is).mkString finally is.close()
      (code, body)
    }

    val listener = graft.streaming.Observability.attach(spark)
    val endpoint = graft.streaming.PrometheusEndpoint.start(listener)
    try {
      // before any batch: no streaming families yet, but the unlabeled
      // serving families exist from process start at zero (the Python
      // client's behavior for the api.py metric set)
      val (mc0, mb0) = get(endpoint.port, "/metrics")
      assert(mc0 == 200 && !mb0.contains("graft_stream_"))
      assert(mb0.contains("ml_fraud_detected_total 0")
        && mb0.contains("ml_prediction_latency_ms_count 0"))
      assert(get(endpoint.port, "/nope")._1 == 404)

      val rows = Tables.events(spark, TinySf)
        .select("ts", "event_type", "value", "user_id")
        .as[(java.sql.Timestamp, String, Double, Long)].collect().toSeq
      val stream = MemoryStream[(java.sql.Timestamp, String, Double, Long)]
      val q = StreamOps.tumblingCounts(
          stream.toDF.toDF("ts", "event_type", "value", "user_id"))
        .writeStream.format("memory").queryName("prom_out")
        .outputMode("complete").start()
      stream.addData(rows)
      q.processAllAvailable()
      q.stop()

      // listener bus is async — poll the ENDPOINT until the batch lands
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var body = ""
      while (!body.contains("""graft_stream_input_rows_total{query="prom_out"}""")
             && System.nanoTime() < deadline) {
        Thread.sleep(100); body = get(endpoint.port, "/metrics")._2
      }
      assert(body.contains("# TYPE graft_stream_input_rows_total counter"))
      assert(body.contains(
        s"""graft_stream_input_rows_total{query="prom_out"} ${rows.length}"""))
      assert(body.contains("# TYPE graft_stream_batch_duration_ms summary"))
    } finally {
      endpoint.stop()
      graft.streaming.Observability.detach(spark, listener)
    }
  }

  test("serving metadata routes: /health degrades then heals, /model/info tracks the registry") {
    def get(port: Int, path: String): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (is == null) ""
        else try scala.io.Source.fromInputStream(is).mkString finally is.close()
      (code, body)
    }

    val root = java.nio.file.Files.createTempDirectory("graft-serving").toString
    val features = graft.ml.TrainedModel.FeatureCols
    val listener = graft.streaming.Observability.attach(spark)
    val endpoint = graft.streaming.PrometheusEndpoint.start(listener,
      modelInfo = graft.streaming.PrometheusEndpoint.registryModelInfo(
        spark, root, "fraud_gbt", features))
    try {
      // no committed model yet: degraded health, 503 info (api.py:162)
      val (hc0, hb0) = get(endpoint.port, "/health")
      assert(hc0 == 200 && hb0.contains("\"status\": \"degraded\"")
        && hb0.contains("\"model_loaded\": false"))
      assert(get(endpoint.port, "/model/info")._1 == 503)

      // publish v=1 through the registry (any artifact — the route reads
      // version metadata, not the model bytes)
      graft.ml.ModelRegistry.saveArtifact(spark, root, "fraud_gbt") { tmp =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
      }
      val (hc1, hb1) = get(endpoint.port, "/health")
      assert(hc1 == 200 && hb1.contains("\"status\": \"healthy\"")
        && hb1.contains("\"model_version\": 1"))
      val (ic, ib) = get(endpoint.port, "/model/info")
      assert(ic == 200)
      assert(ib.contains("\"model_name\": \"fraud_gbt\"")
        && ib.contains("\"model_version\": 1")
        && ib.contains(s""""feature_count": ${features.size}""")
        && ib.contains("\"fraud_threshold\": 0.5")
        && features.forall(f => ib.contains(s""""$f"""")))

      // hot reload: a second publish is visible without restarting
      graft.ml.ModelRegistry.saveArtifact(spark, root, "fraud_gbt") { tmp =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
      }
      assert(get(endpoint.port, "/model/info")._2.contains("\"model_version\": 2"))
      // /metrics still serves on the same server
      assert(get(endpoint.port, "/metrics")._1 == 200)
    } finally {
      endpoint.stop()
      graft.streaming.Observability.detach(spark, listener)
    }
  }

  test("prediction serving routes: /predict bit-matches batch scoring, " +
       "metrics land in the scrape, reload flips versions, transport edges") {
    import graft.ml.{ModelRegistry, TrainedModel}
    import graft.operators.Cleaning
    import graft.streaming.{PrometheusEndpoint, ServingApi, StreamScoring}
    import org.apache.spark.ml.classification.GBTClassifier

    def http(port: Int, method: String, path: String, body: Option[String],
             contentType: String = "application/json"): (Int, String) = {
      val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(15000)
      conn.setRequestMethod(method)
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", contentType)
        val os = conn.getOutputStream
        try os.write(b.getBytes("UTF-8")) finally os.close()
      }
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val resp = if (is == null) ""
        else try scala.io.Source.fromInputStream(is).mkString finally is.close()
      (code, resp)
    }
    def get(port: Int, path: String) = http(port, "GET", path, None)
    def post(port: Int, path: String, body: String) =
      http(port, "POST", path, Some(body))

    // feature rows from the batch pipeline (same recipe as the
    // hot-reload scorer test)
    val clean = Cleaning.cleanOrders(Tables.orders(spark, TinySf))
    val feats = graft.ml.FraudScore.fullFeatureVector(
        graft.operators.Enrichment.enrichOrders(clean,
          Tables.customer(spark, TinySf), Tables.nation(spark, TinySf),
          Tables.region(spark, TinySf)),
        clean, Cleaning.cleanLineitem(Tables.lineitem(spark, TinySf)))
      .select(col("o_orderkey") +: col("label").cast("double").as("label") +:
        TrainedModel.FeatureCols.map(c => col(c).cast("double").as(c)): _*)
      .persist()
    val assembled = StreamScoring.assembleFeatures(feats)
    def train(maxIter: Int) = new GBTClassifier()
      .setFeaturesCol("fv").setLabelCol("label")
      .setMaxIter(maxIter).setMaxDepth(3).setSeed(42L)
      .fit(assembled)

    val root = java.nio.file.Files.createTempDirectory("graft_predict_api").toString
    val listener = graft.streaming.Observability.attach(spark)
    val scorer = new ServingApi.HotRequestScorer(spark, root, "fraud_api")
    val endpoint = PrometheusEndpoint.start(listener,
      modelInfo = PrometheusEndpoint.registryModelInfo(
        spark, root, "fraud_api", TrainedModel.FeatureCols),
      scorer = Some(scorer))
    try {
      // two known rows: the 25 exact feature doubles each, sent verbatim
      val rows = feats.orderBy("o_orderkey").limit(2).collect()
      def txnJson(r: org.apache.spark.sql.Row): String = {
        val fields = TrainedModel.FeatureCols.map(c =>
          s""""$c": ${r.getDouble(r.fieldIndex(c))}""").mkString(", ")
        s"""{"transaction_id": "txn-${r.getLong(0)}", $fields}"""
      }

      // --- before any committed model: scoring surface must 503/500 ---
      assert(post(endpoint.port, "/predict", txnJson(rows(0)))._1 == 503)
      assert(get(endpoint.port, "/features")._1 == 503)
      assert(post(endpoint.port, "/model/reload", "{}")._1 == 500)

      val m1 = train(2)
      assert(ModelRegistry.save(spark, m1, root, "fraud_api") == 1L)

      // --- /predict: probability must BIT-match batch transform by v1 ---
      val direct = m1.transform(assembled.orderBy("o_orderkey").limit(2))
        .select(col("o_orderkey"),
          org.apache.spark.ml.functions.vector_to_array(col("probability"))
            .getItem(1).as("p"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val (pc, pb) = post(endpoint.port, "/predict", txnJson(rows(0)))
      assert(pc == 200, pb)
      val probRe = """"fraud_probability": ([-0-9.eE]+)""".r
      val served = probRe.findFirstMatchIn(pb).get.group(1).toDouble
      assert(java.lang.Double.doubleToLongBits(served) ==
        java.lang.Double.doubleToLongBits(direct(rows(0).getLong(0))),
        s"served $served != batch ${direct(rows(0).getLong(0))}")
      assert(pb.contains(""""model_version": 1"""))
      val expRisk = ServingApi.scoreToRisk(served)
      assert(pb.contains(s""""risk_level": "$expRisk""""))
      val servedFraud = pb.contains(""""is_fraud": true""")

      // defaults path: only the required fields → 200 with a valid shape
      val (dc, db) = post(endpoint.port, "/predict",
        """{"transaction_id": "txn-min", "total_amount": 120.5}""")
      assert(dc == 200 && db.contains(""""risk_level": """), db)

      // --- /predict/batch: one version resolve, per-row responses ---
      val batchBody =
        s"""{"transactions": [${txnJson(rows(0))}, ${txnJson(rows(1))}]}"""
      val (bc, bb) = post(endpoint.port, "/predict/batch", batchBody)
      assert(bc == 200 && bb.contains(""""total": 2"""), bb)
      val batchProbs = probRe.findAllMatchIn(bb).map(_.group(1).toDouble).toSeq
      assert(batchProbs.size == 2)
      assert(batchProbs.zip(rows.map(r => direct(r.getLong(0)))).forall {
        case (a, b) => java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b) })

      // --- serving counters visible in the same scrape (api.py:37-40) ---
      val scrape = get(endpoint.port, "/metrics")._2
      val single = if (servedFraud) "fraud" else "legit"
      assert(scrape.contains("# TYPE ml_predictions_total counter"))
      // 2 singles so far: the known row + the defaults row (outcomes may
      // differ, so check totals add up instead of pinning one label)
      val outcomeRe = """ml_predictions_total\{outcome="(\w+)"\} (\d+)""".r
      val outcomes = outcomeRe.findAllMatchIn(scrape)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      assert(outcomes.getOrElse("batch", 0L) == 2L, scrape)
      assert(outcomes.getOrElse("fraud", 0L) + outcomes.getOrElse("legit", 0L) == 2L)
      assert(outcomes.get(single).exists(_ >= 1L))
      assert(scrape.contains("# TYPE ml_prediction_latency_ms histogram"))
      assert(scrape.contains("ml_prediction_latency_ms_count 2"))
      assert(scrape.contains("""ml_prediction_latency_ms_bucket{le="+Inf"} 2"""))
      val fraudTotal = """ml_fraud_detected_total (\d+)""".r
        .findFirstMatchIn(scrape).get.group(1).toLong
      assert(fraudTotal == Seq(servedFraud, db.contains(""""is_fraud": true"""))
        .count(identity).toLong)

      // --- /model/reload flips the version without a scoring request ---
      val m2 = train(3)
      assert(ModelRegistry.save(spark, m2, root, "fraud_api") == 2L)
      assert(scorer.loadedVersion.contains(1L)) // not yet reloaded
      val (rc, rb) = post(endpoint.port, "/model/reload", "{}")
      assert(rc == 200 && rb.contains(""""version": 2"""), rb)
      assert(scorer.loadedVersion.contains(2L))
      assert(post(endpoint.port, "/predict", txnJson(rows(0)))._2
        .contains(""""model_version": 2"""))

      // --- GET /features: 25 importances, sorted descending ---
      val (fc, fb) = get(endpoint.port, "/features")
      assert(fc == 200)
      assert(TrainedModel.FeatureCols.forall(f => fb.contains(s""""$f"""")))
      val impRe = """"importance": ([-0-9.eE]+)""".r
      val imps = impRe.findAllMatchIn(fb).map(_.group(1).toDouble).toSeq
      assert(imps.size == TrainedModel.FeatureCols.size)
      assert(imps == imps.sortBy(-_), "importances must be sorted desc")

      // --- transport edges (the FastAPI-analog error contract) ---
      assert(http(endpoint.port, "POST", "/predict",
        Some(txnJson(rows(0))), "text/plain")._1 == 415)
      assert(post(endpoint.port, "/predict", """{"transaction_id": """)._1 == 400)
      assert(post(endpoint.port, "/predict",
        """{"transaction_id": "t", "total_amount": -5}""")._1 == 422)
      assert(post(endpoint.port, "/predict",
        """{"total_amount": 10}""")._1 == 422) // missing id
      assert(post(endpoint.port, "/predict",
        """{"transaction_id": "t", "total_amount": 10, "velocity_7d": -1}""")._1 == 422)
      val oversize = (1 to 1001).map(i =>
        s"""{"transaction_id": "t$i", "total_amount": 1}""").mkString(
        """{"transactions": [""", ", ", "]}")
      assert(post(endpoint.port, "/predict/batch", oversize)._1 == 422)
      assert(http(endpoint.port, "GET", "/predict", None)._1 == 405)
      assert(http(endpoint.port, "POST", "/health", Some("{}"))._1 == 405)
    } finally {
      endpoint.stop()
      graft.streaming.Observability.detach(spark, listener)
      feats.unpersist(blocking = false)
      graft.util.CacheRegistry.release(graft.ml.TrainedModel)
    }
  }

  test("streaming line-count store equals the batch build; cleaning matches") {
    import graft.text.LineDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-lines").toString
    val docs = Tables.documents(spark, TinySf)
      .select(col("doc_id"), LineDedup.reflow(Tables.documents(spark, TinySf)).as("text"))
      .limit(200).cache()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val (a, b) = rows.partition(_._1 % 2 == 0)

      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamOps.lineCountSink(
        stream.toDF.toDF("doc_id", "text"),
        s"$root/lines", s"$root/ckpt")
      try {
        stream.addData(a); q.processAllAvailable()
        stream.addData(b); q.processAllAvailable()
      } finally q.stop()

      // merged store counts == a from-scratch batch build over everything
      val streamed = LineDedup.mergedLineCounts(spark, s"$root/lines")
        .orderBy("line").collect().toSeq
      LineDedup.buildLineStore(docs, s"$root/lines_batch")
      val batch = LineDedup.mergedLineCounts(spark, s"$root/lines_batch")
        .orderBy("line").collect().toSeq
      assert(streamed == batch,
        "micro-batch-appended counts diverged from the batch build")

      // at-least-once replay safety: re-delivering a batch (same id) must
      // leave the merged counts unchanged — double-counting would push
      // once-seen lines over minDupCount and strip them from documents
      val replay = a.toDF("doc_id", "text")
      LineDedup.writeLineBatch(replay, s"$root/lines", batchId = 0L)
      val afterReplay = LineDedup.mergedLineCounts(spark, s"$root/lines")
        .orderBy("line").collect().toSeq
      assert(afterReplay == streamed,
        "replayed micro-batch changed the merged line counts")

      // cleaning through the streamed store == direct corpus dedup
      val viaStore = LineDedup.dedupLinesWithStore(docs, s"$root/lines")
        .orderBy("doc_id").collect().toSeq
      val direct = LineDedup.dedupLines(docs).orderBy("doc_id").collect().toSeq
      assert(viaStore == direct)

      // one-checkpoint-per-store guard: a SECOND lineage (fresh checkpoint
      // dir, batchIds restarting at 0) against the same store must fail its
      // micro-batch loudly instead of silently overwriting batch_0
      val stream2 = MemoryStream[(Long, String)]
      val q2 = graft.streaming.StreamOps.lineCountSink(
        stream2.toDF.toDF("doc_id", "text"),
        s"$root/lines", s"$root/ckpt_other")
      try {
        stream2.addData(b)
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
        assert(ex.getMessage.contains("owned by checkpoint"), ex.getMessage)
      } finally q2.stop()
      val afterGuard = LineDedup.mergedLineCounts(spark, s"$root/lines")
        .orderBy("line").collect().toSeq
      assert(afterGuard == streamed, "rejected lineage must not touch the store")
    } finally docs.unpersist(blocking = false)
  }

  test("streaming BM25 index serves bit-identically to from-scratch rank; " +
    "replay cannot inflate tf/dl") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-bm25").toString
    val docs = Tables.documents(spark, TinySf)
      .select("doc_id", "text").limit(200).cache()
    val terms = graft.QueriesShared.Bm25QueryTerms
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val (a, b) = rows.partition(_._1 % 2 == 0)

      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamOps.bm25IndexSink(
        stream.toDF.toDF("doc_id", "text"), s"$root/idx", s"$root/ckpt")
      try {
        stream.addData(a); q.processAllAvailable()
        stream.addData(b); q.processAllAvailable()
      } finally q.stop()

      val served = graft.text.Bm25.searchIndex(spark, s"$root/idx", terms, 10)
        .orderBy("bm25_rank").collect().map(_.toString).toSeq
      val direct = graft.text.Bm25.rank(docs, terms, 10)
        .orderBy("bm25_rank").collect().map(_.toString).toSeq
      assert(served == direct,
        "stream-built index diverged from the from-scratch ranking")
      assert(served.nonEmpty)

      // replay a batch (same id): tf/dl must not inflate — a re-append
      // would skew every idf and length norm
      graft.text.Bm25.writeIndexBatch(
        a.toDF("doc_id", "text"), s"$root/idx", batchId = 0L)
      val afterReplay = graft.text.Bm25.searchIndex(spark, s"$root/idx", terms, 10)
        .orderBy("bm25_rank").collect().map(_.toString).toSeq
      assert(afterReplay == served, "replayed micro-batch changed the index")
    } finally docs.unpersist(blocking = false)
  }

  test("streaming token-count store equals the batch build; replay and " +
    "foreign lineages are safe") {
    import graft.text.TokenCounts
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-tokens").toString
    val docs = Tables.documents(spark, TinySf)
      .select("doc_id", "lang", "text").cache()
    try {
      val rows = docs.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      val (a, b) = rows.partition(_._1 % 2 == 0)

      val stream = MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamOps.tokenCountSink(
        stream.toDF.toDF("doc_id", "lang", "text"),
        s"$root/tokens", s"$root/ckpt")
      try {
        stream.addData(a); q.processAllAvailable()
        stream.addData(b); q.processAllAvailable()
      } finally q.stop()

      val streamed = TokenCounts.mergedCounts(spark, s"$root/tokens")
        .orderBy("lang", "word").collect().toSeq
      TokenCounts.buildStore(docs, s"$root/tokens_batch")
      val batch = TokenCounts.mergedCounts(spark, s"$root/tokens_batch")
        .orderBy("lang", "word").collect().toSeq
      assert(streamed.nonEmpty && streamed == batch,
        "micro-batch-appended token counts diverged from the batch build")

      // replay: batchId-keyed overwrite absorbs a re-delivered batch
      TokenCounts.writeTokenBatch(
        a.toDF("doc_id", "lang", "text"), s"$root/tokens", batchId = 0L)
      val afterReplay = TokenCounts.mergedCounts(spark, s"$root/tokens")
        .orderBy("lang", "word").collect().toSeq
      assert(afterReplay == streamed,
        "replayed micro-batch changed the merged token counts")

      // second lineage against the same store must be rejected loudly
      val stream2 = MemoryStream[(Long, String, String)]
      val q2 = graft.streaming.StreamOps.tokenCountSink(
        stream2.toDF.toDF("doc_id", "lang", "text"),
        s"$root/tokens", s"$root/ckpt_other")
      try {
        stream2.addData(b)
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
        assert(ex.getMessage.contains("owned by checkpoint"), ex.getMessage)
      } finally q2.stop()
    } finally docs.unpersist(blocking = false)
  }

  test("streaming bloom store gates dedup like a batch build and replay is " +
    "idempotent by OR-algebra") {
    import graft.text.{BloomDedup, Dedup}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-bloom").toString
    // Streaming gram-store maintenance shares the sink's algebra story:
    // set union is idempotent, so streamed == batch and replays are no-ops.
    locally {
      val gdocs = Tables.documents(spark, TinySf)
        .select(col("doc_id"), col("text"))
      val rows = gdocs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val gs = MemoryStream[(Long, String)]
      val gq = graft.streaming.StreamOps.gramStoreSink(
        gs.toDF.toDF("doc_id", "text"), s"$root/grams", s"$root/gckpt")
      try {
        val (g1, g2) = rows.partition(_._1 % 2 == 0)
        gs.addData(g1); gq.processAllAvailable()
        gs.addData(g2); gq.processAllAvailable()
        gs.addData(g1.take(20)); gq.processAllAvailable() // replay
      } finally gq.stop()
      val streamedGrams = spark.read.parquet(s"$root/grams")
        .select("gram").distinct().count()
      graft.text.Novelty.buildGramStore(gdocs, s"$root/grams_batch")
      val batchGrams = spark.read.parquet(s"$root/grams_batch").count()
      assert(streamedGrams == batchGrams,
        "streamed gram set diverged from the batch build")
    }
    val docs = Tables.documents(spark, TinySf)
      .select(col("doc_id"), col("text")).cache()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val (base, delta) = rows.partition(_._1 % 4 != 0)

      // stream the BASE corpus into the bloom store in two micro-batches
      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamOps.bloomStoreSink(
        stream.toDF.toDF("doc_id", "text"), s"$root/bloom", s"$root/ckpt")
      try {
        val (b1, b2) = base.partition(_._1 % 2 == 0)
        stream.addData(b1); q.processAllAvailable()
        stream.addData(b2); q.processAllAvailable()
      } finally q.stop()

      // streamed store's merged bitset == a from-scratch batch build
      val baseDf = base.toDF("doc_id", "text")
      BloomDedup.buildHashBloom(baseDf, s"$root/bloom_batch")
      val streamedBits = BloomDedup.mergedBitset(spark, s"$root/bloom")
        .collect().head.getSeq[Long](0)
      val batchBits = BloomDedup.mergedBitset(spark, s"$root/bloom_batch")
        .collect().head.getSeq[Long](0)
      assert(streamedBits == batchBits,
        "micro-batch-appended bloom diverged from the batch build")

      // replay + SECOND lineage: both are no-ops by OR-idempotence — no
      // slice keying, no lineage guard, the algebra absorbs them
      BloomDedup.appendHashBloom(
        base.take(50).toDF("doc_id", "text"), s"$root/bloom")
      val stream2 = MemoryStream[(Long, String)]
      val q2 = graft.streaming.StreamOps.bloomStoreSink(
        stream2.toDF.toDF("doc_id", "text"), s"$root/bloom", s"$root/ckpt2")
      try { stream2.addData(base.take(20)); q2.processAllAvailable() }
      finally q2.stop()
      val afterReplay = BloomDedup.mergedBitset(spark, s"$root/bloom")
        .collect().head.getSeq[Long](0)
      assert(afterReplay == streamedBits,
        "replaying already-folded hashes changed the merged bitset")

      // the streamed store gates incremental dedup bit-identically to
      // exact dedup over base ∪ delta
      val baseSummary = Dedup.exactDups(baseDf)
      val got = BloomDedup.exactDupsIncremental(
          baseSummary, delta.toDF("doc_id", "text"), s"$root/bloom")
        .orderBy("content_hash").collect().toSeq
      val want = Dedup.exactDups(docs).orderBy("content_hash").collect().toSeq
      assert(got == want,
        "gated incremental dedup through the streamed bloom diverged")
    } finally docs.unpersist(blocking = false)
  }

  test("streaming band store serves delta near-dup probes like a batch build") {
    import graft.text.MinHash
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-bands").toString
    val docs = Tables.documents(spark, TinySf)
      .select(col("doc_id"), col("text")).limit(300).cache()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val (a, b) = rows.partition(_._1 % 3 != 0)

      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamOps.bandStoreSink(
        stream.toDF.toDF("doc_id", "text"), s"$root/bands", s"$root/ckpt")
      try {
        stream.addData(a); q.processAllAvailable()
        stream.addData(b); q.processAllAvailable()
      } finally q.stop()

      // streamed store rows == from-scratch build (set equality at the
      // band-row grain: same docs -> same pure per-doc band rows)
      MinHash.buildBandStore(docs, s"$root/bands_batch")
      val streamed = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$root/bands")
        .orderBy("doc_id", "band_idx").collect().toSeq
      val batch = spark.read.parquet(s"$root/bands_batch")
        .orderBy("doc_id", "band_idx").collect().toSeq
      assert(streamed.nonEmpty && streamed == batch,
        "streamed band rows diverged from the batch build")

      // a delta probe against the streamed store == against the batch store
      val probeS = MinHash.incrementalNearDups(spark, s"$root/bands", col("doc_id") % 3 === 0)
        .orderBy("doc_a", "doc_b").collect().toSeq
      val probeB = MinHash.incrementalNearDups(spark, s"$root/bands_batch", col("doc_id") % 3 === 0)
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(probeS == probeB)

      // at-least-once replay safety: re-delivering batch 0 must not
      // duplicate band rows (duplicates would inflate bucket occupancy
      // past the governor and silently drop healthy buckets)
      MinHash.writeBandBatch(a.toDF("doc_id", "text"), s"$root/bands", 0L)
      val afterReplay = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$root/bands")
        .orderBy("doc_id", "band_idx").collect().toSeq
      assert(afterReplay == streamed,
        "replayed micro-batch changed the band store")
    } finally docs.unpersist(blocking = false)
  }

  test("streaming winnow store serves delta substring probes like a batch build") {
    import graft.text.Winnow
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-winnow").toString
    val docs = Tables.documents(spark, TinySf)
      .select(col("doc_id"), col("text")).limit(300).cache()
    try {
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val (a, b) = rows.partition(_._1 % 3 != 0)

      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamOps.winnowStoreSink(
        stream.toDF.toDF("doc_id", "text"), s"$root/fp", s"$root/ckpt")
      try {
        stream.addData(a); q.processAllAvailable()
        stream.addData(b); q.processAllAvailable()
      } finally q.stop()

      // streamed store rows == from-scratch build (pure per-doc selection)
      Winnow.buildFingerprintStore(docs, s"$root/fp_batch")
      val streamed = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$root/fp")
        .orderBy("doc_id", "fp_hash").collect().toSeq
      val batch = spark.read.parquet(s"$root/fp_batch")
        .orderBy("doc_id", "fp_hash").collect().toSeq
      assert(streamed.nonEmpty && streamed == batch,
        "streamed fingerprint rows diverged from the batch build")

      // a delta probe against the streamed store == against the batch store
      val probeS = Winnow.incrementalPairs(spark, s"$root/fp", col("doc_id") % 3 === 0)
        .collect().toSeq
      val probeB = Winnow.incrementalPairs(spark, s"$root/fp_batch", col("doc_id") % 3 === 0)
        .collect().toSeq
      assert(probeS == probeB)

      // at-least-once replay: re-delivering batch 0 rewrites its own slice
      Winnow.writeFingerprintBatch(a.toDF("doc_id", "text"), s"$root/fp", 0L)
      val afterReplay = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$root/fp")
        .orderBy("doc_id", "fp_hash").collect().toSeq
      assert(afterReplay == streamed,
        "replayed micro-batch changed the winnow store")
    } finally docs.unpersist(blocking = false)
  }
}

private object Sessionize2 { val gapUs: Long = graft.operators.Sessionize.DefaultGapUs }
