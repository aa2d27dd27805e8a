package graft

import graft.gold.{Graph, Markov, Seasonal}
import graft.operators.{EntityResolution, Robust, Sampling}
import graft.text.{Components, Dsir}
import graft.util.CacheRegistry
import org.apache.spark.sql.functions._

/** r8 graph / resolution / robust-stats pack: integer-exact PageRank,
  * degree-ordered triangles, blocked entity resolution, DSIR importance
  * weights, MAD outliers, Markov transitions, seasonal baselines, and
  * Efraimidis–Spirakis weighted sampling. */
class GraphPackSpec extends SparkSpec {

  import spark.implicits._

  private def pairsDf(edges: (Long, Long)*) =
    edges.toDF("user_a", "user_b")

  // ---- PageRank ----

  test("pageRank: a star hub outranks its leaves, and mass stays bounded") {
    // star: 1 connected to 2,3,4,5 (+ an unrelated 6-7 edge)
    val pr = Graph.pageRank(pairsDf(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L, 6L -> 7L))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("pr_units"))).toMap
    val hub = pr(1L)._2
    assert(Seq(2L, 3L, 4L, 5L).forall(l => pr(l)._2 < hub),
      s"hub must outrank leaves: $pr")
    assert(pr(1L)._1 === 4L)
    // integer truncation only ever LOSES mass: total ≤ initial, and the
    // loss is a sliver (< 1% here).
    val total = pr.values.map(_._2).sum
    assert(total <= Graph.MassUnits && total > (Graph.MassUnits * 0.99).toLong,
      s"total mass $total")
  }

  test("pageRank: symmetric graph gives equal ranks; reruns are bit-identical") {
    // 4-cycle: all nodes structurally identical → identical integer ranks
    val cyc = pairsDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L)
    val a = Graph.pageRank(cyc).collect().map(_.getAs[Long]("pr_units")).toSeq
    assert(a.distinct.size === 1, s"cycle ranks must be equal: $a")
    val b = Graph.pageRank(cyc).collect().map(_.getAs[Long]("pr_units")).toSeq
    assert(a === b)
  }

  // ---- triangles ----

  test("triangles: planted triangle counted at every corner, path counts zero") {
    // triangle 1-2-3 plus pendant 3-4; path 5-6-7
    val t = Graph.triangles(pairsDf(
        1L -> 2L, 2L -> 3L, 1L -> 3L, 3L -> 4L, 5L -> 6L, 6L -> 7L))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("triangles"), r.getAs[Double]("clustering"))).toMap
    assert(t(1L)._1 === 1L && t(2L)._1 === 1L && t(3L)._1 === 1L)
    assert(t(4L)._1 === 0L && t(5L)._1 === 0L && t(6L)._1 === 0L)
    // node 3 has degree 3, one closed wedge of three: clustering 1/3
    assert(math.abs(t(3L)._2 - 1.0 / 3.0) < 1e-12)
    assert(t(1L)._2 === 1.0) // degree-2 corner of a closed triangle
    assert(t(5L)._2 === 0.0)
  }

  test("triangles: K4 has 4 triangles, 3 per node, clustering 1") {
    val k4 = pairsDf(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L, 3L -> 4L)
    val t = Graph.triangles(k4).collect()
    assert(t.forall(_.getAs[Long]("triangles") === 3L))
    assert(t.forall(_.getAs[Double]("clustering") === 1.0))
  }

  // ---- ring clusters ----

  test("ring clusters label a chain and an island as two components") {
    // chain 1-2-3-4 (high diameter) + island 8-9
    val rc = Graph.ringClusters(pairsDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 8L -> 9L))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("ring_id"), r.getAs[Long]("ring_size"),
          r.getAs[Boolean]("is_canonical"))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(u => rc(u)._1 === 1L && rc(u)._2 === 4L))
    assert(Seq(8L, 9L).forall(u => rc(u)._1 === 8L && rc(u)._2 === 2L))
    assert(rc(1L)._3 && rc(8L)._3 && !rc(2L)._3)
  }

  test("the sweep between queries frees every persist and checkpoint left live") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pairs = pairsDf(1L -> 2L, 2L -> 3L, 8L -> 9L)
    // ringClusters persists its pair list and runs star contraction;
    // label propagation checkpoints its symmetrized edges and every round
    val rings = Graph.ringClusters(pairs)
    val cc = Components.connectedComponents(Seq(1L, 2L, 3L, 8L, 9L).toDF("id"),
      pairs.select(col("user_a").as("src"), col("user_b").as("dst")))
    assert(rings.count() === 5L && cc.count() === 5L)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty)
    CacheRegistry.releaseAll(spark)
    val left = sc.getPersistentRDDs.filter { case (id, _) => added(id) }
    assert(left.isEmpty, s"still persisted after the sweep: ${left.values.mkString(", ")}")
  }

  // ---- incremental pair store ----

  test("base+delta pair stores merge bit-identically to the full recompute") {
    val ev = Tables.events(spark, TinySf)
    // 30-day delta: wide enough that the tiny SF's sparse buckets put
    // real admitted pairs on the delta side
    val cut = ev.agg(date_sub(max(to_date(col("ts"))), 30).as("cut"))
    val tagged = ev.crossJoin(broadcast(cut))
    graft.util.CacheRegistry.release(graft.gold.Rings)
    val base = graft.gold.Rings.pairDeviceStore(
      tagged.filter(to_date(col("ts")) <= col("cut")), releaseFirst = false)
    val delta = graft.gold.Rings.pairDeviceStore(
      tagged.filter(to_date(col("ts")) > col("cut")), releaseFirst = false)
    val merged = graft.gold.Rings.pairsFromStore(
      graft.gold.Rings.mergePairStores(base, delta)).collect()
    val full = graft.gold.Rings.sharedDevicePairs(ev).collect()
    assert(merged.map(_.toString).toSeq === full.map(_.toString).toSeq)
    assert(merged.nonEmpty)
    // the delta side contributed real rows (not a degenerate split)
    assert(delta.count() > 0)
  }

  test("adamic-adar: rare shared bucket outscores a crowded one; jaccard is exact") {
    val spark2 = spark
    import spark2.implicits._
    // day 1, device 1: users {1,2} (occ 2 — rare); day 1, device 2:
    // users {1,2,3,4} (occ 4 — crowded). Pair (1,2) shares both.
    val ev = Seq(
      (1L, 1L), (2L, 1L),
      (1L, 2L), (2L, 2L), (3L, 2L), (4L, 2L)
    ).map { case (u, k) => (u, s"""{"k": $k}""") }
      .toDF("user_id", "props")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("event_type", lit("purchase"))
    val out = graft.gold.Rings.adamicAdarPairs(ev)
      .orderBy("user_a", "user_b").collect()
    graft.util.CacheRegistry.release(graft.gold.Rings)
    def q(occ: Double): Long =
      math.floor((1.0 / math.log(occ)).toFloat.toDouble * 1e6).toLong
    val p12 = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(p12.getAs[Long]("common_buckets") == 2L)
    assert(p12.getAs[Long]("aa_micro") == q(2.0) + q(4.0))
    // deg(1)=deg(2)=2, common=2 -> jaccard = 2/(2+2-2) = 1.0
    assert(p12.getAs[Double]("jaccard") == 1.0)
    val p34 = out.find(r => r.getLong(0) == 3L && r.getLong(1) == 4L).get
    assert(p34.getAs[Long]("aa_micro") == q(4.0), "crowded-only pair scores lower")
    assert(p12.getAs[Long]("aa_micro") > p34.getAs[Long]("aa_micro"))
    // 6 pairs total: (1,2) plus C(4,2) on device 2 minus the dup (1,2)
    assert(out.length == 6)
  }

  // ---- entity resolution ----

  test("entity resolution matches planted near-duplicates and only those") {
    val customers = Seq(
      // near-dup pair: 1 edit apart, close balances, same block
      (1L, "Customer#000000001", 3L, "BUILDING", 100.0),
      (2L, "Customer#000000002", 3L, "BUILDING", 150.0),
      // same block, names 1 edit apart but balances far → no match
      (3L, "Customer#000000003", 3L, "BUILDING", 5000.0),
      // same names but different nation → different block, no pair
      (4L, "Customer#000000001", 7L, "BUILDING", 100.0)
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val m = EntityResolution.matchCustomers(customers).collect()
    assert(m.map(r => (r.getAs[Long]("cust_a"), r.getAs[Long]("cust_b"))).toSet
      === Set(1L -> 2L))
    assert(m.head.getAs[Long]("edit_dist") === 1L)
  }

  test("entity resolution: over-occupied blocks are dropped by the governor") {
    // 3 identical-name customers in one block with maxBlock=2 → block dropped
    val hot = Seq(
      (1L, "Customer#000000001", 1L, "AUTO", 10.0),
      (2L, "Customer#000000001", 1L, "AUTO", 10.0),
      (3L, "Customer#000000001", 1L, "AUTO", 10.0)
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    assert(EntityResolution.matchCustomers(hot, maxBlock = 2).count() === 0L)
    assert(EntityResolution.matchCustomers(hot, maxBlock = 3).count() === 3L)
  }

  // ---- DSIR ----

  test("DSIR weights rank a target-like doc above an off-target doc") {
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta gamma delta", "en"),
      (3L, "alpha beta gamma delta", "xx"), // target-like text, raw lang
      (4L, "zeta eta theta iota", "xx") // off-target text
    ).toDF("doc_id", "text", "lang")
    val w = Dsir.importanceWeights(docs, col("lang") === "en")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_weight")).toMap
    assert(w(3L) > w(4L),
      s"target-like doc must outweigh off-target doc: $w")
  }

  // ---- MAD ----

  test("MAD outliers flag a planted spike that the bulk does not") {
    val vals = (1 to 100).map(i => (i.toLong, "a", 100.0 + (i % 11))) :+
      (999L, "a", 100000.0)
    val out = Robust.madOutliers(vals.toDF("event_id", "event_type", "value"),
      Seq("event_type"), "value").collect()
    assert(out.map(_.getAs[Long]("event_id")).contains(999L))
    assert(!out.map(_.getAs[Long]("event_id")).contains(50L))
  }

  // ---- Markov transitions ----

  test("transition matrix matches hand-computed probabilities") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(sec: Int) = new java.sql.Timestamp(ts0.getTime + sec * 1000L)
    // user 1: a→b→a ; user 2: a→b→b
    val ev = Seq(
      (1L, 1L, "a", t(0)), (2L, 1L, "b", t(1)), (3L, 1L, "a", t(2)),
      (4L, 2L, "a", t(0)), (5L, 2L, "b", t(1)), (6L, 2L, "b", t(2))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val m = Markov.transitions(ev).collect()
      .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("prob"))).toMap
    assert(m(("a", "b")) === ((2L, 1.0))) // a always → b
    assert(m(("b", "a"))._1 === 1L)
    assert(m(("b", "b"))._1 === 1L)
    assert(m(("b", "a"))._2 === 0.5)
    // surprisal of p=1 is exactly 0 micro-nats
    val s = Markov.transitions(ev).collect()
      .find(r => r.getAs[String]("prev_type") == "a").get
      .getAs[Long]("surprisal_micro")
    assert(s === 0L)
  }

  // ---- seasonal baseline ----

  test("seasonal baseline flags a spike hour against its dow-hour peers") {
    // same weekday+hour across 4 weeks: 100, 100, 100, then a 4× spike —
    // baseline (100+100+100+400)/4 = 175; normal ratio 0.571 stays in
    // band, spike ratio 2.29 breaches it.
    def p(day: String, v: Double, id: Long) =
      (id, 7L, "purchase", v, java.sql.Timestamp.valueOf(s"$day 09:30:00"))
    val ev = Seq(
      p("2024-01-01", 100.0, 1L), p("2024-01-08", 100.0, 2L),
      p("2024-01-15", 100.0, 3L), p("2024-01-22", 400.0, 4L)
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val rows = Seasonal.hourlyAnomalies(ev).collect()
    val spike = rows.find(_.getAs[java.sql.Date]("day").toString == "2024-01-22").get
    assert(spike.getAs[Boolean]("is_anomalous"),
      s"spike must flag: ${rows.mkString(";")}")
    assert(!rows.find(_.getAs[java.sql.Date]("day").toString == "2024-01-01")
      .get.getAs[Boolean]("is_anomalous"))
    assert(spike.getAs[Double]("baseline") === 175.0)
  }

  // ---- weighted sampling ----

  test("weighted sample keeps exactly k per stratum, deterministically") {
    val docs = spark.read.parquet(s"$TinySf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val s1 = Sampling.sampleWeighted(docs, col("lang"), col("doc_id"),
      col("n_chars"), 5).collect()
    val byLang = s1.groupBy(_.getAs[String]("lang"))
    assert(byLang.forall { case (_, rows) => rows.length == 5 })
    assert(byLang.forall { case (_, rows) =>
      rows.map(_.getAs[Long]("sample_rank")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L) })
    val s2 = Sampling.sampleWeighted(docs, col("lang"), col("doc_id"),
      col("n_chars"), 5).collect()
    assert(s1.map(_.toString).sorted.toSeq === s2.map(_.toString).sorted.toSeq)
  }

  // ---- PMI collocations ----

  test("PMI ranks an always-together pair above independent pairs") {
    // "san francisco" always adjacent; "the" pairs with everything.
    val docs = (1 to 10).map(i =>
      (i.toLong, s"the san francisco fog the cat$i sat the dog$i ran")).toDF("doc_id", "text")
    val top = text.Colloc.pmiCollocations(docs, minCount = 5, topK = 5).collect()
    // "san francisco" and "francisco fog" are equally exclusive (same
    // counts, same PMI) — together they must own the top two slots.
    val topTwo = top.take(2)
      .map(r => (r.getAs[String]("token_x"), r.getAs[String]("token_y"))).toSet
    assert(topTwo === Set("san" -> "francisco", "francisco" -> "fog"), s"top: $topTwo")
    assert(top.take(2).forall(_.getAs[Long]("c_xy") === 10L))
    assert(top.take(2).forall(_.getAs[Long]("c_x") === 10L))
  }

  test("PMI respects the min-count floor") {
    val docs = Seq((1L, "a b a b a b"), (2L, "rare pair")).toDF("doc_id", "text")
    val pairs = text.Colloc.pmiCollocations(docs, minCount = 2, topK = 50)
      .collect().map(r => (r.getAs[String]("token_x"), r.getAs[String]("token_y")))
    assert(!pairs.contains(("rare", "pair")))
    assert(pairs.contains(("a", "b")))
  }

  // ---- session paths ----

  test("session paths split on the gap and order events within a session") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, user: Long, typ: String, offsetMin: Long) =
      (id, user, typ, 0.0, new java.sql.Timestamp(base + offsetMin * 60000L),
        (base + offsetMin * 60000L) * 1000000L)
    val events = Seq(
      ev(1L, 1L, "view", 0), ev(2L, 1L, "click", 5), // session 1: view>click
      ev(3L, 1L, "purchase", 120), // session 2 (gap > 30 min)
      ev(4L, 2L, "view", 0), ev(5L, 2L, "click", 5) // session 1 of user 2
    ).toDF("event_id", "user_id", "event_type", "value", "ts", "ts_ns")
    val paths = graft.gold.Markov.sessionPaths(events).collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Long]("sessions")).toMap
    assert(paths("view>click") === 2L)
    assert(paths("purchase") === 1L)
  }

  // ---- bot timing ----

  test("session trigrams: contiguous windows only, session-grain support, gap splits") {
    val spark2 = spark
    import spark2.implicits._
    val m = 60000000000L // 1 min in ns
    // user 1 session A: v>c>p>v  -> trigrams v>c>p, c>p>v
    // user 1 session B (after a >30min gap): v>c>p -> v>c>p again
    // user 2: v>c only (too short, counts toward nothing, not even total)
    val ev = Seq(
      (1L, 1L, "view", 0L), (2L, 1L, "click", m), (3L, 1L, "purchase", 2 * m),
      (4L, 1L, "view", 3 * m),
      (5L, 1L, "view", 100 * m), (6L, 1L, "click", 101 * m), (7L, 1L, "purchase", 102 * m),
      (8L, 2L, "view", 0L), (9L, 2L, "click", m)
    ).map { case (e, u, t, ns) => (e, u, t, 1700000000000000000L + ns) }
      .toDF("event_id", "user_id", "event_type", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .withColumn("value", lit(1.0))
    val out = graft.gold.Markov.sessionTrigrams(ev, minSessions = 1)
      .orderBy("pattern").collect()
    val byP = out.map(r => r.getString(0) -> r).toMap
    assert(byP.keySet == Set("c>p>v", "v>c>p").map(_.replace("v", "view")
      .replace("c", "click").replace("p", "purchase")))
    val vcp = byP("view>click>purchase")
    assert(vcp.getAs[Long]("occurrences") == 2L)
    assert(vcp.getAs[Long]("sessions") == 2L)
    assert(vcp.getAs[Long]("total_sessions") == 2L, "2-event session excluded")
    assert(vcp.getAs[Double]("support") == 1.0)
    val cpv = byP("click>purchase>view")
    assert(cpv.getAs[Long]("sessions") == 1L && cpv.getAs[Double]("support") == 0.5)
    // minSessions floor prunes singleton patterns
    val floored = graft.gold.Markov.sessionTrigrams(ev, minSessions = 2)
      .collect().map(_.getString(0))
    assert(floored.toSeq == Seq("view>click>purchase"))
  }

  test("bot timing flags metronomic users and spares bursty ones") {
    val base = 1700000000000000000L // epoch ns
    // user 1: exactly every 60 s (cv² = 0); user 2: alternating 10 s / 600 s
    val bot = (0 until 30).map(i =>
      (i.toLong, 1L, base + i * 60000000000L))
    var t = base
    val human = (100 until 130).map { i =>
      t += (if (i % 2 == 0) 10000000000L else 600000000000L); (i.toLong, 2L, t)
    }
    val ev = (bot ++ human).toDF("event_id", "user_id", "ts_ns")
    val r = graft.gold.Forensics.botTiming(ev)
      .collect().map(x => x.getAs[Long]("user_id") ->
        (x.getAs[Boolean]("is_bot_timing"), x.getAs[Double]("cv2"))).toMap
    assert(r(1L)._1 === true)
    assert(r(1L)._2 === 0.0)
    assert(r(2L)._1 === false)
    assert(r(2L)._2 > 0.5)
  }

  test("hill tail index: exact on a planted Pareto, NULL on constant tails") {
    val spark2 = spark
    import spark2.implicits._
    // exact Pareto(alpha=2) top-k: x_i = x_k * (k/i)^(1/2) for i=1..k.
    // Hill over these recovers 1/alpha = mean(ln(x_i/x_k)).
    val k = 50
    val xs = (1 to k).map(i => (i.toLong, 1000.0 * math.sqrt(k.toDouble / i)))
    val df = xs.toDF("o_orderkey", "x")
    val r = graft.gold.Forensics.hillTailIndex(df, col("x"), col("o_orderkey"), k)
      .collect().head
    assert(r.getAs[Long]("k_used") == k.toLong)
    // hand-computed from the same quantization
    def q(v: Double): Long = math.floor(math.log(v).toFloat.toDouble * 1e6).toLong
    val expectedSum = xs.map(x => q(x._2)).sum - k.toLong * q(1000.0)
    assert(r.getAs[Long]("hill_sum") == expectedSum)
    val alpha = r.getAs[Double]("alpha")
    assert(math.abs(alpha - 2.0) < 0.15, s"alpha $alpha should be near 2")
    assert(r.getAs[Boolean]("heavy_tail") == (alpha < 2.0))
    // constant values: zero sum -> NULL alpha, not Infinity
    val flat = (1 to 10).map(i => (i.toLong, 7.0)).toDF("o_orderkey", "x")
    val f = graft.gold.Forensics.hillTailIndex(flat, col("x"), col("o_orderkey"), 5)
      .collect().head
    assert(f.isNullAt(f.fieldIndex("alpha")))
  }

  test("user entropy: uniform mix maxes out, single-action bot scores zero") {
    val spark2 = spark
    import spark2.implicits._
    // user 1: 10 clicks only (H = 0); user 2: 5 views + 5 clicks
    // (H = ln 2, norm 1); user 3: below minEvents
    val ev = (Seq.fill(10)((1L, "click")) ++
      Seq.fill(5)((2L, "view")) ++ Seq.fill(5)((2L, "click")) ++
      Seq.fill(3)((3L, "view"))).toDF("user_id", "event_type")
    val out = graft.gold.Forensics.userEntropy(ev)
      .orderBy("user_id").collect()
    assert(out.length == 2, "minEvents drops user 3")
    val bot = out(0)
    assert(bot.getAs[Long]("n_types") == 1L)
    assert(bot.getAs[Double]("entropy_nats") == 0.0)
    assert(bot.isNullAt(bot.fieldIndex("norm_entropy")))
    assert(bot.getAs[Boolean]("is_low_entropy"))
    val organic = out(1)
    // H = ln 10 - (2*5*q(ln 5))/10 in micro-nats; norm = H/ln 2 = 1
    def q(v: Double): Long = math.floor(math.log(v).toFloat.toDouble * 1e6).toLong
    val expected = (10L * q(10.0) - 10L * q(5.0)).toDouble / (10.0 * 1e6)
    assert(organic.getAs[Double]("entropy_nats") == expected)
    assert(organic.getAs[Double]("norm_entropy") ==
      (10L * q(10.0) - 10L * q(5.0)).toDouble / (10.0 * q(2.0).toDouble))
    assert(!organic.getAs[Boolean]("is_low_entropy"))
  }

  test("bot timing needs the minimum event count") {
    val base = 1700000000000000000L
    val few = (0 until 5).map(i => (i.toLong, 1L, base + i * 60000000000L))
      .toDF("event_id", "user_id", "ts_ns")
    val r = graft.gold.Forensics.botTiming(few).collect().head
    assert(r.getAs[Double]("cv2") === 0.0)
    assert(r.getAs[Boolean]("is_bot_timing") === false) // only 4 gaps
  }

  // ---- RFM ----

  test("RFM labels extremes correctly and scores stay in 1..5") {
    val d0 = java.sql.Date.valueOf("2024-01-01")
    def day(offset: Int) = new java.sql.Date(d0.getTime + offset * 86400000L)
    // customer 1: recent, frequent, big (champion);
    // customer 2: ancient single small order (hibernating);
    // customers 3..12: middling spread
    val orders =
      (1 to 10).map(i => (1L, 100000.0 + i, day(360 + i))) ++
      Seq((2L, 100.0, day(0))) ++
      (3 to 12).flatMap(c => (1 to 3).map(i =>
        (c.toLong, 1000.0 * (c - 2) + i, day(30 * (c - 2) + i))))
    val df = orders.toDF("o_custkey", "o_totalprice", "o_orderdate")
    val seg = graft.gold.Rfm.segments(df).collect()
      .map(r => r.getAs[Long]("custkey") ->
        (r.getAs[String]("segment"), r.getAs[Long]("r_score"),
          r.getAs[Long]("f_score"), r.getAs[Long]("m_score"))).toMap
    assert(seg(1L)._1 === "champion", s"got ${seg(1L)}")
    assert(seg(2L)._1 === "hibernating", s"got ${seg(2L)}")
    assert(seg.values.forall { case (_, r, f, m) =>
      Seq(r, f, m).forall(s => s >= 1 && s <= 5) })
  }

  // ---- OLS trend ----

  test("growth trend: exact MoM/YoY, calendar gaps yield NULL not mispairs") {
    import graft.gold.Revenue
    val spark2 = spark
    import spark2.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    // band P: Jan24 100, Feb24 150, Apr24 120 (Mar missing), Jan25 200
    val rows = Seq(
      ("P", d("2024-01-15"), 100.0), ("P", d("2024-02-10"), 150.0),
      ("P", d("2024-04-05"), 120.0), ("P", d("2025-01-20"), 200.0))
    val clean = rows.toDF("o_orderpriority", "order_date", "o_totalprice")
    val out = Revenue.growthTrend(clean).orderBy("month").collect()
    val byM = out.map(r => r.getDate(1).toString -> r).toMap
    assert(byM("2024-02-01").getAs[Double]("mom_growth") == 0.5)
    // April has no March row: NULL, not a mispair against February
    assert(byM("2024-04-01").isNullAt(byM("2024-04-01").fieldIndex("mom_growth")))
    assert(byM("2025-01-01").getAs[Double]("yoy_growth") == 1.0)
    assert(byM("2024-01-01").isNullAt(byM("2024-01-01").fieldIndex("yoy_growth")))
  }

  test("daily trend recovers an exact linear series and its forecast") {
    // value grows exactly 10/day: daily totals 100, 110, ..., 140
    val ev = (0 until 5).map { i =>
      (i.toLong, 1L, "purchase", 100.0 + 10 * i,
        java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 12:00:00"))
    }.toDF("event_id", "user_id", "event_type", "value", "ts")
    val r = graft.gold.Seasonal.dailyTrend(ev).collect().head
    assert(math.abs(r.getAs[Double]("slope_cents") - 1000.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("forecast_next") - 150.0) < 1e-9)
    assert(r.getAs[Long]("n_days") === 5L)
  }

  test("Theil-Sen trend ignores an outlier day that bends the OLS line") {
    // exact 10/day growth except day 3 is a 100x spike: the pairwise-slope
    // MEDIAN still recovers exactly 10/day (1000 cents); OLS does not
    val ev = (0 until 9).map { i =>
      val v = if (i == 3) 99999.0 else 100.0 + 10 * i
      (i.toLong, 1L, "purchase", v,
        java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 12:00:00"))
    }.toDF("event_id", "user_id", "event_type", "value", "ts")
    val ts = graft.gold.Seasonal.dailyTrendRobust(ev).collect().head
    assert(ts.getAs[Double]("ts_slope_cents") == 1000.0,
      s"robust slope ${ts.getAs[Double]("ts_slope_cents")}")
    assert(ts.getAs[Long]("n_pairs") == 36L) // C(9,2)
    val ols = graft.gold.Seasonal.dailyTrend(ev).collect().head
    assert(math.abs(ols.getAs[Double]("slope_cents") - 1000.0) > 100.0,
      "outlier should have bent OLS — otherwise this test proves nothing")
    // clean series: Theil-Sen == OLS == exact slope
    val clean = (0 until 5).map { i =>
      (i.toLong, 1L, "purchase", 100.0 + 10 * i,
        java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 12:00:00"))
    }.toDF("event_id", "user_id", "event_type", "value", "ts")
    val tc = graft.gold.Seasonal.dailyTrendRobust(clean).collect().head
    assert(tc.getAs[Double]("ts_slope_cents") == 1000.0)
    assert(math.abs(tc.getAs[Double]("forecast_next") - 150.0) < 1e-9)
  }

  test("rolling correlation hits +1 on coupled series and -1 on opposed ones") {
    // errors = gmv/100 exactly -> every 7-day window is perfectly linear
    val ev = (0 until 10).flatMap { i =>
      val gmv = 100.0 + 10 * i
      val errs = (1 to (i + 1)).map(e =>
        (1000L + i * 100 + e, 1L, "error", 1.0,
          java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 13:00:00")))
      Seq((i.toLong, 1L, "purchase", gmv,
        java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 12:00:00"))) ++ errs
    }.toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = graft.gold.Seasonal.rollingCorr(ev).collect()
    assert(out.length == 10)
    // first day: window of 1 -> NULL; later days: gmv and err_count are
    // both exact linear functions of the day -> corr is +1 up to fp
    assert(out.head.isNullAt(out.head.fieldIndex("rolling_corr")))
    out.drop(1).foreach { r =>
      val c = r.getAs[Double]("rolling_corr")
      assert(c > 0.999999999, s"day ${r.getAs[java.sql.Date]("day")}: corr $c")
    }
    // window never exceeds 7 days
    assert(out.map(_.getAs[Long]("n_days_in_window")).max == 7L)
  }

  test("histogram buckets partition the value range and counts sum to n") {
    import graft.operators.Profiling
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val h = Profiling.histogram(df, "v", bins = 10).collect()
    assert(h.map(_.getAs[Long]("bucket_count")).sum == 100L)
    assert(h.length == 10)
    // equal-width on 1..100 with 10 bins: first bucket [1, 10.9) -> 1..10
    val byBucket = h.map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("bucket_count")).toMap
    assert(byBucket(0L) == 10L, s"bucket0 ${byBucket(0L)}")
    // the max value lands in the LAST bucket (closed upper edge)
    assert(byBucket(9L) >= 10L)
    val shares = h.map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-12)
  }

  test("concentration indices match hand math: planted Gini/HHI/top-decile, " +
    "and perfect equality scores zero") {
    // region A: customer revenues 1,2,3,4 cents ->
    // gini = (2*30 - 5*10)/(4*10) = 0.25; hhi = 30/100; top-decile(n=4)=1
    // customer -> share 4/10. region B: four equal -> gini exactly 0.
    val cust = (1 to 8).map(c => (c.toLong, if (c <= 4) 1L else 2L))
      .toDF("c_custkey", "c_nationkey")
    val nat = Seq((1L, 10L), (2L, 20L)).toDF("n_nationkey", "n_regionkey")
    val reg = Seq((10L, "A"), (20L, "B")).toDF("r_regionkey", "r_name")
    val ords = Seq(
      (1L, 0.01), (2L, 0.02), (3L, 0.03), (4L, 0.04),
      (5L, 0.05), (6L, 0.05), (7L, 0.05), (8L, 0.05)
    ).zipWithIndex.map { case ((c, v), i) => (i.toLong, c, v) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = graft.gold.Concentration
      .revenueConcentration(ords, cust, nat, reg).collect()
      .map(r => r.getAs[String]("region") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_customers") == 4L)
    assert(a.getAs[Long]("total_cents") == 10L)
    assert(a.getAs[Double]("gini") == 0.25)
    assert(a.getAs[Double]("hhi") == 0.30)
    assert(a.getAs[Double]("top_decile_share") == 0.4)
    val b = out("B")
    assert(b.getAs[Double]("gini") == 0.0, "perfect equality must score 0")
    assert(b.getAs[Double]("hhi") == 0.25)
  }

  test("trimmed/winsorized means match hand math and diverge from the raw " +
    "mean under an outlier") {
    import graft.operators.Robust
    // cents: 1,2,3,4,5,9,10,100 — k=2 at 25% trim: kept 3,4,5,9
    val ords = Seq(1, 2, 3, 4, 5, 9, 10, 100).zipWithIndex.map {
      case (c, i) => (i.toLong, "P", c / 100.0)
    }.toDF("o_orderkey", "grp", "price")
    val r = Robust.trimmedStats(ords, "grp", col("price"), col("o_orderkey"),
      trimBp = 2500).collect().head
    assert(r.getAs[Long]("n") == 8L && r.getAs[Long]("k") == 2L)
    assert(r.getAs[Double]("mean") == 134.0 / 8.0 / 100.0)
    assert(r.getAs[Double]("trimmed_mean") == 21.0 / 4.0 / 100.0)
    assert(r.getAs[Double]("winsorized_mean") == 45.0 / 8.0 / 100.0)
    assert(r.getAs[Double]("low_clip_value") == 0.03)
    assert(r.getAs[Double]("high_clip_value") == 0.09)
    // the robust estimates sit far below the outlier-dragged mean
    assert(r.getAs[Double]("trimmed_mean") < r.getAs[Double]("mean") / 2)
  }

  test("weighted median picks the crossing row exactly, ignores zero weights") {
    import graft.operators.Robust
    val spark2 = spark
    import spark2.implicits._
    // group P: values 10,20,30 with weights 1,1,4 -> W=6, half=3:
    //   cum 1,2,6 -> first 2*cum>=6 is value 30 (plain median would be 20)
    // group Q: values 5,7 weights 1,1 -> W=2, crossing at cum=1 -> lower
    //   median 5 (even split takes the LOWER value by contract)
    // group R: one zero-weight row must be excluded entirely
    val df = Seq(
      ("P", 10.0, 1.0, 1L, 1), ("P", 20.0, 1.0, 2L, 1), ("P", 30.0, 4.0, 3L, 1),
      ("Q", 5.0, 1.0, 4L, 1), ("Q", 7.0, 1.0, 5L, 1),
      ("R", 9.0, 0.0, 6L, 1), ("R", 11.0, 2.0, 7L, 1)
    ).toDF("grp", "v", "w", "ok", "ln")
    val out = Robust.weightedMedian(df, "grp", "v", "w", Seq("ok", "ln"))
      .orderBy("grp").collect()
    assert(out.length == 3 && out.forall(_ != null))
    val byG = out.map(r => r.getString(0) -> r).toMap
    assert(byG("P").getAs[Double]("weighted_median") == 30.0)
    assert(byG("P").getAs[Long]("total_w") == 6L)
    assert(byG("Q").getAs[Double]("weighted_median") == 5.0)
    assert(byG("R").getAs[Double]("weighted_median") == 11.0)
    assert(byG("R").getAs[Long]("n_rows") == 1L, "zero-weight row excluded")
    // exactly one row per group survives the crossing filter
    assert(out.map(_.getString(0)).distinct.length == 3)
  }

  test("log-rank test matches hand math: risk sets, micro terms, z") {
    // arm A (even custkeys): cust 2 event t=2, cust 4 censored t=5;
    // arm B (odd): cust 1 event t=2, cust 3 event t=4.
    // t=2: n=(2,2), d=(1,1) -> E1 = 2*2/4 = 1, V = 2*2*2*2/(16*3) = 1/3
    // t=4: n=(1,1), d=(0,1) -> E1 = 1*1/2 = 0.5, V = 1/(4*1) = 1/4
    // O1 = 1, E1 = 1.5, V = 7/12 (micro-floored: 333333 + 250000)
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"1996-01-${day + 1}%02d 00:00:00")
    val ords = Seq(
      (1L, 2L, ts(0)), (2L, 2L, ts(2)),
      (3L, 4L, ts(0)),
      (4L, 1L, ts(0)), (5L, 1L, ts(2)),
      (6L, 3L, ts(1)), (7L, 3L, ts(5))
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val r = graft.gold.Survival.logRank(ords).collect().head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("n_event_times") == 2L)
    assert(r.getAs[Long]("o1") == 1L)
    assert(r.getAs[Double]("e1") == 1.5)
    assert(r.getAs[Double]("v") == 583333.0 / 1e6)
    val z = (1.0 - 1.5) / math.sqrt(583333.0 / 1e6)
    assert(r.getAs[Double]("z") == z)
    assert(r.getAs[Double]("chi2") == z * z)
    // identical arms would have z near 0; this slight imbalance is far
    // from significant
    assert(r.getAs[Double]("p_two") > 0.4)
  }

  test("Nelson-Aalen matches hand math and stays consistent with KM") {
    // same planted cohort as the KM spec: events at t=2 (2 of 4) and
    // t=5 (1 of 2, with one censored still at risk).
    // H(2) = 2/4 = 0.5; H(5) = 0.5 + 1/2 = 1.0
    // V(2) = 2/16 = 0.125; V(5) = 0.125 + 1/4 = 0.375
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    val ords = Seq(
      (1L, 1L, ts(0)), (2L, 1L, ts(2)),
      (3L, 2L, ts(0)), (4L, 2L, ts(2)),
      (5L, 3L, ts(0)), (6L, 3L, ts(5)),
      (7L, 4L, ts(0))
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = (1 to 4).map(c => (c.toLong, "SEG")).toDF("c_custkey", "c_mktsegment")
    val out = graft.gold.Survival.nelsonAalen(ords, cust).collect()
      .map(r => r.getAs[Long]("t_days") -> r).toMap
    assert(out.keySet == Set(2L, 5L))
    assert(out(2L).getAs[Long]("n_risk") == 4L)
    assert(out(2L).getAs[Double]("na_hazard") == 0.5)
    assert(out(2L).getAs[Double]("na_variance") == 0.125)
    assert(out(5L).getAs[Long]("n_risk") == 2L)
    assert(out(5L).getAs[Double]("na_hazard") == 1.0)
    assert(out(5L).getAs[Double]("na_variance") == 0.375)
    // consistency with the KM curve: e^-H >= S (strict product vs the
    // exponential bound), and both step at the same event times
    val km = graft.gold.Survival.kaplanMeier(ords, cust).collect()
      .map(r => r.getAs[Long]("t_days") -> r.getAs[Double]("survival")).toMap
    assert(km.keySet == out.keySet)
    for ((t, s) <- km)
      assert(math.exp(-out(t).getAs[Double]("na_hazard")) >= s - 1e-9,
        s"e^-H < S at t=$t")
  }

  test("Kaplan-Meier matches hand math with censoring handled correctly") {
    // A,B: repeat after 2 days; C: after 5; D: single order, censored at
    // the day-5 horizon. KM: S(2) = 1 - 2/4 = 0.5;
    // S(5) = 0.5 * (1 - 1/2) = 0.25 (D is still AT RISK at t=5).
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 00:00:00")
    val ords = Seq(
      (1L, 1L, ts(0)), (2L, 1L, ts(2)),
      (3L, 2L, ts(0)), (4L, 2L, ts(2)),
      (5L, 3L, ts(0)), (6L, 3L, ts(5)),
      (7L, 4L, ts(0))
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = (1 to 4).map(c => (c.toLong, "SEG")).toDF("c_custkey", "c_mktsegment")
    val out = graft.gold.Survival.kaplanMeier(ords, cust).collect()
      .map(r => r.getAs[Long]("t_days") -> r).toMap
    assert(out.keySet == Set(2L, 5L))
    assert(out(2L).getAs[Long]("n_risk") == 4L)
    assert(out(2L).getAs[Long]("n_events") == 2L)
    assert(out(2L).getAs[Double]("survival") == 0.5)
    assert(out(5L).getAs[Long]("n_risk") == 2L)
    assert(out(5L).getAs[Long]("n_events") == 1L)
    assert(out(5L).getAs[Long]("n_censored") == 1L)
    assert(out(5L).getAs[Double]("survival") == 0.25)
    // dropping the censored customer entirely (the naive mistake) would
    // give S(5) = 1/3 * ... != 0.25 — censoring must not silently vanish
    val naive = graft.gold.Survival.kaplanMeier(
      ords.filter(col("o_custkey") =!= 4L), cust).collect()
      .map(r => r.getAs[Long]("t_days") -> r.getAs[Double]("survival")).toMap
    assert(naive(5L) != 0.25)
  }

  test("weighted sampling favors heavy rows (statistical sanity)") {
    // two strata-free populations: weight 1000 vs weight 1 — with k = 50
    // of 200 rows, the heavy half must dominate the sample.
    val rows = (1 to 200).map(i =>
      (i.toLong, "g", if (i <= 100) 1000L else 1L)).toDF("id", "g", "w")
    val kept = Sampling.sampleWeighted(rows, col("g"), col("id"), col("w"), 50)
      .collect().map(_.getAs[Long]("id"))
    val heavy = kept.count(_ <= 100)
    assert(heavy >= 45, s"heavy rows in sample: $heavy/50")
  }
}
