package graft

import graft.functions.GraftFunctions
import graft.operators.{AsOfJoin, IntervalJoin, MergeUpsert, Sessionize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based tests: the operators with the trickiest semantics run
  * against brute-force in-memory oracles on RANDOM inputs — tie
  * timestamps, empty sides, exact-gap boundaries, negative times,
  * bin-edge intervals — the corners a fixed-fixture spec never draws.
  * Generators are ScalaCheck `Gen` pinned to fixed seeds (`pureApply`),
  * so every run sees the same cases: failures reproduce, CI stays
  * deterministic. */
class PropertySpec extends SparkSpec {

  private def draw[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // ---- as-of join family ---------------------------------------------------

  /** (event_id, user_id, ts_us, value) with few keys and a tight ts range,
    * so ts collisions (left==right ts) are common. */
  private def leftGen(n: Int): Gen[List[(Long, Long, Long, Double)]] =
    Gen.listOfN(n, for {
      u <- Gen.choose(1L, 4L)
      ts <- Gen.choose(0L, 40L)
      v <- Gen.choose(0, 999)
    } yield (u, ts, v.toDouble)).map(_.zipWithIndex.map {
      case ((u, ts, v), i) => (i.toLong, u, ts, v)
    })

  /** Right side with UNIQUE (user_id, ts_us) — the as-of contract carries
    * ONE value per match point, so duplicate match points would make the
    * oracle ambiguous rather than the operator wrong. */
  private def rightGen(n: Int): Gen[List[(Long, Long, Long, Double)]] =
    leftGen(n).map(_.groupBy(r => (r._2, r._3)).map(_._2.head).toList
      .zipWithIndex.map { case ((_, u, ts, v), i) => (1000L + i, u, ts, v) })

  private def asofOracle(lefts: Seq[(Long, Long, Long, Double)],
                         rights: Seq[(Long, Long, Long, Double)],
                         forward: Boolean,
                         tolUs: Long): Map[Long, Option[(Double, Long)]] =
    lefts.map { case (id, u, ts, _) =>
      val cands = rights.filter { case (_, ru, rts, _) =>
        ru == u &&
          (if (forward) rts >= ts else rts <= ts) &&
          (tolUs < 0L || (if (forward) rts - ts <= tolUs else ts - rts <= tolUs))
      }
      val best =
        if (cands.isEmpty) None
        else Some(if (forward) cands.minBy(_._3) else cands.maxBy(_._3))
      id -> best.map { case (_, _, rts, rv) => (rv, rts) }
    }.toMap

  private def collectAsof(df: DataFrame): Map[Long, Option[(Double, Long)]] =
    df.select("event_id", "asof_value", "asof_ts_us").collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None
                       else Some((r.getDouble(1), r.getLong(2))))
    }.toMap

  test("property: every as-of implementation matches the brute-force oracle " +
    "on random inputs (ties, empty sides, tolerance)") {
    import spark.implicits._
    val cols = Seq("event_id", "user_id", "ts_us", "value")
    for (seed <- 1L to 8L) {
      val nl = draw(Gen.choose(0, 30), seed * 31)
      val nr = draw(Gen.choose(0, 30), seed * 37)
      val lefts = draw(leftGen(nl), seed)
      val rights = draw(rightGen(nr), seed + 100)
      val tol = draw(Gen.oneOf(-1L, 0L, draw(Gen.choose(1L, 15L), seed + 7)), seed + 9)
      val lDf = lefts.toDF(cols: _*)
      val rDf = rights.toDF(cols: _*)

      val backOracle = asofOracle(lefts, rights, forward = false, tolUs = -1L)
      assert(collectAsof(AsOfJoin.asOf(lDf, rDf)) == backOracle,
        s"union+window backward diverged at seed=$seed")
      assert(collectAsof(graft.plans.NativeAsOf.asOf(
        lDf, rDf, "user_id", "ts_us", "value")) == backOracle,
        s"native backward diverged at seed=$seed")
      assert(collectAsof(graft.plans.NativeAsOf.asOf(
        lDf, rDf, "user_id", "ts_us", "value", forward = true)) ==
        asofOracle(lefts, rights, forward = true, tolUs = -1L),
        s"native forward diverged at seed=$seed")
      assert(collectAsof(graft.plans.NativeAsOf.asOf(
        lDf, rDf, "user_id", "ts_us", "value", toleranceUs = tol)) ==
        asofOracle(lefts, rights, forward = false, tolUs = tol),
        s"native tolerance=$tol diverged at seed=$seed")
    }
  }

  // ---- interval-overlap join ----------------------------------------------

  test("property: bin-blocked interval join matches the all-pairs oracle, " +
    "including negative times and bin-edge intervals") {
    import spark.implicits._
    for (seed <- 1L to 6L) {
      val binUs = 64L
      val sessions = draw(Gen.listOfN(draw(Gen.choose(0, 25), seed * 13), for {
        u <- Gen.choose(1L, 5L)
        // starts can be negative and lengths hit 0 and exact bin multiples
        start <- Gen.choose(-256L, 512L)
        len <- Gen.oneOf(0L, 1L, binUs - 1, binUs, binUs + 1, 3 * binUs)
      } yield (u, start, start + len)), seed)
        .zipWithIndex.map { case ((u, s, e), i) => (u, i.toLong, s, e) }

      val df = sessions.toDF("user_id", "session_idx",
        "session_start_us", "session_end_us")
      val got = IntervalJoin.coActiveSessions(df, binUs)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

      val oracle = (for {
        (ua, _, sa, ea) <- sessions
        (ub, _, sb, eb) <- sessions
        if ua < ub && sa <= eb && sb <= ea
      } yield (ua, ub)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == oracle, s"interval join diverged at seed=$seed")
    }
  }

  // ---- MERGE with schema evolution ----------------------------------------

  test("property: mergeEvolve holds the Delta autoMerge laws on random " +
    "target/source column sets") {
    import spark.implicits._
    for (seed <- 1L to 6L) {
      val tRows = draw(Gen.listOfN(draw(Gen.choose(0, 12), seed), for {
        a <- Gen.choose(0, 99); b <- Gen.choose(0, 99)
      } yield (a, b)), seed).zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
      val sKeys = draw(Gen.listOfN(draw(Gen.choose(0, 12), seed + 3),
        Gen.choose(0L, 17L)), seed + 5).distinct
      val sourceHasB = draw(Gen.prob(0.5), seed + 11)
      val sourceHasC = draw(Gen.prob(0.5), seed + 13)
      val sRows = sKeys.map(k => (k,
        draw(Gen.choose(100, 199), seed + k),
        draw(Gen.choose(100, 199), seed + k + 50),
        draw(Gen.choose(100, 199), seed + k + 90)))

      val target = tRows.toDF("k", "a", "b")
      val source = {
        val base = sRows.toDF("k", "a", "b", "c")
        (sourceHasB, sourceHasC) match {
          case (true, true) => base
          case (true, false) => base.drop("c")
          case (false, true) => base.drop("b")
          case (false, false) => base.drop("b", "c")
        }
      }

      val got = MergeUpsert.mergeEvolve(target, source, Seq("k"))
        .collect().map { r =>
          (r.getLong(r.fieldIndex("k")),
            r.getInt(r.fieldIndex("a")),
            if (got2HasCol(r.schema.fieldNames, "b") && !r.isNullAt(r.fieldIndex("b")))
              Some(r.getInt(r.fieldIndex("b"))) else None,
            if (got2HasCol(r.schema.fieldNames, "c") && !r.isNullAt(r.fieldIndex("c")))
              Some(r.getInt(r.fieldIndex("c"))) else None,
            r.getString(r.fieldIndex("_merge_action")))
        }.toSet

      val sMap = sRows.map(s => s._1 -> s).toMap
      val expected: Set[(Long, Int, Option[Int], Option[Int], String)] =
        (tRows.filterNot(t => sMap.contains(t._1)).map { case (k, a, b) =>
          (k, a, Some(b), None, "kept")
        } ++ tRows.filter(t => sMap.contains(t._1)).map { case (k, _, tb) =>
          val (_, sa, sb, sc) = sMap(k)
          // matched: source wins its columns; target keeps what source dropped
          (k, sa, if (sourceHasB) Some(sb) else Some(tb),
            if (sourceHasC) Some(sc) else None, "updated")
        } ++ sKeys.filterNot(k => tRows.exists(_._1 == k)).map { k =>
          val (_, sa, sb, sc) = sMap(k)
          (k, sa, if (sourceHasB) Some(sb) else None,
            if (sourceHasC) Some(sc) else None, "inserted")
        }).toSet
      assert(got == expected,
        s"mergeEvolve diverged at seed=$seed hasB=$sourceHasB hasC=$sourceHasC")
    }
  }

  private def got2HasCol(names: Array[String], c: String): Boolean =
    names.contains(c)

  test("property: the one-join MERGE returns the three-branch MERGE's rows " +
    "on random inputs: null keys, duplicate source keys, every schema shape") {
    import spark.implicits._
    def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    for (seed <- 1L to 3L; (hasB, hasC) <- Seq((true, false), (true, true),
        (false, false), (false, true))) {
      // target: unique keys plus null-keyed rows (null never equals null)
      val tKeys = draw(Gen.listOfN(draw(Gen.choose(0, 10), seed),
        Gen.choose(0L, 15L)), seed + 1).distinct.map(Option(_)) ++
        Seq.fill(draw(Gen.choose(0, 2), seed + 2))(None)
      val target = tKeys.zipWithIndex
        .map { case (k, i) => (k, i, draw(Gen.choose(0, 99), seed + i)) }
        .toDF("k", "a", "b")
      // source: duplicate and null keys allowed
      val sKeys = draw(Gen.listOfN(draw(Gen.choose(0, 12), seed + 3),
        Gen.frequency(5 -> Gen.choose(0L, 20L).map(Option(_)), 1 -> Gen.const(Option.empty[Long]))),
        seed + 5)
      val base = sKeys.zipWithIndex
        .map { case (k, i) => (k, 100 + i, 200 + i, 300 + i) }
        .toDF("k", "a", "b", "c")
      val source = base.drop(Seq("b" -> hasB, "c" -> hasC).collect {
        case (c, false) => c }: _*)
      val shape = s"seed=$seed hasB=$hasB hasC=$hasC"

      val got = MergeUpsert.mergeEvolve(target, source, Seq("k"))
      val want = ThreeBranchMerge.mergeEvolve(target, source, Seq("k"))
      assert(got.columns.toSeq == want.columns.toSeq, shape)
      assert(rowsOf(got) == rowsOf(want), shape)
      if (hasB && !hasC) // the same-schema case, through merge
        assert(rowsOf(MergeUpsert.merge(target, source, Seq("k"))) ==
          rowsOf(ThreeBranchMerge.merge(target, source, Seq("k"))), shape)
    }

    // a shared column that changes type fails both, with the same message
    val target = Seq((1L, 1)).toDF("k", "a")
    val source = Seq((1L, 1L)).toDF("k", "a")
    val got = intercept[IllegalArgumentException](
      MergeUpsert.mergeEvolve(target, source, Seq("k")))
    val want = intercept[IllegalArgumentException](
      ThreeBranchMerge.mergeEvolve(target, source, Seq("k")))
    assert(got.getMessage == want.getMessage)
    intercept[IllegalArgumentException](MergeUpsert.merge(target, source, Seq("k")))
  }

  test("merge emits one updated row per matched target row when the target " +
    "holds a key twice") {
    import spark.implicits._
    val target = Seq((1L, "t1"), (1L, "t2"), (2L, "t3")).toDF("k", "v")
    val source = Seq((1L, "s")).toDF("k", "v")
    val out = MergeUpsert.merge(target, source, Seq("k"))
      .as[(Long, String, String)].collect().toSeq.sorted
    // the three-branch merge emitted (1, s, updated) once: one per source row
    assert(out == Seq((1L, "s", "updated"), (1L, "s", "updated"), (2L, "t3", "kept")))
  }


  // ---- gap sessionization --------------------------------------------------

  test("property: sessionization matches the per-user fold oracle at exact " +
    "gap boundaries") {
    import spark.implicits._
    val gapUs = 10L
    for (seed <- 1L to 6L) {
      val events = draw(Gen.listOfN(draw(Gen.choose(0, 40), seed * 17), for {
        u <- Gen.choose(1L, 3L)
        // deltas cluster on the gap boundary: ==gap stays, gap+1 breaks
        ts <- Gen.choose(0L, 8L).map(_ * (gapUs / 2))
      } yield (u, ts)), seed).zipWithIndex
        .map { case ((u, ts), i) => (i.toLong, u, "click", 1.0, ts * 1000L) }

      val df = events.toDF("event_id", "user_id", "event_type", "value", "ts_ns")
      val got = Sessionize.assignSessions(df, gapUs)
        .select("event_id", "session_idx")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val oracle = events.groupBy(_._2).flatMap { case (_, evs) =>
        val sorted = evs.map(e => (e._1, e._5 / 1000L)).sortBy(e => (e._2, e._1))
        var idx = 0L
        var prev = Long.MinValue
        sorted.map { case (id, ts) =>
          if (prev == Long.MinValue || ts - prev > gapUs) idx += 1
          prev = ts
          id -> idx
        }
      }.toMap
      assert(got == oracle, s"sessionize diverged at seed=$seed")
    }
  }

  // ---- Misra–Gries topk_freq ----------------------------------------------

  test("property: topk_freq holds the Misra-Gries guarantees under " +
    "partial/merge execution on random skewed streams") {
    import spark.implicits._
    GraftFunctions.register(spark)
    for (seed <- 1L to 4L) {
      val n = 400
      val items = draw(Gen.listOfN(n, Gen.frequency(
        8 -> Gen.const("alpha"), 5 -> Gen.const("beta"),
        3 -> Gen.const("gamma"), 2 -> Gen.const("delta"),
        1 -> Gen.oneOf("e1", "e2", "e3", "e4", "e5", "e6"))), seed)
      val truth = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

      // repartition forces per-partition summaries + a merge — the
      // distributed path whose error bound is the sum of partial bounds
      val out = items.toDF("item").repartition(7)
        .agg(expr("topk_freq(item, 4, 4)").as("s"))
        .selectExpr("inline(s)")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

      out.foreach { case (item, est, err) =>
        assert(est <= truth(item), s"MG must underestimate: $item at seed=$seed")
        assert(truth(item) <= est + err,
          s"true count above est+err for $item at seed=$seed")
      }
      val errBound = out.headOption.map(_._3).getOrElse(0L)
      val present = out.map(_._1).toSet
      truth.filter(_._2 > errBound).keys.foreach { hh =>
        assert(present.contains(hh),
          s"guaranteed heavy hitter $hh missing at seed=$seed (err=$errBound)")
      }
    }
  }

  // ---- kmv sketch ----------------------------------------------------------

  test("property: kmv_sketch IS the k smallest distinct hashes under any " +
    "partitioning (deterministic equality, not a statistical bound)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    for (seed <- 1L to 5L) {
      // heavy duplication (small value range) exercises the dedup path
      val vals = draw(Gen.listOfN(draw(Gen.choose(0, 300), seed * 19),
        Gen.choose(-50L, 50L)), seed)
      val k = draw(Gen.oneOf(2, 5, 16), seed + 3)
      val parts = draw(Gen.choose(1, 9), seed + 5)
      val expected = vals.distinct
        .map(v => XxHash64Function.hash(v, LongType, 42L))
        .distinct.sorted.take(k)
      val got = vals.toDF("v").repartition(parts)
        .agg(expr(s"kmv_sketch(v, $k)")).collect()(0).getSeq[Long](0).toList
      assert(got == expected, s"kmv sketch diverged at seed=$seed k=$k parts=$parts")
    }
  }

  // ---- morton2 bit interleave ----------------------------------------------

  test("property: morton2 codegen matches an independent per-bit interleave") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // independent reference: loop over bits (the impl uses magic masks)
    def ref(a: Long, b: Long): Long = {
      var out = 0L
      var i = 0
      while (i < 31) {
        out |= ((a >> i) & 1L) << (2 * i)
        out |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      out
    }
    val pairs = draw(Gen.listOfN(200, for {
      a <- Gen.choose(0L, (1L << 31) - 1)
      b <- Gen.choose(0L, (1L << 31) - 1)
    } yield (a, b)), 42L) ++
      Seq((0L, 0L), ((1L << 31) - 1, (1L << 31) - 1), (0L, (1L << 31) - 1))
    val got = pairs.toDF("a", "b").selectExpr("morton2(a, b)")
      .collect().map(_.getLong(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      assert(g == ref(a, b), s"morton2($a, $b)")
    }
  }

  // ---- connected components: star contraction vs union-find oracle --------

  test("property: star-contraction components equal a union-find oracle on " +
      "random graphs (and label propagation agrees)") {
    import spark.implicits._
    def ufOracle(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // path-compress to the component MINIMUM (find chases to the min
      // because unions always point larger roots at smaller ones)
      (1L to n).map(i => i -> find(i)).toMap
    }
    for (seed <- Seq(11L, 12L, 13L)) {
      val n = 40L
      val edges = draw(Gen.listOfN(45, for {
        a <- Gen.choose(1L, n); b <- Gen.choose(1L, n)
      } yield (a, b)), seed).filter { case (a, b) => a != b }
      val nodes = (1L to n).toDF("id")
      val edgeDf = edges.toDF("src", "dst")
      val expect = ufOracle(n, edges)
      val star = graft.text.Components.connectedComponentsStar(nodes, edgeDf)
        .as[(Long, Long)].collect().toMap
      assert(star == expect, s"star labels diverge from union-find (seed $seed)")
      val prop = graft.text.Components.connectedComponents(nodes, edgeDf)
        .as[(Long, Long)].collect().toMap
      assert(prop == expect, s"label-prop labels diverge from union-find (seed $seed)")
    }
  }

  // ---- BPE encode round-trip on random token streams -----------------------

  test("property: BPE encode round-trips random corpora under trained merges") {
    import spark.implicits._
    val alpha = Gen.listOfN(6, Gen.oneOf("ab", "abc", "aab", "bc", "ccc", "abab", "ba"))
    for (seed <- Seq(21L, 22L)) {
      val texts = draw(Gen.listOfN(12, alpha.map(_.mkString(" "))), seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val merges = graft.text.Bpe.trainMerges(docs, 10)
      val enc = graft.text.Bpe.encode(docs, merges)
        .as[(Long, Seq[String])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val rebuilt = enc(i.toLong).mkString
          .split(java.util.regex.Pattern.quote(graft.text.Bpe.EndOfWord))
          .filter(_.nonEmpty).toSeq
        assert(rebuilt == t.split(" ").filter(_.nonEmpty).toSeq,
          s"round-trip failed for doc $i (seed $seed)")
      }
    }
  }

  test("property: triangles match an all-triples brute count on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(40, for {
      a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)
    for (seed <- 1L to 5L) {
      val edges = draw(edgeGen, seed)
      val adj = edges.toSet
      def connected(x: Long, y: Long) =
        adj.contains((math.min(x, y), math.max(x, y)))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val brute = nodes.map { u =>
        val others = nodes.filter(_ != u).filter(connected(u, _))
        u -> others.combinations(2).count { case Seq(x, y) => connected(x, y) }
      }.toMap
      val got = graft.gold.Graph.triangles(edges.toDF("user_a", "user_b"))
        .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("triangles")).toMap
      nodes.foreach { u =>
        assert(got(u) === brute(u).toLong, s"seed $seed node $u: ${got(u)} vs ${brute(u)}")
      }
    }
  }

  test("property: integer PageRank matches a driver-side BigInt simulation") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(25, for {
      a <- Gen.choose(1L, 10L); b <- Gen.choose(1L, 10L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)
    for (seed <- 11L to 13L) {
      val pairs = draw(edgeGen, seed)
      // driver oracle: same fixed-point contract, plain Long arithmetic
      val sym = pairs ++ pairs.map(p => (p._2, p._1))
      val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
      val nodes = deg.keys.toSeq.sorted
      val nN = nodes.size.toLong
      val pr0 = graft.gold.Graph.MassUnits / nN
      val tele = (15L * pr0) / 100L
      var pr = nodes.map(_ -> pr0).toMap
      for (_ <- 1 to graft.gold.Graph.Iterations) {
        val contrib = sym.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
        }
        pr = nodes.map(n => n -> (tele + (85L * contrib.getOrElse(n, 0L)) / 100L)).toMap
      }
      val got = graft.gold.Graph.pageRank(pairs.toDF("user_a", "user_b"))
        .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("pr_units")).toMap
      nodes.foreach { n =>
        assert(got(n) === pr(n), s"seed $seed node $n: ${got(n)} vs ${pr(n)}")
      }
    }
  }

  test("property: banded levenshtein equals a reference full DP on random pairs") {
    import graft.functions.BandedLevenshtein.banded
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def full(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val strGen = for {
      n <- Gen.choose(0, 12)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val pairGen = Gen.listOfN(300, Gen.zip(strGen, strGen))
    for (seed <- 21L to 23L) {
      draw(pairGen, seed).foreach { case (a, b) =>
        for (k <- 0 to 5) {
          val expected = math.min(full(a, b), k + 1).toLong
          assert(banded(u(a), u(b), k) === expected,
            s"seed $seed '$a' vs '$b' k=$k")
        }
      }
    }
  }

  // ---- quantile sketch merge associativity --------------------------------

  test("quantile sketch: any random partition of rows merges to the direct sketch") {
    import spark.implicits._
    val rowsGen = Gen.listOfN(400, for {
      g <- Gen.choose(1, 3)
      v <- Gen.choose(0, 10000)
    } yield (g, v.toDouble)).map(_.zipWithIndex.map {
      case ((g, v), i) => (i.toLong, s"g$g", v)
    })
    for (seed <- 31L to 33L) {
      val rows = draw(rowsGen, seed)
      val df = rows.toDF("k", "grp", "v")
      val direct = graft.gold.QuantileSketch.sketch(df, Seq("grp"), col("v"), col("k"), k = 32)
      // random 3-way partition, sketch each part, merge
      val parts = rows.groupBy(r => r._1 % 3).values.toSeq
      val partSketches = parts.map(p =>
        graft.gold.QuantileSketch.sketch(p.toDF("k", "grp", "v"), Seq("grp"), col("v"), col("k"), k = 32))
      val merged = graft.gold.QuantileSketch.merge(
        partSketches.reduce(_ unionByName _), Seq("grp"), k = 32)
      def toMap(d: DataFrame) = d.select("grp", "qsk", "n_rows").collect()
        .map(r => r.getString(0) ->
          (r.getSeq[org.apache.spark.sql.Row](1).toList.map(_.toSeq.toList), r.getLong(2))).toMap
      val (dm, mm) = (toMap(direct), toMap(merged))
      assert(dm.keySet == mm.keySet && dm.nonEmpty, s"seed $seed")
      dm.foreach { case (g, v) => assert(v == mm(g), s"seed $seed group $g") }
    }
  }

  // ---- distributed grouped prefix sum vs brute oracle ----------------------

  test("withGroupedPrefixSum matches a brute per-group running total on random rows") {
    import spark.implicits._
    val rowsGen = Gen.listOfN(300, for {
      g <- Gen.choose(1, 4); v <- Gen.choose(0L, 50L)
    } yield (g, v)).map(_.zipWithIndex.map {
      case ((g, v), i) => (i.toLong, s"g$g", v)
    })
    for (seed <- 51L to 53L) {
      val rows = draw(rowsGen, seed)
      // deliberately poor partitioning: many small partitions so groups
      // straddle partition boundaries and the offset path is exercised
      val df = rows.toDF("k", "grp", "v").repartition(7)
      val got = graft.operators.ScalableRank.withGroupedPrefixSum(
          df, col("grp"), Seq(col("k")), col("v"), "ps")
        .select("k", "ps").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val brute = rows.groupBy(_._2).values.flatMap { grp =>
        val sorted = grp.sortBy(_._1)
        sorted.map(_._1).zip(sorted.map(_._3).scanLeft(0L)(_ + _))
      }.toMap
      rows.foreach { case (k, _, _) =>
        assert(got(k) == brute(k), s"seed $seed key $k") }
    }
  }

  // ---- point-in-time prior-state join vs brute oracle ----------------------

  test("priorStateJoin: random events match the brute strictly-before oracle") {
    import spark.implicits._
    val stateGen = Gen.listOfN(20, for {
      k <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 30L)
    } yield (k, t)).map(_.distinct.zipWithIndex.map {
      case ((k, t), i) => (k, t, s"s$i", i.toLong)
    })
    val eventGen = Gen.listOfN(40, for {
      k <- Gen.choose(1L, 3L); t <- Gen.choose(0L, 30L)
    } yield (k, t)).map(_.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) })
    for (seed <- 41L to 43L) {
      val states = draw(stateGen, seed)
      val events = draw(eventGen, seed + 100)
      val out = graft.operators.Scd.priorStateJoin(
          events.toDF("id", "k", "t"),
          states.toDF("k", "t", "attr", "ver"),
          "k", "t", "t", Seq("attr"))
        .select("id", "prior_attr").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      events.foreach { case (id, k, t) =>
        val expected = states.filter(s => s._1 == k && s._2 < t)
          .sortBy(_._2).lastOption.map(_._3)
        assert(out(id) == expected, s"seed $seed event $id")
      }
    }
  }

  // ---- bin packing ---------------------------------------------------------

  /** Document lengths drawn from mixed regimes — many tiny, some near
    * capacity, some overflow — the distributions where a packer's
    * capacity/bijectivity/bound invariants actually get exercised. */
  private def lengthsGen(n: Int, cap: Int): Gen[List[Int]] =
    Gen.listOfN(n, Gen.frequency(
      5 -> Gen.choose(1, cap / 8),
      3 -> Gen.choose(cap / 2, cap),
      1 -> Gen.choose(cap + 1, 2 * cap)))

  test("packHistogram invariants hold on random mixed-length histograms") {
    val cap = 64
    for (seed <- 1L to 8L) {
      val lens = draw(lengthsGen(120, cap), seed).filter(_ <= cap)
      val hist = lens.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
      if (hist.nonEmpty) {
        val strategies = graft.text.BinPacking.packHistogram(hist, cap)
        // capacity respected, all counts consumed exactly
        strategies.foreach(s => assert(s.lengths.sum <= cap && s.count > 0,
          s"seed $seed: bad strategy $s"))
        val consumed = strategies.flatMap(s => s.lengths.map(_ -> s.count))
          .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
        assert(consumed == hist, s"seed $seed: counts drifted")
        // theorem bound: at most one bin <= half full → n_bins <= 2·LB+1
        val lb = (lens.map(_.toLong).sum + cap - 1) / cap
        val nBins = strategies.map(_.count).sum
        assert(nBins <= 2 * lb + 1, s"seed $seed: $nBins bins vs LB $lb")
        // and at most ONE strategy may sit at or below half capacity
        val halfEmpty = strategies.filter(_.lengths.sum * 2 <= cap)
        assert(halfEmpty.map(_.count).sum <= 1,
          s"seed $seed: ${halfEmpty.size} half-empty strategies")
      }
    }
  }

  test("packBins assigns every random doc once, within capacity, overflow isolated") {
    import spark.implicits._
    val cap = 64
    for (seed <- 1L to 3L) {
      val lens = draw(lengthsGen(80, cap), seed)
      val docs = lens.zipWithIndex
        .map { case (l, i) => (i.toLong, ("w " * l).trim) }
        .toDF("doc_id", "text")
      val out = graft.text.BinPacking.packBins(docs, cap).collect()
      assert(out.length == lens.size, s"seed $seed: docs dropped or duplicated")
      assert(out.map(_.getAs[Long]("doc_id")).distinct.length == lens.size)
      val byBin = out.groupBy(r => (r.getAs[Long]("bin_id"), r.getAs[Long]("overflow")))
      byBin.foreach { case ((bin, over), rows) =>
        if (over == 0L)
          assert(rows.map(_.getAs[Long]("n_tokens")).sum <= cap.toLong,
            s"seed $seed: bin $bin over capacity")
        else assert(rows.length == 1, s"seed $seed: overflow bin $bin shared")
      }
    }
  }

  test("line dedup matches a driver-side fold on random multi-line corpora") {
    import spark.implicits._
    // lines drawn from a small shared pool (collisions guaranteed) mixed
    // with per-doc unique lines and the empty line; docs may be empty
    val pool = Vector("shared footer", "nav | home | about", "", "copyright")
    val docGen: Gen[List[String]] = Gen.listOf(for {
      nLines <- Gen.choose(0, 7)
      lines <- Gen.listOfN(nLines, Gen.frequency(
        3 -> Gen.oneOf(pool),
        2 -> Gen.choose(0, 999999).map(k => s"unique line $k")))
    } yield lines.mkString("\n"))
    for (seed <- 1L to 4L; minDup <- Seq(2, 3)) {
      val texts = draw(docGen, seed).take(60)
      if (texts.nonEmpty) {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        // oracle: re-derive lines from the TEXT (the operator's own input
        // contract — split keeps trailing empties), count corpus-wide
        val lineLists = texts.map(_.split("\n", -1).toSeq)
        val counts = lineLists.flatten.groupBy(identity).view.mapValues(_.size)
        val got = graft.text.LineDedup.dedupLines(docs, minDupCount = minDup)
          .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
        assert(got.size == texts.size, s"seed $seed: docs dropped")
        lineLists.zipWithIndex.foreach { case (lines, i) =>
          val kept = lines.filter(l => counts(l) < minDup)
          val r = got(i.toLong)
          assert(r.getAs[String]("clean_text") == kept.mkString("\n"),
            s"seed $seed minDup $minDup doc $i: reassembly diverged")
          assert(r.getAs[Long]("n_lines") == lines.size.toLong)
          assert(r.getAs[Long]("n_kept") == kept.size.toLong)
          assert(r.getAs[Long]("n_removed") == (lines.size - kept.size).toLong)
        }
      }
    }
  }

  test("image stub hashes: typed path equals the SQL plan twin on random ASCII") {
    import spark.implicits._
    val asciiGen: Gen[String] = for {
      n <- Gen.choose(0, 300)
      cs <- Gen.listOfN(n, Gen.choose(32, 126).map(_.toChar))
    } yield cs.mkString
    val texts = "" +: (1L to 40L).map(s => draw(asciiGen, s))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val media = docs.select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("application/octet-stream").as("mime"), lit("t").as("source"))
      .as[graft.multimodal.Multimodal.MediaRecord]
    val typed = graft.multimodal.ImageHash.imageHashes(media).collect()
      .map(h => h.doc_id -> (h.ahash, h.dhash)).toMap
    val planned = graft.multimodal.ImageHash.phashPlan(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    texts.indices.foreach { i =>
      assert(typed(i.toLong) == planned(i.toLong),
        s"doc $i (${texts(i).take(40)}…): typed stub != plan twin")
    }
  }

  test("property: retrieval eval matches a bit-exact in-memory oracle on " +
    "random labeled corpora") {
    import spark.implicits._
    // replicate the engine's arithmetic exactly: sequential double
    // accumulation of float→double products (FloatVecDot), micro-unit
    // DCG terms, one IEEE division per metric
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def disc(rank: Int): Long = math.round(1e6 / math.log(rank + 1.0))

    (1 to 5).foreach { seed =>
      val n = draw(Gen.choose(5, 25), seed * 61L)
      val rows = (0 until n).map { i =>
        val vec = (0 until 3).map(d =>
          draw(Gen.choose(-1000, 1000), seed * 67L + i * 7L + d).toFloat / 1000f)
          .toArray
        (i.toLong, vec, draw(Gen.choose(0, 1), seed * 71L + i))
      }
      val k = draw(Gen.choose(1, 6), seed * 73L)
      val nq = draw(Gen.choose(1, 4), seed * 79L)

      val gotRows = graft.ml.RetrievalEval.evalBruteKnn(
          rows.toDF("vec_id", "embedding", "label"), nq, k)
        .collect().map(r => r.getAs[Long]("query_id") -> r).toMap

      val labelCount = rows.groupBy(_._3).view.mapValues(_.size).toMap
      rows.filter(_._1 < nq).foreach { case (qid, qv, qlab) =>
        val ranked = rows.filter(_._1 != qid)
          .map { case (id, v, lab) => (id, lab, cos(qv, v)) }
          .sortBy { case (id, _, c) => (-c, id) }
          .take(k).zipWithIndex
          .map { case ((id, lab, c), i) => (i + 1, id, lab) }
        assert(ranked.nonEmpty)
        val nRel = labelCount(qlab).toLong - 1L
        val hits = ranked.count(_._3 == qlab).toLong
        val dcg = ranked.collect { case (r, _, lab) if lab == qlab => disc(r) }.sum
        val firstRel = ranked.collectFirst { case (r, _, lab) if lab == qlab => r }
        val m = math.min(nRel, k.toLong).toInt
        val idcg = (1 to m).map(disc).sum
        val r = gotRows(qid)
        assert(r.getAs[Long]("n_rel") == nRel, s"seed=$seed q=$qid n_rel")
        assert(r.getAs[Long]("hits") == hits, s"seed=$seed q=$qid hits")
        assert(r.getAs[Double]("p_at_k") == hits.toDouble / k, s"seed=$seed q=$qid p")
        assert(r.getAs[Double]("r_at_k") ==
          (if (nRel > 0) hits.toDouble / nRel.toDouble else 0.0), s"seed=$seed q=$qid r")
        assert(r.getAs[Double]("mrr") ==
          firstRel.map(1.0 / _.toDouble).getOrElse(0.0), s"seed=$seed q=$qid mrr")
        assert(r.getAs[Double]("ndcg") ==
          (if (m > 0 && idcg > 0) dcg.toDouble / idcg.toDouble else 0.0),
          s"seed=$seed q=$qid ndcg")
      }
      assert(gotRows.keySet == rows.filter(_._1 < nq).map(_._1).toSet)
    }
  }

  test("property: bottomk_sample matches an in-memory md5 brute force on " +
    "random skewed groups, any partitioning") {
    import spark.implicits._
    GraftFunctions.register(spark)
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (1 to 6).foreach { seed =>
      val n = draw(Gen.choose(0, 120), seed * 41L)
      val rows = draw(Gen.listOfN(n, for {
        g <- Gen.oneOf("a", "b", "c", "hot")   // skew: few groups
        id <- Gen.choose(0L, 60L)              // dup ids across groups ok
      } yield (g, id)), seed * 43L).distinct   // (g,id) multiset w/o dup pairs
      val k = draw(Gen.choose(1, 8), seed * 47L)
      val parts = draw(Gen.oneOf(1, 3, 13), seed * 53L)

      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(_._2).distinct
          .map(id => (md5hex(id.toString), id)).sorted.take(k)
          .map(_._2)
      }

      val got = rows.toDF("g", "id").repartition(parts)
        .groupBy(col("g"))
        .agg(expr(s"bottomk_sample(md5(cast(id AS string)), id, $k)").as("s"))
        .select(col("g"), expr("transform(s, x -> x.payload)").as("ids"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap

      // distinct ids per (g): rows were deduped on (g,id), but the same id
      // can recur in a group only once, so expectation is exact
      expected.foreach { case (g, exp) =>
        assert(got(g) == exp,
          s"seed=$seed k=$k parts=$parts group=$g: ${got(g)} != $exp")
      }
      assert(got.keySet == expected.keySet)
    }
  }
}

/** The three-branch MERGE that `MergeUpsert` replaced (an anti-join, a
  * semi- or inner join and another anti-join, unioned), kept verbatim as
  * the equivalence oracle. */
object ThreeBranchMerge {

  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val matchedKeys = source.select(keys.map(col): _*).distinct()
    val kept = target.join(matchedKeys, keys, "left_anti")
      .withColumn("_merge_action", lit("kept"))
    val updatedKeys = target.select(keys.map(col): _*).distinct()
    val fromSource = source.join(updatedKeys, keys, "left_semi")
      .withColumn("_merge_action", lit("updated"))
    val inserted = source.join(updatedKeys, keys, "left_anti")
      .withColumn("_merge_action", lit("inserted"))
    kept.unionByName(fromSource).unionByName(inserted)
  }

  def mergeEvolve(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val tTypes = target.schema.map(f => f.name -> f.dataType).toMap
    val sTypes = source.schema.map(f => f.name -> f.dataType).toMap
    val mismatched = (tTypes.keySet & sTypes.keySet).filter(c => tTypes(c) != sTypes(c))
    require(mismatched.isEmpty,
      s"schema evolution cannot change column types: ${mismatched.toSeq.sorted
        .map(c => s"$c: ${tTypes(c)} -> ${sTypes(c)}").mkString(", ")}")

    val targetOnly = target.columns.filterNot(sTypes.contains).toSeq
    val sourceOnly = source.columns.filterNot(tTypes.contains).toSeq
    if (targetOnly.isEmpty && sourceOnly.isEmpty) return merge(target, source, keys)
    require(keys.forall(k => tTypes.contains(k) && sTypes.contains(k)),
      s"merge keys $keys must exist on both sides")

    val kept = target.join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .withColumns(sourceOnly.map(c => c -> lit(null).cast(sTypes(c))).toMap)
      .withColumn("_merge_action", lit("kept"))
    // matched: source columns win, target-only columns survive the update
    val updated = source.join(
        target.select((keys ++ targetOnly).map(col): _*), keys, "inner")
      .withColumn("_merge_action", lit("updated"))
    val inserted = source.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .withColumns(targetOnly.map(c => c -> lit(null).cast(tTypes(c))).toMap)
      .withColumn("_merge_action", lit("inserted"))

    val outCols = (target.columns ++ sourceOnly) :+ "_merge_action"
    kept.select(outCols.map(col): _*)
      .unionByName(updated.select(outCols.map(col): _*))
      .unionByName(inserted.select(outCols.map(col): _*))
  }
}
