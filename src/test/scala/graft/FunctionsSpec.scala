package graft

import graft.functions.GraftFunctions
import graft.sim.Similarity
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  test("vec_dot is bit-identical to the HOF dot baseline on real vectors") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, TinySf)
    val both = e.select(
      col("vec_id"),
      expr("vec_dot(embedding, embedding)").as("fast"),
      Similarity.dot(col("embedding"), col("embedding")).as("slow"))
    val diffs = both.filter(col("fast") =!= col("slow")).count()
    assert(diffs == 0)
    assert(both.count() > 0)
  }

  test("register adds only missing functions: a repeat call replaces nothing") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import scala.jdk.CollectionConverters._
    val session = spark.newSession()
    val registry = session.sessionState.functionRegistry
    // a session whose registry lacks vec_dot: register must add it back
    registry.dropFunction(FunctionIdentifier("vec_dot"))
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("register-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(registry.getClass).asInstanceOf[Logger]
    logger.addAppender(capture)
    try {
      GraftFunctions.register(session)
      GraftFunctions.register(session)
    } finally logger.removeAppender(capture)
    val replaced = logged.asScala.filter(_.contains("replaced a previously registered"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    assert(GraftFunctions.all.forall(f => registry.functionExists(FunctionIdentifier(f._1))))
    assert(session.sql("SELECT vec_dot(array(1f, 2f), array(3f, 4f))").head().getDouble(0) == 11.0)
  }

  test("vec_dot handles nulls and empty arrays") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f))),
      (None, Some(Array(1.0f))),
      (Some(Array.empty[Float]), Some(Array.empty[Float])))
      .toDF("a", "b")
    val out = df.select(expr("vec_dot(a, b)")).as[Option[Double]].collect()
    assert(out(0).contains(11.0))
    assert(out(1).isEmpty)
    assert(out(2).contains(0.0))
  }

  test("vec_dot participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, TinySf)
    val df = e.select(expr("vec_dot(embedding, embedding)"))
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators print as "*(n) Op" in the AQE tree
    assert("\\*\\(\\d+\\) Project \\[vec_dot".r.findFirstIn(plan).isDefined, plan.take(800))
  }

  test("sorted_intersect_count matches the HOF filter baseline on real vocab") {
    GraftFunctions.register(spark)
    val d = Tables.documents(spark, TinySf)
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("v"))
    val a = d.select(col("doc_id").as("da"), col("v").as("va"))
    val b = d.select(col("doc_id").as("db"), col("v").as("vb"))
    val pairs = a.join(b, col("da") < col("db") && col("da") < 15 && col("db") < 30)
    val both = pairs.select(
      expr("sorted_intersect_count(va, vb)").as("fast"),
      size(filter(col("va"), t => array_contains(col("vb"), t))).cast("long").as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
    assert(both.filter(col("fast") > 0).count() > 0) // nontrivial overlap exists
  }

  test("morton2 interleaves correctly and participates in codegen") {
    import graft.functions.Morton2
    assert(Morton2.interleave(1L, 0L) == 1L)
    assert(Morton2.interleave(0L, 1L) == 2L)
    assert(Morton2.interleave(3L, 3L) == 15L)
    assert(Morton2.interleave(0x7FFFFFFFL, 0L) == 0x1555555555555555L)
    // z-curve locality: a 2^k × 2^k aligned tile maps to one contiguous
    // code range — the property row-group pruning relies on
    val tile = for (a <- 4L to 7L; b <- 8L to 11L) yield Morton2.interleave(a, b)
    assert(tile.max - tile.min == 15L && tile.distinct.length == 16)
    GraftFunctions.register(spark)
    // over a parquet scan (NOT a local relation, which would fold to the
    // interpreted eval) so whole-stage codegen actually compiles doGenCode
    val df = Tables.orders(spark, TinySf)
      .select(col("o_orderkey"), col("o_custkey"))
      .withColumn("z", expr("morton2(o_orderkey, o_custkey)"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) == Morton2.interleave(r.getLong(0), r.getLong(1)))
    }
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[.*morton2".r.findFirstIn(plan).isDefined, plan.take(800))
  }

  test("IVF (trained quantizer) recall dominates the sign-LSH bucket path") {
    val e = Tables.embeddings(spark, TinySf)
    def hits(res: org.apache.spark.sql.DataFrame): Long = {
      val golden = Similarity.knnBrute(e).select("query_id", "vec_id")
      golden.join(res.select(col("query_id").as("q"), col("vec_id").as("v")),
        col("query_id") === col("q") && col("vec_id") === col("v")).count()
    }
    val ivfHits = hits(Similarity.knnIvf(e))
    val bucketedHits = hits(Similarity.knnBucketed(e))
    assert(ivfHits >= bucketedHits, s"ivf $ivfHits < bucketed $bucketedHits")
    assert(ivfHits > 0, "IVF found no golden neighbors at all")
  }

  test("IVF scores are bit-exact: only the candidate set is approximate") {
    // the deterministic half of the rows-only q_knn_ivf gate: whatever
    // neighbors the learned cells surface, the reported cos_sim must be
    // BIT-identical to the independently computed exact cosine — so the
    // learned quantizer can only affect WHICH rows appear, never a value
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, TinySf)
    val base = e.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
    val exact = base.alias("a").join(
        base.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("nrm").as("q_nrm")).filter(col("q_id") < 5),
        col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (expr("vec_dot(qv, embedding)") / (col("q_nrm") * col("nrm"))).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Similarity.knnIvf(e).select("query_id", "vec_id", "cos_sim").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact(key) == r.getDouble(2),
        s"cos_sim for $key is not the exact cosine: ${r.getDouble(2)} vs ${exact(key)}")
    }
  }

  test("PCA: orthonormal components, ordered variance, energy floor, recall vs brute") {
    val e = Tables.embeddings(spark, TinySf)
    val m = sim.Pca.fit(e, 8)
    // Components orthonormal (pairwise dot 0, self dot 1) within fp slack.
    for (i <- m.components.indices; j <- i until m.components.size) {
      val dot = m.components(i).iterator.zip(m.components(j).iterator)
        .map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"pc${i}*pc$j = $dot")
    }
    // Explained variance non-increasing, all positive.
    assert(m.explained.forall(_ > 0))
    assert(m.explained.zip(m.explained.tail).forall { case (a, b) => a >= b })
    // Refit determinism (fixed sample + deterministic eigen). A
    // repartitioned input is another plan, so this is a real second fit,
    // not a memo hit.
    val m2 = sim.Pca.fit(e.repartition(9), 8)
    assert(m2.components == m.components && m2.mean == m.mean)

    // Energy floor: the synthetic corpus is near-ISOTROPIC (no dominant
    // directions), so the top-8-of-32 subspace can capture only ≈ k/d =
    // 0.25 of per-vector energy; the floor asserts it does at least ~80%
    // of that bound (a broken projection scores ≈ 0). Real embedding
    // corpora are anisotropic and capture far more — the recall assert
    // below is the operator's functional contract either way.
    val meanCaptured = sim.Pca.embedPca(e, 8)
      .agg(avg(col("energy_captured"))).head().getDouble(0)
    assert(meanCaptured >= 0.8 * 8.0 / 32.0, s"mean energy captured $meanCaptured")

    // PCAR,Flat recall: the 8-dim prefilter + exact re-rank must recover
    // most of the golden top-k (refine·k = 80 candidates of 500 vectors).
    val golden = Similarity.knnBrute(e).select("query_id", "vec_id")
    val goldenN = golden.count()
    val pca = sim.Pca.knnPca(e)
    val hits = golden.join(
      pca.select(col("query_id").as("q"), col("vec_id").as("v")),
      col("query_id") === col("q") && col("vec_id") === col("v")).count()
    assert(hits.toDouble / goldenN >= 0.5, s"PCA recall ${hits}/$goldenN")
    // Scores on surfaced rows are the exact cosine (re-rank is full-dim).
    val perQ = pca.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQ.nonEmpty && perQ.forall(_ == 10L))
  }

  test("PQ/ADC with exact re-rank recalls most of the golden top-k") {
    val e = Tables.embeddings(spark, TinySf)
    val golden = Similarity.knnBrute(e).select("query_id", "vec_id")
    val goldenN = golden.count()
    val pq = Similarity.knnPq(e)
    val hits = golden.join(
      pq.select(col("query_id").as("q"), col("vec_id").as("v")),
      col("query_id") === col("q") && col("vec_id") === col("v")).count()
    // 16-centroid/8-subspace codebooks + 3k-shortlist re-rank: the ADC
    // ordering must put most true neighbors inside the shortlist
    assert(hits.toDouble / goldenN >= 0.5, s"PQ recall ${hits}/$goldenN")
    // ranked output shape: k rows per query, rank 1..k
    val perQ = pq.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(perQ.nonEmpty && perQ.forall(_ == 10L))
  }

  test("recall summary: brute anchors at 1.0, learned methods dominate sign-LSH") {
    val rec = Similarity.knnRecallSummary(Tables.embeddings(spark, TinySf))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rec.keySet ==
      Set("brute", "bucketed", "multiprobe", "ivf", "pq", "ivfpq", "lsh_tables", "pca"))
    // PCAR prefilter + exact re-rank: above the data-oblivious single
    // bucket, and a nontrivial floor even on the isotropic corpus.
    assert(rec("pca") >= rec("bucketed"), s"pca ${rec("pca")} < bucketed")
    assert(rec("pca") >= 0.4, s"pca recall ${rec("pca")}")
    assert(rec("brute") == 1.0)
    // OR-amplification over 4 tables must dominate the single-table
    // bucket path (whose measured recall here is ~0) and actually find
    // a nontrivial share of the golden top-k with NO training pass
    assert(rec("lsh_tables") >= rec("bucketed"),
      s"lsh_tables ${rec("lsh_tables")} < bucketed ${rec("bucketed")}")
    assert(rec("lsh_tables") >= 0.4, s"lsh_tables recall ${rec("lsh_tables")}")
    assert(rec("ivf") >= rec("bucketed"), s"ivf ${rec("ivf")} < bucketed ${rec("bucketed")}")
    assert(rec("pq") >= rec("bucketed"), s"pq ${rec("pq")} < bucketed ${rec("bucketed")}")
    assert(rec("pq") > 0.0 && rec("ivf") > 0.0)
    // the production composition must not trail its components: IVF-PQ's
    // wider default gate (nprobe 8 vs 4) + refine·k re-rank must hold it
    // within epsilon of IVF (r5 shipped ivfpq 0.40 vs ivf 0.58 — a bug)
    assert(rec("ivfpq") >= rec("bucketed"))
    assert(rec("ivfpq") >= rec("ivf") - 0.05,
      s"ivfpq ${rec("ivfpq")} trails ivf ${rec("ivf")} by more than 0.05")
  }

  test("semantic dedup: precision exact vs the all-pairs rule, planted " +
    "near-dups recalled, representatives are never dropped") {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, TinySf)

    // -- precision on the RAW corpus (max pairwise cos here is ~0.48, so
    // tau=0.35 marks borderline pairs): candidate pairs are re-scored with
    // TRUE cosine, so the cluster path may MISS a cross-cell pair but can
    // never fabricate one — every drop must exist under the all-pairs rule
    val tauLoose = 0.35
    val base = e.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
    val exactDropped = base.alias("a").join(
        base.select(col("vec_id").as("u_id"), col("embedding").as("uv"),
          col("nrm").as("u_nrm")),
        col("u_id") < col("vec_id"))
      .filter(expr("vec_dot(uv, embedding)") / (col("u_nrm") * col("nrm")) > tauLoose)
      .select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val loose = Similarity.semanticDedup(e, nlist = 16, threshold = tauLoose)
    val looseRows = loose.collect()
    assert(looseRows.length == e.count(), "dedup must return every corpus row")
    val looseDropped = looseRows.filter(!_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("vec_id")).toSet
    assert(looseDropped.nonEmpty && exactDropped.nonEmpty)
    assert(looseDropped.subsetOf(exactDropped),
      s"false drops: ${looseDropped -- exactDropped}")

    // -- recall on PLANTED near-dups — the operator's actual contract
    // (paraphrase-grade duplicates, cos ≈ 0.99): every 5th vector gets a
    // deterministically jittered copy; at tau=0.9 the exact rule drops
    // exactly the copies, and a copy's vector is close enough to its
    // original that the learned cells almost always agree
    val planted = e.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("label"),
        transform(col("embedding"),
          (x, i) => (x + sin(col("vec_id") * 7 + i) * lit(0.03)).cast("float"))
          .as("embedding"))
    val corpus = e.select("vec_id", "label", "embedding").unionByName(planted)
    val plantedIds = planted.select("vec_id").collect().map(_.getLong(0)).toSet
    val rows = Similarity.semanticDedup(corpus, nlist = 16, threshold = 0.9).collect()
    val dropped = rows.filter(!_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("vec_id")).toSet
    // nothing original sits above cos 0.9 of anything else → only copies drop
    assert(dropped.subsetOf(plantedIds), s"false drops: ${dropped -- plantedIds}")
    val recall = dropped.size.toDouble / plantedIds.size
    assert(recall >= 0.9, s"planted near-dup recall $recall " +
      s"(${dropped.size}/${plantedIds.size})")
    // every dropped row carries a representative with a SMALLER id
    rows.filter(!_.getAs[Boolean]("kept")).foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("dup_of")))
      assert(r.getAs[Long]("dup_of") < r.getAs[Long]("vec_id"))
    }
    // and the NAMED representative is itself a true above-threshold
    // neighbor under the exact rule — dup_of is evidence, not a guess
    // (the deterministic half of the rows-only q_semantic_dedup gate)
    val vecOf = corpus.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cosExact(a: Seq[Float], b: Seq[Float]): Double = {
      val (dot, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((d, x, y), (p, q)) =>
          (d + p.toDouble * q.toDouble, x + p.toDouble * p.toDouble,
            y + q.toDouble * q.toDouble)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.filter(!_.getAs[Boolean]("kept")).foreach { r =>
      val c = cosExact(vecOf(r.getAs[Long]("vec_id")),
        vecOf(r.getAs[Long]("dup_of")))
      assert(c > 0.9,
        s"dup_of ${r.getAs[Long]("dup_of")} of ${r.getAs[Long]("vec_id")} " +
          f"is below threshold: cos $c%.4f")
    }
  }

  test("quantizer training reads a bounded deterministic sample, not the corpus") {
    val e = Tables.embeddings(spark, TinySf)
    val base = e.select(col("vec_id"), col("embedding"))
    val s1 = Similarity.boundedTrainSample(base)
    // bounded: the fit input can never exceed trainCap regardless of corpus
    assert(s1.count() <= Similarity.trainCap)
    // deterministic: hash-priority top-k, no RNG state (two plans, same rows)
    val ids1 = s1.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Similarity.boundedTrainSample(base)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2 && ids1.nonEmpty)
    // the bound is enforced in the PLAN (a limit), not by a pre-count
    // action, and hash-priority-ordered so the sample is uniform over the
    // corpus — NOT a prefix of the first files: TakeOrderedAndProject =
    // per-task trainCap heap + driver merge, never a global sort
    val plan = s1.queryExecution.optimizedPlan.toString
    assert(plan.contains("GlobalLimit") || plan.contains("CollectLimit"), plan.take(500))
    assert(s1.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      s1.queryExecution.executedPlan.toString.take(500))
    // end-to-end: the learned paths leave NO new persisted RDDs behind —
    // the old shape leaked a corpus-sized MEMORY_AND_DISK persist into the
    // fit (delta-based: other suites legitimately keep session caches)
    // (an input no other test fits, so both quantizer fits really run)
    val fresh = e.repartition(11)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.knnIvf(fresh).collect()
    Similarity.knnIvfPq(fresh).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.view
      .filterKeys(!before.contains(_)).values.map(_.name).toSeq
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("int8 quantization: codes in range, error ≤ scale/2, cosine ≈ 1") {
    val out = graft.sim.Quantize.int8Summary(Tables.embeddings(spark, TinySf)).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val scale = r.getAs[Double]("scale")
      assert(r.getAs[Long]("code_min") >= -127L && r.getAs[Long]("code_max") <= 127L)
      // symmetric round-to-nearest: per-element error is bounded by half a
      // quantization step unless the clamp engaged (it can't: scale=max/127)
      assert(r.getAs[Double]("max_abs_err") <= scale / 2 + 1e-12,
        s"err ${r.getAs[Double]("max_abs_err")} > scale/2 ${scale / 2}")
      // int8 keeps the direction: dequantized vector stays ~parallel
      assert(r.getAs[Double]("cos_self") > 0.999,
        s"cos_self ${r.getAs[Double]("cos_self")}")
    }
  }

  test("multi-probe recall dominates single-bucket recall (superset candidates)") {
    val rec = Similarity.knnRecall(Tables.embeddings(spark, TinySf))
      .select("method", "query_id", "hits").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val queries = rec.keys.map(_._2).toSeq.distinct
    assert(queries.nonEmpty)
    queries.foreach { q =>
      assert(rec(("multiprobe", q)) >= rec(("bucketed", q)),
        s"query $q: multiprobe ${rec(("multiprobe", q))} < bucketed ${rec(("bucketed", q))}")
    }
  }

  test("levenshtein_leq equals the built-in on the band, k+1 above it") {
    GraftFunctions.register(spark)
    // seeded random pairs over a small alphabet so all distance regimes occur
    val rnd = new scala.util.Random(42)
    def word() = (0 until (3 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val pairs = (1 to 500).map(_ => (word(), word()))
    import spark.implicits._
    val df = pairs.toDF("a", "b")
    val both = df.select(
      expr("levenshtein_leq(a, b, 3)").as("banded"),
      least(levenshtein(col("a"), col("b")), lit(4)).cast("long").as("ref"))
    assert(both.filter(col("banded") =!= col("ref")).count() === 0)
    // both regimes actually occurred
    assert(both.filter(col("banded") <= 3).count() > 0)
    assert(both.filter(col("banded") === 4).count() > 0)
  }

  test("levenshtein_leq edge cases and codegen participation") {
    GraftFunctions.register(spark)
    import graft.functions.BandedLevenshtein.banded
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    assert(banded(u(""), u(""), 2) === 0L)
    assert(banded(u("abc"), u(""), 2) === 3L) // length gap 3 > 2 -> k+1
    assert(banded(u("ab"), u(""), 2) === 2L)
    assert(banded(u("kitten"), u("sitting"), 3) === 3L)
    assert(banded(u("kitten"), u("sitting"), 2) === 3L) // above band -> k+1
    assert(banded(u("same"), u("same"), 0) === 0L)
    // codegen: over a parquet scan so doGenCode actually compiles
    val df = Tables.customer(spark, TinySf)
      .select(expr("levenshtein_leq(c_name, c_mktsegment, 2)").as("d"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[levenshtein_leq".r.findFirstIn(plan).isDefined,
      plan.take(800))
  }

  test("bottomk_sample equals the window-rank sample bit-for-bit") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, TinySf).select(col("doc_id"), col("lang"))
    def viaAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("lang"))
      .agg(expr("bottomk_sample(md5(cast(doc_id AS string)), doc_id, 7)").as("s"))
      .select(col("lang"), posexplode(col("s")))
      .select(col("lang"), (col("pos") + 1).as("rank"), col("col.payload").as("doc_id"))
    val viaWindow = graft.operators.ScalableRank.topKPerGroup(
        docs.withColumn("pri", md5(col("doc_id").cast("string"))),
        Seq(col("lang")), Seq(col("pri").asc, col("doc_id").asc), 7, "rank")
      .select(col("lang"), col("rank"), col("doc_id"))
    val a = viaAgg(docs).orderBy("lang", "rank").collect().map(_.toString)
    val w = viaWindow.orderBy("lang", "rank").collect().map(_.toString)
    assert(a.nonEmpty && a.sameElements(w),
      "single-pass aggregate sample must equal the two-window-pass sample")
    // merge-tree invariance: any input partitioning yields the same state
    val b = viaAgg(docs.repartition(13)).orderBy("lang", "rank")
      .collect().map(_.toString)
    assert(a.sameElements(b), "bottomk_sample must be partitioning-invariant")
  }

  test("deflate_len: codegen and interpreted paths agree; compression orders") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq(
      (1L, "spam ham " * 100),
      (2L, (1 to 100).map(i => s"w$i").mkString(" ")),
      (3L, ""),
      (4L, null.asInstanceOf[String]))
    val df = rows.toDF("id", "s")
    val codegen = df.selectExpr("id", "deflate_len(s) AS n").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // interpreted twin (the eval path the generated loop must match)
    val interp = rows.map { case (id, s) =>
      id -> (if (s == null) -1L
             else graft.functions.DeflateLen.compressedLength(
               org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    }.toMap
    assert(codegen == interp, s"codegen $codegen vs interpreted $interp")
    assert(codegen(4L) == -1L, "null must stay null")
    assert(codegen(1L) < codegen(2L), "repetition must compress harder")
    assert(codegen(3L) > 0L, "empty string still costs the deflate header")
  }

  test("nfc_normalize: codegen/interpreted parity, ASCII identity, real " +
    "NFC rewrites, idempotence") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val combining = "e\u0301clair"            // e + COMBINING ACUTE
    val precomposed = "\u00e9clair"           // é single codepoint
    val angstrom = "A\u030Acme"               // A + COMBINING RING -> Å
    val rows = Seq(
      (1L, combining), (2L, precomposed), (3L, angstrom),
      (4L, "pure ascii stays put"), (5L, ""), (6L, null.asInstanceOf[String]))
    val df = rows.toDF("id", "s")
    val out = df.selectExpr("id", "nfc_normalize(s) AS n").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    // interpreted twin
    rows.foreach { case (id, s) =>
      val want = if (s == null) null
        else graft.functions.NfcNormalize.normalize(
          org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
      assert(out(id) == want, s"codegen/interpreted diverged on id=$id")
    }
    assert(out(1L) == precomposed, "combining sequence must compose to NFC")
    assert(out(2L) == precomposed, "already-NFC text must pass through")
    assert(out(3L) == "\u00C5cme")
    assert(out(4L) == "pure ascii stays put")
    assert(out(6L) == null)
    // idempotence: normalizing twice is the same as once
    val twice = df.selectExpr("id", "nfc_normalize(nfc_normalize(s)) AS n")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(twice == out)
  }

  test("Normalize.normalizeDocs strips controls, collapses spaces, trims, " +
    "and NFC-unifies hash-equivalent docs") {
    val spark2 = spark
    import spark2.implicits._
    val synth = Seq(
      (1L, "e\u0301clair \u0007 au  cafe\u0301 ", "fr", "s0"), // dirty
      (2L, "\u00e9clair \u0007 au caf\u00e9", "fr", "s0"),            // clean twin
      (3L, "plain text", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.text.Normalize.normalizeDocs(synth).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // after normalization the two éclair docs are byte-identical — the
    // whole point: hash-grain dedup must see them as one
    assert(out(1L).getAs[String]("clean_text") == out(2L).getAs[String]("clean_text"))
    assert(out(1L).getAs[Boolean]("changed"))
    assert(!out(3L).getAs[Boolean]("changed"))
    assert(out(1L).getAs[Long]("n_chars_clean") < out(1L).getAs[Long]("n_chars_raw"))
  }

  test("evasion-resistant dedup key unifies homoglyph and zero-width " +
    "spoofed twins that byte-level dedup misses") {
    val spark2 = spark
    import spark2.implicits._
    // doc 2 spoofs doc 1 with a Cyrillic 'о' and an invisible ZWSP;
    // doc 3 shouts the same text in caps with doubled spaces; doc 4 is
    // genuinely different
    val base = "free money now"
    val spoof = "free m\u043Eney n\u200Bow"
    val shouty = "FREE  MONEY  NOW"
    val synth = Seq((1L, base), (2L, spoof), (3L, shouty), (4L, "hello world"))
      .toDF("doc_id", "text")
    val out = graft.text.Normalize.evasionDups(synth).collect()
    assert(out.length == 2, s"expected 2 folded groups, got ${out.length}")
    val spam = out.filter(_.getAs[Long]("doc_count") == 3L).head
    assert(spam.getAs[Long]("canonical_doc_id") == 1L)
    assert(spam.getAs[Long]("n_raw_variants") == 3L)
    assert(spam.getAs[Boolean]("evasion_caught"))
    // byte-level dedup sees 4 distinct docs — the gap is the point
    assert(graft.text.Dedup.exactDups(synth).count() == 4L)
    val clean = out.filter(_.getAs[Long]("doc_count") == 1L).head
    assert(!clean.getAs[Boolean]("evasion_caught"))
  }

  test("bottomk_sample rejects uncastable input types at analysis time") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val tiny = Seq(("a", 1L)).toDF("g", "id")
    // DIRECT construction (bypassing the SQL builder and its explicit
    // casts) with a boolean priority and boolean payload: ExpectsInputTypes
    // must fail ANALYSIS with a type error instead of a raw
    // ClassCastException inside update() at execution time
    val boolLit = org.apache.spark.sql.catalyst.expressions.Literal(true)
    val bad = org.apache.spark.sql.GraftSqlShim.column(
      graft.functions.BottomKSample(boolLit, boolLit, 3).toAggregateExpression())
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      tiny.groupBy(col("g")).agg(bad.as("s")).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("type"), ex.getMessage)
    // numeric priorities remain legal via the analyzer's implicit cast
    val ok = tiny.groupBy(col("g"))
      .agg(expr("bottomk_sample(id, id, 3)").as("s")).collect()
    assert(ok.length == 1)
  }

  test("bottomk_sample returns whole groups smaller than k, in priority order") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val tiny = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L), ("b", 5L))
      .toDF("g", "id")
    val out = tiny.groupBy(col("g"))
      .agg(expr("bottomk_sample(md5(cast(id AS string)), id, 10)").as("s"))
      .select(col("g"), expr("transform(s, x -> x.payload)").as("ids"),
        expr("transform(s, x -> x.pri)").as("pris"))
      .collect()
    val byG = out.map(r => r.getString(0) -> r).toMap
    assert(byG("a").getSeq[Long](1).sorted == Seq(1L, 2L))
    assert(byG("b").getSeq[Long](1).sorted == Seq(3L, 4L, 5L))
    // emitted ascending by priority
    out.foreach { r =>
      val pris = r.getSeq[String](2)
      assert(pris == pris.sorted, s"not ascending: $pris")
    }
  }

  test("multi_match equals the P-scan contains baseline on real documents") {
    GraftFunctions.register(spark)
    // deliberately adversarial set: shared prefixes, pattern-inside-pattern,
    // shared suffixes, single chars, and a never-matching phrase
    val pats = Seq("scan", "slow scan", "an", "s", "join", "hash join",
      "value table", "zzz never zzz")
    val lst = pats.map(pt => s"'$pt'").mkString("array(", ", ", ")")
    val both = Tables.documents(spark, TinySf).select(
      expr(s"multi_match(text, $lst)").as("fast"),
      filter(expr(lst), pt => col("text").contains(pt)).as("slow"))
    assert(both.filter(not(col("fast") <=> col("slow"))).count() == 0)
    assert(both.filter(size(col("fast")) > 2).count() > 0) // nontrivial hits
  }

  test("multi_match edge semantics: nulls, no-hit, boundaries, multibyte UTF-8") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      Some("abcde"),            // start + end boundary hits
      Some("aaa"),              // overlapping self-occurrences report once
      Some(""),                 // empty text: no hits
      None,                     // null text: null out
      Some("xx h\u00e9llo yy")   // multibyte pattern, byte-level automaton
    ).toDF("t")
    val out = df.select(expr(
      "multi_match(t, array('abc', 'cde', 'aa', 'h\u00e9llo', 'q'))").as("m"))
      .collect().map(r => Option(r.getSeq[String](0)))
    assert(out(0).contains(Seq("abc", "cde")))  // declaration order
    assert(out(1).contains(Seq("aa")))
    assert(out(2).contains(Seq.empty[String]))
    assert(out(3).isEmpty)
    assert(out(4).contains(Seq("h\u00e9llo")))
  }

  test("multi_match rejects non-foldable, empty, and duplicate patterns") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("abc", Array("a", "b"))).toDF("t", "ps")
    // non-foldable patterns: analysis-time failure, not runtime CCE
    val analysisErr = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(expr("multi_match(t, ps)")).collect()
    }
    assert(analysisErr.getMessage.contains("foldable"))
    val dupErr = intercept[Exception] {
      df.select(expr("multi_match(t, array('x', 'x'))")).collect()
    }
    assert(dupErr.getMessage.contains("distinct"))
    val emptyErr = intercept[Exception] {
      df.select(expr("multi_match(t, array('x', ''))")).collect()
    }
    assert(emptyErr.getMessage.contains("non-empty"))
  }

  test("multi_match participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    val df = Tables.documents(spark, TinySf)
      .select(expr("multi_match(text, array('scan', 'join'))"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[multi_match".r.findFirstIn(plan).isDefined, plan.take(800))
  }

  test("multi_redact equals the longest-first-alternation regex replace on real docs") {
    GraftFunctions.register(spark)
    val tags = graft.text.Blocklist.DefaultTags
    val arr = tags.map(t => s"'$t'").mkString("array(", ", ", ")")
    val alt = tags.sortBy(t => (-t.length, t)).mkString("|")
    val both = Tables.documents(spark, TinySf).select(
      expr(s"multi_redact(text, $arr, '[MASK]')").as("fast"),
      regexp_replace(col("text"), alt, "[MASK]").as("slow"),
      expr(s"multi_match_count(text, $arr)").as("cnt"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
    // count == number of masks actually inserted
    val bad = both.filter(
      size(split(col("fast"), "\\[MASK\\]", -1)) - 1 =!= col("cnt")).count()
    assert(bad == 0)
    assert(both.filter(col("cnt") > 0).count() > 0)
  }

  test("multi_redact picks leftmost-longest and skips overlaps") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(Some("abab"), Some("ababa"), Some("xyz"), None).toDF("t")
    val out = df.select(
      expr("multi_redact(t, array('ab', 'aba'), 'M')").as("r"),
      expr("multi_match_count(t, array('ab', 'aba'))").as("c")).collect()
    assert(out(0).getString(0) == "Mb" && out(0).getLong(1) == 1L)  // aba wins at 0
    assert(out(1).getString(0) == "Mba" && out(1).getLong(1) == 1L) // overlap at 2 skipped
    assert(out(2).getString(0) == "xyz" && out(2).getLong(1) == 0L)
    assert(out(3).isNullAt(0) && out(3).isNullAt(1))
  }
}
