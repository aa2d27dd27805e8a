package graft.text

import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
  * the MOSS local fingerprinting algorithm): hash every k-gram of each
  * document, slide a window of w consecutive gram hashes, and select each
  * window's MINIMUM hash (rightmost position on ties). The selection is
  * locally determined, so any shared substring of length ≥ w + k − 1
  * between two documents is GUARANTEED to share a fingerprint — the
  * position-robust complement to the corpus's MinHash (whole-doc
  * similarity) and ExactSubstr (exact span) detectors.
  *
  * Engine-mirroring contract: the gram hash is the first 7 hex digits of
  * md5 (28 bits, libm-free, identical in Spark and DuckDB), and the
  * rightmost-min window selection is ONE `min` window aggregate over the
  * combined key (h+1)·2^24 − pos — min hash wins, larger pos wins ties,
  * and (hash, pos) recover by exact integer division. No floating point
  * anywhere until the final density ratio.
  *
  * Scale shape: the gram explode is ∝ total corpus chars (the accepted
  * ExactSubstr grain), the selection window is per-document ordered by
  * position (doc-grain partitions, bounded by doc length), and the pair
  * probe joins on fingerprint hash behind the same occupancy governor as
  * the LSH band store — candidate volume is bounded by governor × corpus,
  * never corpus².
  */
object Winnow {

  /** Gram length k: fingerprints detect shared substrings of length
    * ≥ GuaranteeLen = K + W − 1 = 11. */
  val K = 8

  /** Window length w (consecutive gram hashes per selection window). */
  val W = 4

  /** Position packing base for the combined min key; positions are
    * 1-based and documents are bounded well below 2^24 chars. */
  val PosBase = 1L << 24

  /** Per-gram hashes: one row per (doc, pos) with the 28-bit md5-prefix
    * hash of the k-gram starting at pos (1-based). Docs shorter than K
    * emit nothing. Docs at or beyond PosBase chars FAIL LOUDLY: the
    * packed key (h+1)·PosBase − pos is only injective below PosBase, and
    * an oversized doc would silently decode wrong fp_hash/fp_pos in both
    * engines (the oracle mirrors the packing, so the cross-engine compare
    * could never catch the corruption). The guard lives inside the
    * evaluated pos expression so column pruning cannot elide it. */
  def gramHashes(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .filter(length(col(textCol)) >= K)
      .select(col("doc_id"),
        explode(sequence(lit(1),
          when(length(col(textCol)) < lit(PosBase),
              length(col(textCol)) - (K - 1))
            .otherwise(raise_error(concat(lit("winnowing fingerprint "
              + s"position packing requires docs shorter than $PosBase "
              + "chars; got "), length(col(textCol)), lit(" chars for "
              + "doc_id "), col("doc_id"))).cast("int")))).as("pos"),
        col(textCol))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(expr(s"substring($textCol, pos, $K)")), 1, 7),
          16, 10).cast("long").as("h"))

  /** Selected fingerprints: one row per (doc_id, fp_pos, fp_hash) chosen
    * by the rightmost-min rule over every full window of W grams. */
  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val wWin = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(W - 1), Window.currentRow)
    gramHashes(docs, textCol)
      .withColumn("_key", (col("h") + 1) * lit(PosBase) - col("pos"))
      .withColumn("_sel", min(col("_key")).over(wWin))
      // only window ends with full coverage select; dedupe repeated wins
      .filter(col("pos") >= W)
      .select(col("doc_id"), col("_sel")).distinct()
      .select(col("doc_id"),
        (expr(s"_sel div ${PosBase}L") + 1) * lit(PosBase) - col("_sel"),
        expr(s"_sel div ${PosBase}L"))
      .toDF("doc_id", "fp_pos", "fp_hash")
  }

  /** Per-document fingerprint summary: gram/window/selection counts, the
    * selection density (expected ≈ 2/(w+1) for random text), and a
    * position-ordered digest of the selected hashes — the compact
    * document signature MOSS-style comparison stores. Covers EVERY
    * document (docs shorter than the guarantee threshold report zero
    * counts and a NULL digest). */
  def docSummary(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val perDoc = fingerprints(docs, textCol)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fingerprints"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("fp_pos"), col("fp_hash")))),
          x => x.getField("fp_hash").cast("string")), ",")).as("fp_digest"))
    docs
      .select(col("doc_id"),
        greatest(length(col(textCol)) - (K - 1), lit(0)).cast("long")
          .as("n_grams"))
      .withColumn("n_windows", greatest(col("n_grams") - (W - 1), lit(0L)))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), col("n_windows"),
        coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
        (coalesce(col("n_fingerprints"), lit(0L)).cast("double") /
          when(col("n_windows") > 0L, col("n_windows").cast("double")))
          .as("fp_density"),
        col("fp_digest"))
      .orderBy("doc_id")
  }

  /** Candidate near-dup pairs: documents sharing ≥ `minShared` winnowing
    * fingerprint HASHES (gram content, position-free), with hashes whose
    * doc-occupancy exceeds `maxBucket` dropped first — the exact
    * hot-bucket governor the MinHash band store uses, so boilerplate
    * grams shared by half the corpus cannot explode the join. */
  def candidatePairs(docs: DataFrame, textCol: String = "text",
                     minShared: Int = 8, maxBucket: Int = 16): DataFrame = {
    // The selected-fingerprint frame is read four times (hot set, governed
    // cool set on both sides of the self-join) — without a persist each
    // consumer re-runs the char-grain explode + selection window.
    CacheRegistry.release(Winnow)
    val fp = CacheRegistry.persist(Winnow, fingerprints(docs, textCol)
      .select("doc_id", "fp_hash").distinct())
    val hot = fp.groupBy("fp_hash")
      .agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") > maxBucket)
      .select("fp_hash")
    val cool = fp.join(broadcast(hot), Seq("fp_hash"), "left_anti")
    cool.select(col("fp_hash"), col("doc_id").as("doc_a"))
      .join(cool.select(col("fp_hash"), col("doc_id").as("doc_b")), Seq("fp_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  // ---- incremental fingerprint-store maintenance ---------------------
  // Selected fingerprints are a PURE per-document function (the winnowing
  // selection window never crosses documents), so the fingerprint corpus
  // materializes ONCE and new documents append without touching existing
  // rows — the same nightly-append operating mode as the MinHash band
  // store, for the substring-level detector. The delta probe joins only
  // NEW docs' fingerprints against the governed store, so its cost scales
  // with |delta| × hash occupancy, never corpus².

  /** Materialize the (doc_id, fp_hash) fingerprint store for a corpus. */
  def buildFingerprintStore(docs: DataFrame, path: String,
                            textCol: String = "text"): Unit =
    fingerprints(docs, textCol).select("doc_id", "fp_hash").distinct()
      .write.mode("overwrite").parquet(path)

  /** Append new documents' fingerprints (per-doc computation — identical
    * to what a from-scratch build would write for those docs). */
  def appendFingerprintStore(newDocs: DataFrame, path: String,
                             textCol: String = "text"): Unit =
    fingerprints(newDocs, textCol).select("doc_id", "fp_hash").distinct()
      .write.mode("append").parquet(path)

  /** IDEMPOTENT keyed append for at-least-once writers (streaming
    * foreachBatch): a replayed micro-batch overwrites its own
    * `batch_<id>` slice — a plain re-append would duplicate fingerprint
    * rows and inflate hash occupancy past the governor. */
  def writeFingerprintBatch(newDocs: DataFrame, path: String, batchId: Long,
                            textCol: String = "text"): Unit =
    fingerprints(newDocs, textCol).select("doc_id", "fp_hash").distinct()
      .write.mode("overwrite").parquet(s"$path/batch_$batchId")

  /** Near-dup candidate pairs INVOLVING documents matching `newPred`,
    * computed from the fingerprint store alone. The occupancy governor
    * runs over the FULL store (exactly the full-run rule, so incremental
    * and from-scratch probes drop the same hashes) and shared counts come
    * from the store — output ≡ [[candidatePairs]] over the whole corpus
    * restricted to pairs touching the delta. */
  def incrementalPairs(spark: org.apache.spark.sql.SparkSession,
                       path: String, newPred: Column,
                       minShared: Int = 8, maxBucket: Int = 16): DataFrame = {
    // recursive lookup: flat appends and keyed batch slices read as one.
    // The doc-grain distinct makes occupancy count DOCUMENTS per hash
    // (candidatePairs' fpd semantics) and armors the governor against
    // duplicated rows from overlapping slices. Persisted: the hot set and
    // both sides of the pair self-join would otherwise re-run the store
    // scan + distinct shuffle three times (same reason candidatePairs
    // persists its fp frame).
    CacheRegistry.release(Winnow)
    val store = CacheRegistry.persist(Winnow,
      spark.read.option("recursiveFileLookup", "true").parquet(path)
        .select("doc_id", "fp_hash").distinct())
    val hot = store.groupBy("fp_hash")
      .agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") > maxBucket)
      .select("fp_hash")
    val cool = store.join(broadcast(hot), Seq("fp_hash"), "left_anti")
    val newRows = cool.filter(newPred)
      .select(col("fp_hash"), col("doc_id").as("n_id"))
    newRows
      .join(cool.select(col("fp_hash"), col("doc_id").as("o_id")), Seq("fp_hash"))
      .filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("doc_a"),
        greatest(col("n_id"), col("o_id")).as("doc_b"), col("fp_hash"))
      .groupBy("doc_a", "doc_b")
      // countDistinct, not count: a delta×delta pair reaches the join from
      // BOTH sides, so a plain count would double its shared tally
      .agg(countDistinct(col("fp_hash")).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  // ---- DuckDB oracle fragments (mirror the exact integer contract) ----

  /** Shared oracle CTEs ending in `fp` (doc_id, fp_pos, fp_hash). */
  val fingerprintSqlCtes: String =
    s"""WITH gp AS (
       |  SELECT doc_id, text, unnest(range(1, len(text) - ${K - 2})) AS i
       |  FROM documents WHERE len(text) >= $K
       |), g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    CAST(concat('0x', substr(md5(substr(text, CAST(i AS INT), $K)), 1, 7)) AS BIGINT) AS h
       |  FROM gp
       |), kk AS (
       |  SELECT doc_id, pos, (h + 1) * $PosBase - pos AS key FROM g
       |), wm AS (
       |  SELECT doc_id, pos,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${W - 1} PRECEDING AND CURRENT ROW) AS sel
       |  FROM kk
       |), fpsel AS (
       |  SELECT DISTINCT doc_id, sel FROM wm WHERE pos >= $W
       |), fp AS (
       |  SELECT doc_id,
       |    (sel // $PosBase + 1) * $PosBase - sel AS fp_pos,
       |    sel // $PosBase AS fp_hash
       |  FROM fpsel
       |)""".stripMargin

  /** Oracle for [[docSummary]]. */
  val docSummaryOracleSql: String = fingerprintSqlCtes +
    s"""
       |, agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
       |    md5(string_agg(CAST(fp_hash AS VARCHAR), ',' ORDER BY fp_pos)) AS fp_digest
       |  FROM fp GROUP BY doc_id
       |), base AS (
       |  SELECT doc_id,
       |    CAST(greatest(len(text) - ${K - 1}, 0) AS BIGINT) AS n_grams
       |  FROM documents
       |)
       |SELECT b.doc_id, b.n_grams,
       |  greatest(b.n_grams - ${W - 1}, 0) AS n_windows,
       |  COALESCE(a.n_fingerprints, 0) AS n_fingerprints,
       |  CAST(COALESCE(a.n_fingerprints, 0) AS DOUBLE)
       |    / CASE WHEN greatest(b.n_grams - ${W - 1}, 0) > 0
       |           THEN CAST(greatest(b.n_grams - ${W - 1}, 0) AS DOUBLE) END
       |    AS fp_density,
       |  a.fp_digest
       |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id""".stripMargin

  /** Oracle for [[candidatePairs]] at the default governor; `deltaWhere`
    * (a SQL predicate over a.doc_id/b.doc_id) restricts to delta-touching
    * pairs for the [[incrementalPairs]] contract. */
  def candidatePairsOracleSql(minShared: Int = 8, maxBucket: Int = 16,
                              deltaWhere: String = "true"): String =
    fingerprintSqlCtes +
      s"""
         |, fpd AS (
         |  SELECT DISTINCT doc_id, fp_hash FROM fp
         |), hot AS (
         |  SELECT fp_hash FROM fpd GROUP BY fp_hash HAVING count(*) > $maxBucket
         |), cool AS (
         |  SELECT * FROM fpd WHERE fp_hash NOT IN (SELECT fp_hash FROM hot)
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS shared_fingerprints
         |FROM cool a JOIN cool b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
         |WHERE $deltaWhere
         |GROUP BY 1, 2 HAVING count(*) >= $minShared
         |ORDER BY doc_a, doc_b""".stripMargin
}
