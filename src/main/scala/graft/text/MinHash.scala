package graft.text

import graft.util.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection.
  *
  * Pipeline: word 3-gram shingles → k=16 min-hashes (min over md5(seed|s))
  * → 4 bands of 4 → band-bucket self-join → candidate pairs → exact
  * n-gram Jaccard verification on candidates only.
  *
  * Scale shape: signatures are linear per document (shingling is a
  * projection, no shuffle); banding turns the O(n²) all-pairs problem into
  * per-bucket joins — the self-join shuffles 4 small (band_hash, doc_id)
  * rows per document, never the text. Exact Jaccard runs only on LSH
  * survivors. md5-based hashing keeps every stage reproducible across
  * engines and runs (no seed state).
  */
object MinHash {

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands

  private def wordsCol: Column = split(col("text"), " ")

  /** Word 3-gram shingles (degenerates to the full text when < 3 words). */
  def shingles(text: Column): Column =
    expr("transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), " +
      "j -> concat_ws(' ', slice(split(text, ' '), j, 3)))")

  /** Mersenne-prime modulus for the integer permutation family. */
  val M: Long = 2147483647L

  /** Multiplier/offset per hash function: h_i(x) = (x·p_i + c_i) mod M.
    * One md5 per shingle feeds all k permutations — 16× fewer digest
    * calls than hashing (seed,shingle) pairs, same minhash guarantees. */
  val Perms: Seq[(Long, Long)] =
    (0 until NumHashes).map(i => (1000003L + 2L * i, 12289L * (i + 1)))

  /** Base 60-bit shingle hash (md5 hex prefix), reduced mod M — portable
    * to the oracle engine via hex casting. */
  private val BaseHashExpr =
    "transform(sh, s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % 2147483647)"

  /** doc_id + sigs array<long>[k] — the compact form every downstream
    * stage uses (one column through shuffles, small codegen). */
  def signaturesArr(documents: DataFrame): DataFrame = {
    val withHashes = documents
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .select(col("doc_id"), expr(BaseHashExpr).as("hs"))
    val sigArray = array(Perms.map { case (p, c) =>
      expr(s"array_min(transform(hs, h -> (h * $p + $c) % $M))")
    }: _*)
    withHashes.select(col("doc_id"), sigArray.as("sigs"))
  }

  /** doc_id + sig_0..sig_{k-1} minhash signature columns (bigint). */
  def signatures(documents: DataFrame): DataFrame =
    signaturesArr(documents).select(
      col("doc_id") +: (0 until NumHashes).map(i => col("sigs")(i).as(s"sig_$i")): _*)

  /** (doc_id, band_idx, band_hash) — one row per band, via a single
    * explode so the signature subtree is computed ONCE (a per-band union
    * would replicate the whole shingle+minhash computation Bands times). */
  def bands(sigs: DataFrame): DataFrame =
    bandsCarryingSigs(sigs).select("doc_id", "band_idx", "band_hash")

  /** Band rows that also carry the signature array (lets the LSH
    * self-join estimate Jaccard without re-joining signatures). Input must
    * have a `sigs` array column (signaturesArr). */
  private def bandsCarryingSigs(sigsArr: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val hash = md5(array_join(
        transform(slice(col("sigs"), b * RowsPerBand + 1, RowsPerBand),
          x => x.cast("string")), "|"))
      struct(lit(b.toLong).as("band_idx"), hash.as("band_hash"))
    }
    sigsArr.withColumn("b", explode(array(bandStructs: _*)))
      .withColumn("band_idx", col("b.band_idx"))
      .withColumn("band_hash", col("b.band_hash"))
      .drop("b")
  }

  /** Candidate near-dup pairs: docs sharing any band bucket, governed by
    * the same `maxBucket` hot-bucket cap as [[nearDupPairsWithSizes]] (and
    * as the oracle CTEs this object generates): an ungoverned boilerplate
    * band bucket of m docs would emit m² pairs — the exact quadratic the
    * governor exists to kill at 100 TB. The HOT set (buckets over the cap)
    * is what is small — bounded by corpus/maxBucket — so it broadcasts
    * into a left-anti join; the kept band rows stay distributed. */
  def candidatePairs(documents: DataFrame,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val b = bands(signaturesArr(documents))
    val hot = b.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > maxBucket)
      .select("band_idx", "band_hash")
    val cool = b.join(broadcast(hot), Seq("band_idx", "band_hash"), "left_anti")
    val l = cool.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val r = cool.select(col("band_idx").as("r_band_idx"), col("band_hash").as("r_band_hash"),
      col("doc_id").as("doc_b"))
    l.join(r, col("band_idx") === col("r_band_idx") &&
        col("band_hash") === col("r_band_hash") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact shingle-Jaccard over bounded same-lang pairs (doc_id < maxDocId)
    * — the standalone n-gram Jaccard operator, bounded blocking keeps the
    * pair count constant per lang at any corpus size. */
  def exactJaccardPairs(documents: DataFrame, maxDocId: Long = 40): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val d = documents.filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), col("lang"),
        array_sort(array_distinct(shingles(col("text")))).as("sh"))
    val a = d.select(col("doc_id").as("doc_a"), col("lang"), col("sh").as("sha"))
    val b = d.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"), col("sh").as("shb"))
    a.join(b, col("lang") === col("lang_b") && col("doc_a") < col("doc_b"))
      .withColumn("inter_size", expr("sorted_intersect_count(sha, shb)"))
      .withColumn("union_size",
        size(col("sha")).cast("long") + size(col("shb")).cast("long") - col("inter_size"))
      .withColumn("jaccard", col("inter_size").cast("double") / col("union_size"))
      .select("doc_a", "doc_b", "lang", "inter_size", "union_size", "jaccard")
  }

  // ---- DuckDB oracle builders (generated from the same constants so the
  //      oracle can never drift from the Spark implementation) ----

  /** Shingle list in DuckDB list-function form. */
  val ShinglesSqlCte: String =
    """WITH sh AS (
      |  SELECT doc_id, lang,
      |    list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
      |      j -> array_to_string(string_split(text, ' ')[j:j+2], ' ')) AS sh
      |  FROM documents
      |)""".stripMargin

  private val BaseHashSqlCte =
    """, hsx AS (
      |  SELECT doc_id,
      |    list_transform(sh, s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
      |  FROM sh
      |)""".stripMargin

  private def sigExpr(i: Int): String = {
    val (p, c) = Perms(i)
    s"list_aggregate(list_transform(hs, h -> (h * $p + $c) % $M), 'min') AS sig_$i"
  }

  /** Oracle for `signatures`. */
  def signaturesOracleSql: String =
    ShinglesSqlCte + BaseHashSqlCte +
      s"""
         |SELECT doc_id, ${(0 until NumHashes).map(sigExpr).mkString(",\n  ")}
         |FROM hsx ORDER BY doc_id""".stripMargin

  /** CTE chain ending in `pairs(doc_a, doc_b)` — the LSH candidate set,
    * shared by the near-dup and cluster oracles. Mirrors the Spark-side
    * bucket-size governor (generated from the same DefaultMaxBucket
    * constant), so oracle parity holds even when a corpus has a hot
    * boilerplate bucket. */
  def candidatePairsSqlCtes: String = candidatePairsSqlCtesAt(DefaultMaxBucket)

  /** [[candidatePairsSqlCtes]] at an explicit governor cap — lets specs
    * force a `maxBucket` small enough that the governor BINDS and still
    * compare Spark against a same-constant oracle. */
  def candidatePairsSqlCtesAt(maxBucket: Int): String = {
    val sigList = (0 until NumHashes).map(sigExpr).mkString(",\n    ")
    val bandSelects = (0 until Bands).map { bnd =>
      val cols = (bnd * RowsPerBand until (bnd + 1) * RowsPerBand)
        .map(i => s"CAST(sig_$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, CAST($bnd AS BIGINT) AS band_idx, md5($cols) AS band_hash FROM sig"
    }.mkString("\n    UNION ALL ")
    ShinglesSqlCte + BaseHashSqlCte +
      s"""
         |, sig AS (
         |  SELECT doc_id, $sigList
         |  FROM hsx
         |), band_all AS (
         |    $bandSelects
         |), hot AS (
         |  SELECT band_idx, band_hash FROM band_all
         |  GROUP BY band_idx, band_hash HAVING count(*) > $maxBucket
         |), band AS (
         |  SELECT ba.* FROM band_all ba
         |  WHERE NOT EXISTS (SELECT 1 FROM hot h
         |    WHERE h.band_idx = ba.band_idx AND h.band_hash = ba.band_hash)
         |), pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b ON a.band_idx = b.band_idx
         |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |)""".stripMargin
  }

  /** Oracle for `nearDupPairs`. */
  def nearDupOracleSql: String = {
    val agreement = (0 until NumHashes)
      .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    candidatePairsSqlCtes +
      s"""
         |, est AS (
         |  SELECT doc_a, doc_b,
         |    CAST($agreement AS DOUBLE) / CAST(${NumHashes}.0 AS DOUBLE) AS est_jaccard
         |  FROM pairs JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |), voc AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS vocab FROM documents
         |), jac AS (
         |  SELECT e.doc_a, e.doc_b, e.est_jaccard,
         |    CAST(len(list_filter(va.vocab, t -> list_contains(vb.vocab, t))) AS BIGINT) AS inter_size,
         |    CAST(len(va.vocab) AS BIGINT) AS na, CAST(len(vb.vocab) AS BIGINT) AS nb
         |  FROM est e JOIN voc va ON e.doc_a = va.doc_id JOIN voc vb ON e.doc_b = vb.doc_id
         |)
         |SELECT doc_a, doc_b, est_jaccard, inter_size,
         |  na + nb - inter_size AS union_size,
         |  CAST(inter_size AS DOUBLE) / (na + nb - inter_size) AS exact_jaccard
         |FROM jac ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Asymmetric containment classification on the LSH candidate pairs:
    * Jaccard misses subset relations (a doc quoting another wholesale has
    * low Jaccard when sizes differ), so each pair additionally carries
    * per-side containment |A∩B|/|A| and |A∩B|/|B| and a relation class —
    * `duplicate` (high Jaccard), `a_in_b`/`b_in_a` (one side ≥
    * containFrac inside the other), `overlap` otherwise. The
    * quote/expansion detector of RETSim/Dolma-style dedup, on the same
    * governed candidate set (never all-pairs). All values are IEEE
    * divisions of exact integer set sizes → hash-exact. */
  def containmentPairs(documents: DataFrame, dupJaccard: Double = 0.9,
                       containFrac: Double = 0.9): DataFrame = {
    // na/nb ride the pair rows from nearDupPairsWithSizes — no second
    // corpus tokenize pass and no extra pair-grain joins
    val ca = col("inter_size").cast("double") / col("na").cast("double")
    val cb = col("inter_size").cast("double") / col("nb").cast("double")
    nearDupPairsWithSizes(documents)
      .select(col("doc_a"), col("doc_b"), col("inter_size"),
        col("na"), col("nb"), col("exact_jaccard"),
        ca.as("contain_a"), cb.as("contain_b"),
        when(col("exact_jaccard") >= dupJaccard, lit("duplicate"))
          .when(ca >= containFrac && ca >= cb, lit("a_in_b"))
          .when(cb >= containFrac, lit("b_in_a"))
          .otherwise(lit("overlap")).as("relation"))
  }

  /** DuckDB mirror of [[containmentPairs]]. */
  def containmentOracleSql(dupJaccard: Double = 0.9,
                           containFrac: Double = 0.9): String = {
    val agreement = (0 until NumHashes)
      .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    candidatePairsSqlCtes +
      s"""
         |, est AS (
         |  SELECT doc_a, doc_b,
         |    CAST($agreement AS DOUBLE) / CAST(${NumHashes}.0 AS DOUBLE) AS est_jaccard
         |  FROM pairs JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |), voc AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS vocab FROM documents
         |), jac AS (
         |  SELECT e.doc_a, e.doc_b,
         |    CAST(len(list_filter(va.vocab, t -> list_contains(vb.vocab, t))) AS BIGINT) AS inter_size,
         |    CAST(len(va.vocab) AS BIGINT) AS na, CAST(len(vb.vocab) AS BIGINT) AS nb
         |  FROM est e JOIN voc va ON e.doc_a = va.doc_id JOIN voc vb ON e.doc_b = vb.doc_id
         |), c AS (
         |  SELECT doc_a, doc_b, inter_size, na, nb,
         |    CAST(inter_size AS DOUBLE) / (na + nb - inter_size) AS exact_jaccard,
         |    CAST(inter_size AS DOUBLE) / CAST(na AS DOUBLE) AS contain_a,
         |    CAST(inter_size AS DOUBLE) / CAST(nb AS DOUBLE) AS contain_b
         |  FROM jac
         |)
         |SELECT doc_a, doc_b, inter_size, na, nb, exact_jaccard,
         |  contain_a, contain_b,
         |  CASE WHEN exact_jaccard >= $dupJaccard THEN 'duplicate'
         |       WHEN contain_a >= $containFrac AND contain_a >= contain_b THEN 'a_in_b'
         |       WHEN contain_b >= $containFrac THEN 'b_in_a'
         |       ELSE 'overlap' END AS relation
         |FROM c ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Oracle for `exactJaccardPairs`. */
  def exactJaccardOracleSql(maxDocId: Long = 40): String =
    ShinglesSqlCte.replace("FROM documents", s"FROM documents WHERE doc_id < $maxDocId") +
      s"""
         |, d AS (SELECT doc_id, lang, list_distinct(sh) AS sh FROM sh)
         |, j AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
         |    CAST(len(list_filter(a.sh, t -> list_contains(b.sh, t))) AS BIGINT) AS inter_size,
         |    CAST(len(a.sh) AS BIGINT) AS na, CAST(len(b.sh) AS BIGINT) AS nb
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, lang, inter_size, na + nb - inter_size AS union_size,
         |  CAST(inter_size AS DOUBLE) / (na + nb - inter_size) AS jaccard
         |FROM j ORDER BY doc_a, doc_b""".stripMargin

  /** Detector-eval thresholds, spelled as exact literals in both engines. */
  val EvalThresholds: Seq[String] = Seq("0.3", "0.5", "0.7", "0.8", "0.9")

  /** Posting-list cap for the eval's truth index: shingles appearing in
    * more documents than this are dropped from truth-pair generation (the
    * boilerplate-governor reasoning of [[DefaultMaxBucket]] — a ubiquitous
    * shingle generates quadratic pairs and carries no similarity signal). */
  val EvalMaxPostings = 1000

  /** Quality evaluation of the banded-LSH near-dup detector against exact
    * shingle-Jaccard ground truth — the harness that answers "is the
    * detector good enough to gate dedup at this corpus" IN-ENGINE instead
    * of by offline spot checks. Truth pairs come from a shared-shingle
    * INVERTED-INDEX join (complete for every threshold > 0: a pair with
    * positive Jaccard shares a shingle by definition), capped at
    * [[EvalMaxPostings]] docs per shingle; each truth candidate gets its
    * exact Jaccard via the O(n+m) sorted intersection. Detected = the
    * governed LSH candidate set with signature-agreement estimate ≥ t.
    * A detected pair outside the truth set has exact Jaccard 0 by
    * construction and coalesces to 0 through the full-outer join, so
    * false positives are counted, not dropped. TP/FP/FN are exact integer
    * counts; precision/recall/F1 are one IEEE division each (NULL when
    * undefined), so the whole frame is hash-exact vs DuckDB.
    *
    * Scale shape: the detector side is the governed candidate join the
    * near-dup pipeline already runs; the truth side is a shingle-grain
    * inverted-index self-join behind the posting cap (the same quadratic
    * governor as every other pair generator here); the threshold sweep
    * broadcasts |thresholds| literal rows over the pair-grain frame. */
  def detectorEval(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    // Detector side FIRST: nearDupPairsWithSizes releases this object's
    // cached frames at its start, which would evict the sh persist below
    // if it ran after it.
    val detected = nearDupPairsWithSizes(documents)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    // The sorted-distinct shingle arrays are pure per-doc CPU (tokenize +
    // distinct + sort) recomputed by every consumer (the inverted truth
    // index and both sides of the exact-verify join): persist once, held
    // as long as the banded signatures.
    val sh = CacheRegistry.persist(MinHash, documents.select(col("doc_id"), col("lang"),
      array_sort(array_distinct(shingles(col("text")))).as("sh")))
    val inv = sh.select(col("doc_id"), col("lang"), explode(col("sh")).as("shingle"))
    val hot = inv.groupBy("shingle").agg(count(lit(1)).as("n"))
      .filter(col("n") > EvalMaxPostings).select("shingle")
    val cool = inv.join(broadcast(hot), Seq("shingle"), "left_anti")
    val truthPairs = cool.select(col("shingle"), col("lang"), col("doc_id").as("doc_a"))
      .join(cool.select(col("shingle"), col("lang").as("lang_b"),
        col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("lang") === col("lang_b") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val exact = truthPairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("inter_size", expr("sorted_intersect_count(sha, shb)"))
      .withColumn("jaccard", col("inter_size").cast("double") /
        (size(col("sha")).cast("long") + size(col("shb")).cast("long")
          - col("inter_size")))
      .select("doc_a", "doc_b", "jaccard")

    val thresholds = documents.sparkSession.range(1)
      .select(explode(expr(
        s"array(${EvalThresholds.map(t => s"CAST($t AS DOUBLE)").mkString(", ")})"))
        .as("threshold"))
    exact
      .join(detected, Seq("doc_a", "doc_b"), "full_outer")
      .crossJoin(broadcast(thresholds))
      .withColumn("truth", coalesce(col("jaccard"), lit(0.0)) >= col("threshold"))
      .withColumn("det",
        col("est_jaccard").isNotNull && col("est_jaccard") >= col("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("truth"), 1L).otherwise(0L)).as("truth_pairs"),
        sum(when(col("det"), 1L).otherwise(0L)).as("detected_pairs"),
        sum(when(col("truth") && col("det"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("truth") && col("det"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("truth") && !col("det"), 1L).otherwise(0L)).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
      .withColumn("f1",
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise((lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
  }

  /** DuckDB mirror of [[detectorEval]] — rides [[candidatePairsSqlCtes]]
    * (governor included) and the same truth-index chain, so the oracle
    * can never drift from the detector it grades. */
  def detectorEvalOracleSql(): String = {
    val agreement = (0 until NumHashes)
      .map(i => s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val thresholdList = EvalThresholds.map(t => s"CAST($t AS DOUBLE)").mkString(", ")
    candidatePairsSqlCtes +
      s"""
         |, est AS (
         |  SELECT doc_a, doc_b,
         |    CAST($agreement AS DOUBLE) / CAST(${NumHashes}.0 AS DOUBLE) AS est_jaccard
         |  FROM pairs JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
         |), d AS (
         |  SELECT doc_id, lang, list_distinct(sh) AS shd FROM sh
         |), inv AS (
         |  SELECT doc_id, lang, unnest(shd) AS shingle FROM d
         |), hot_sh AS (
         |  SELECT shingle FROM inv GROUP BY shingle
         |  HAVING count(*) > $EvalMaxPostings
         |), cool AS (
         |  SELECT i.* FROM inv i
         |  WHERE NOT EXISTS (SELECT 1 FROM hot_sh h WHERE h.shingle = i.shingle)
         |), tp_pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cool a JOIN cool b ON a.shingle = b.shingle
         |    AND a.lang = b.lang AND a.doc_id < b.doc_id
         |), exact AS (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(list_filter(da.shd, t -> list_contains(db.shd, t))) AS DOUBLE)
         |      / (len(da.shd) + len(db.shd)
         |         - len(list_filter(da.shd, t -> list_contains(db.shd, t)))) AS jaccard
         |  FROM tp_pairs p
         |  JOIN d da ON p.doc_a = da.doc_id
         |  JOIN d db ON p.doc_b = db.doc_id
         |), ev AS (
         |  SELECT COALESCE(x.jaccard, CAST(0.0 AS DOUBLE)) AS jaccard, e.est_jaccard
         |  FROM exact x FULL OUTER JOIN est e
         |    ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
         |), th AS (SELECT unnest([$thresholdList]) AS threshold
         |), flagged AS (
         |  SELECT threshold, (jaccard >= threshold) AS truth,
         |    (est_jaccard IS NOT NULL AND est_jaccard >= threshold) AS det
         |  FROM ev CROSS JOIN th
         |), cnt AS (
         |  SELECT threshold,
         |    CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS truth_pairs,
         |    CAST(sum(CASE WHEN det THEN 1 ELSE 0 END) AS BIGINT) AS detected_pairs,
         |    CAST(sum(CASE WHEN truth AND det THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN NOT truth AND det THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN truth AND NOT det THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM flagged GROUP BY threshold
         |)
         |SELECT threshold, truth_pairs, detected_pairs, tp, fp, fn,
         |  CASE WHEN tp + fp = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
         |  CASE WHEN tp + fn = 0 THEN NULL
         |       ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |       ELSE CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
         |FROM cnt ORDER BY threshold""".stripMargin
  }

  /** Band buckets larger than this are dropped from the pair join: a
    * degenerate bucket (boilerplate text hashing identically for millions
    * of docs) is quadratic in its size regardless of banding. Dropped
    * buckets are logged; their members are by construction mutual
    * near-dups of a huge cluster — at 100 TB those are handled by exact
    * dedup on the text hash, not by pairwise enumeration. */
  val DefaultMaxBucket = 1000


  // ---- incremental band-store maintenance --------------------------------
  // The text-dedup analog of the ANN encoded store (sim/AnnIndex): minhash
  // band rows are a pure per-document function (no corpus dependence), so
  // the banded corpus can materialize ONCE and new documents append WITHOUT
  // touching existing rows — the nightly-append operating mode where
  // re-sketching a 100 TB corpus per batch is not an option. The delta
  // probe joins only the NEW docs' band rows against the store, so its
  // cost scales with |delta| × bucket occupancy, not corpus².

  /** Materialize the banded signature store for a corpus. */
  def buildBandStore(documents: DataFrame, path: String): Unit =
    bands(signaturesArr(documents))
      .write.mode("overwrite").parquet(path)

  /** Append new documents' band rows (per-doc computation — existing rows
    * are untouched, identical to what a from-scratch build would write). */
  def appendBandStore(newDocs: DataFrame, path: String): Unit =
    bands(signaturesArr(newDocs))
      .write.mode("append").parquet(path)

  /** IDEMPOTENT keyed append for at-least-once writers (streaming
    * foreachBatch): band rows land in an OVERWRITTEN `batch_<id>`
    * subdirectory, so a replayed micro-batch rewrites its own slice —
    * a plain re-append would duplicate band rows, inflate bucket sizes
    * past the governor, and silently drop healthy buckets from the
    * pair join. */
  def writeBandBatch(newDocs: DataFrame, path: String, batchId: Long): Unit =
    bands(signaturesArr(newDocs))
      .write.mode("overwrite").parquet(s"$path/batch_$batchId")

  /** Candidate near-dup pairs INVOLVING documents matching `newPred`,
    * computed from the band store alone: bucket-size governor over the
    * full store (exactly the full-run hot-bucket rule, so incremental and
    * from-scratch runs drop the same buckets), then new-side band rows
    * join the cooled store. Output ≡ the full-corpus capped pair set
    * restricted to pairs touching the delta — the property the oracle and
    * spec pin. */
  def incrementalNearDups(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          newPred: Column,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // recursive lookup: flat appends and keyed batch subdirectories read
    // as one store
    val store = spark.read.option("recursiveFileLookup", "true").parquet(path)
    val hot = store.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > maxBucket)
      .select("band_idx", "band_hash")
    val cool = store.join(broadcast(hot), Seq("band_idx", "band_hash"), "left_anti")
    val newRows = cool.filter(newPred)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("n_id"))
    newRows
      .join(cool.select(col("band_idx"), col("band_hash"), col("doc_id").as("o_id")),
        Seq("band_idx", "band_hash"))
      .filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("doc_a"),
        greatest(col("n_id"), col("o_id")).as("doc_b"))
      .distinct()
  }

  /** Candidates + estimated (signature agreement) and exact n-gram Jaccard.
    * Exact set ops run only on LSH candidates.
    *
    * NOT a lazy builder: the bucket-size governor runs a Spark job at call
    * time (count per band bucket, doubling as the cache warm-up) and logs
    * any dropped hot buckets to stderr, before the caller executes the
    * returned frame. Each call releases the previous call's banded
    * signatures (bounding cache growth in a long-lived session), so
    * execute a result before the next call or it loses its cache. */
  def nearDupPairs(documents: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame =
    nearDupPairsWithSizes(documents, maxBucket).drop("na", "nb")

  /** [[nearDupPairs]] plus each side's distinct-vocab size (na, nb) —
    * the containment surface reads these without re-tokenizing the
    * corpus or re-joining pair-grain frames. */
  def nearDupPairsWithSizes(documents: DataFrame,
                            maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Banded signatures are cached: the self-join references the subtree
    // twice and the shingle+md5 computation is the dominant cost — the
    // cached table is only (doc_id, sigs[16], band cols) per band row.
    CacheRegistry.release(MinHash)
    val bandedAll = CacheRegistry.persist(MinHash,
      bandsCarryingSigs(signaturesArr(documents)))
    // Bucket-size governor: count members per band bucket, keep only
    // bounded buckets. The count also warms the cache, so the diagnostic
    // is not an extra pass over the expensive subtree.
    val sizes = bandedAll.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("_bsz"))
    val hot = sizes.filter(col("_bsz") > maxBucket)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
        coalesce(sum(col("_bsz")), lit(0L)).as("rows"))
      .collect()(0)
    if (hot.getLong(0) > 0)
      System.err.println(s"[graft] nearDupPairs: dropped ${hot.getLong(0)} band " +
        s"buckets over $maxBucket docs (${hot.getLong(1)} member rows) from pair join")
    // The HOT set is what is small (bounded by corpus/maxBucket) — anti-join
    // against it broadcast, rather than materializing the huge kept set.
    val banded = bandedAll.join(
      broadcast(sizes.filter(col("_bsz") > maxBucket).select("band_idx", "band_hash")),
      Seq("band_idx", "band_hash"), "left_anti")
    val sigAgreement =
      expr(s"aggregate(zip_with(a.sigs, b.sigs, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
        .cast("double") / lit(NumHashes.toDouble)
    // sorted ONCE per document so the per-pair exact intersection is the
    // native O(n+m) two-pointer merge (sorted_intersect_count), not an
    // O(n·m) HOF scan
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val docsW = documents.select(col("doc_id"),
      array_sort(array_distinct(wordsCol)).as("vocab"))

    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        sigAgreement.as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b"))   // a pair can match in several bands
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .join(docsW.select(col("doc_id").as("doc_a"), col("vocab").as("va")), "doc_a")
      .join(docsW.select(col("doc_id").as("doc_b"), col("vocab").as("vb")), "doc_b")
      .withColumn("inter_size", expr("sorted_intersect_count(va, vb)"))
      .withColumn("na", size(col("va")).cast("long"))
      .withColumn("nb", size(col("vb")).cast("long"))
      .withColumn("union_size", col("na") + col("nb") - col("inter_size"))
      .withColumn("exact_jaccard",
        col("inter_size").cast("double") / col("union_size"))
      .select("doc_a", "doc_b", "est_jaccard", "inter_size", "union_size",
        "exact_jaccard", "na", "nb")
  }

  /** Split-leakage audit: every LSH near-dup candidate pair labeled with
    * its endpoints' naive per-document train/val/test assignment and
    * whether the pair CROSSES a split boundary. A crossing pair is
    * train→eval leakage — the eval doc has a near-duplicate in train, so
    * eval metrics are inflated. This query QUANTIFIES the leakage a naive
    * hash split incurs; `q_split_leakage_free` (cluster-keyed split) is
    * the fix, and by construction assigns both endpoints of every such
    * pair to the same split (candidate pairs are intra-cluster edges).
    *
    * Scale: the pair set is the governed LSH candidate set (never
    * all-pairs); splits are a pure row-local hash; the two
    * endpoint-split joins are shuffle equi-joins at pair grain. */
  def splitLeakageAudit(documents: DataFrame, trainBp: Int = 8000,
                        valBp: Int = 1000): DataFrame = {
    val pairs = nearDupPairs(documents).select(col("doc_a"), col("doc_b"))
    val splits = graft.operators.Sampling.hashSplit(
        documents.select(col("doc_id")), col("doc_id"), trainBp, valBp)
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("crosses_split"))
  }

  /** DuckDB mirror of [[splitLeakageAudit]]: the candidate-pair CTEs + the
    * md5 basis-point split of `q_data_split`. */
  def splitLeakageOracleSql(trainBp: Int = 8000, valBp: Int = 1000): String = {
    val bp = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000"
    candidatePairsSqlCtes +
      s"""
         |, sp AS (
         |  SELECT doc_id,
         |    CASE WHEN $bp < $trainBp THEN 'train'
         |         WHEN $bp < ${trainBp + valBp} THEN 'validation'
         |         ELSE 'test' END AS split
         |  FROM documents
         |)
         |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
         |  sa.split <> sb.split AS crosses_split
         |FROM pairs p
         |JOIN sp sa ON p.doc_a = sa.doc_id
         |JOIN sp sb ON p.doc_b = sb.doc_id
         |ORDER BY p.doc_a, p.doc_b""".stripMargin
  }
}
