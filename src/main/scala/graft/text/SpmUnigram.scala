package graft.text

import graft.util.Lineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (the SentencePiece family — Kudo 2018,
  * "Subword Regularization: Improving Neural Network Translation Models
  * with Multiple Subword Candidates") — the second mainstream subword
  * trainer next to [[Bpe]]. Where BPE grows pieces bottom-up by merge
  * rank, the unigram model starts from a LARGE seed vocabulary of
  * candidate pieces and prunes it by expectation-maximization under a
  * unigram language model: piece probabilities re-estimated from the
  * corpus' best segmentations, low-value pieces dropped, repeat.
  *
  * Deterministic variant: the E-step uses VITERBI (hard-EM) counts — each
  * word contributes its single best segmentation, so expected counts are
  * INTEGER freq sums. Integer addition is associative, which is what makes
  * the distributed and driver training paths bit-for-bit equal (the same
  * cross-path parity contract as [[Bpe.trainMerges]]) and training
  * invariant under repartitioning. Soft-EM's fractional counts would make
  * both properties float-summation-order-dependent. Pruning keeps every
  * seen character (floored at count 1 so coverage never breaks) plus the
  * top multi-char pieces by (count desc, piece UTF-8 asc) — a documented
  * simplification of SentencePiece's loss-ranked prune.
  *
  * Training scale shape (mirrors Bpe): the corpus collapses ONCE into the
  * zipf-bounded (word, freq) table; seeding is one substring-explode over
  * that table with a map-side-combined integer sum at piece grain and a
  * distributed top-k cut; each EM iteration is one map-only Viterbi pass
  * over the word table (piece table broadcast, KBs) plus one piece-grain
  * integer-sum shuffle whose result is ≤ |table| rows. Vocabularies at or
  * under [[Bpe.DriverVocabRowBudget]] run the identical loop driver-side
  * (the standard single-node trainer shape). Encoding is map-only with a
  * per-partition word→pieces memo, exactly like BPE encode.
  *
  * Word convention: the corpus is space-tokenized, so pieces live INSIDE
  * words and a word's pieces concatenate back to it exactly (round-trip
  * by word-grain concat; no SentencePiece ▁ boundary marker is needed
  * because the word boundary is the split contract).
  */
object SpmUnigram {

  /** Longest candidate piece (SentencePiece's max_sentencepiece_length
    * default region). */
  val DefaultMaxPieceLen = 6

  /** Trained piece table: (piece, count) in (count desc, piece asc) order;
    * probabilities are count / total. */
  type Pieces = Seq[(String, Long)]

  // ---- training -------------------------------------------------------------

  /** Train a piece table of (at most) `vocabSize` pieces with `emIters`
    * Viterbi-EM rounds over a seed of `seedMultiplier × vocabSize`
    * candidate substrings. */
  def train(documents: DataFrame, vocabSize: Int = 512, emIters: Int = 4,
            maxPieceLen: Int = DefaultMaxPieceLen, seedMultiplier: Int = 4,
            driverRowBudget: Long = Bpe.DriverVocabRowBudget): Pieces = {
    val spark = documents.sparkSession
    import spark.implicits._

    val words = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .localCheckpoint()

    // ---- seed: every substring up to maxPieceLen, freq-weighted --------
    val seedSize = vocabSize * seedMultiplier
    val subCounts = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(maxPieceLen, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("piece", "f")
      .groupBy("piece").agg(sum(col("f")).as("cnt"))
    // every seen char is kept unconditionally (coverage); multi-char
    // candidates take the remaining seed slots by weight
    val chars = subCounts.filter(length(col("piece")) === 1)
      .as[(String, Long)].collect().sortBy(_._1)
    val multi = subCounts.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(math.max(seedSize - chars.length, 0))
      .as[(String, Long)].collect()
    var table: Array[(String, Long)] = sortTable(chars ++ multi)

    // ---- EM: Viterbi counts → integer re-estimate → prune --------------
    val useDriver = words.count() <= driverRowBudget
    val localWords: Array[(String, Long)] = if (useDriver) words.collect() else Array.empty

    (1 to emIters).foreach { _ =>
      val counts: Array[(String, Long)] =
        if (useDriver) {
          val lp = logpMap(table)
          val acc = scala.collection.mutable.HashMap.empty[String, Long]
          localWords.foreach { case (w, f) =>
            viterbi(w, lp, maxPieceLen).foreach(p =>
              acc.update(p, acc.getOrElse(p, 0L) + f))
          }
          acc.toArray
        } else {
          val bc = spark.sparkContext.broadcast(logpMap(table))
          val mpl = maxPieceLen
          words.flatMap { case (w, f) =>
            viterbi(w, bc.value, mpl).iterator.map(p => (p, f))
          }.toDF("piece", "f")
            .groupBy("piece").agg(sum(col("f")).as("cnt"))
            .as[(String, Long)].collect()
        }
      table = prune(counts, chars.map(_._1), vocabSize)
    }
    Lineage.release(words)
    table.toSeq
  }

  /** Keep every corpus character (count floored at 1 — an unused char
    * stays encodable) plus the top multi-char pieces by
    * (count desc, piece asc) up to `vocabSize`. */
  private def prune(counts: Array[(String, Long)], charInventory: Array[String],
                    vocabSize: Int): Array[(String, Long)] = {
    val byPiece = counts.toMap
    val charRows = charInventory.map(c => c -> math.max(byPiece.getOrElse(c, 0L), 1L))
    val multiRows = counts.filter { case (p, c) => p.length > 1 && c > 0L }
    val keptMulti = sortTable(multiRows)
      .take(math.max(vocabSize - charRows.length, 0))
    sortTable(charRows ++ keptMulti)
  }

  /** Canonical table order: count desc, then piece in UTF-8 byte order —
    * the same tie-break contract as the BPE argmax, so both engines and
    * both training paths sort identically. */
  private def sortTable(rows: Array[(String, Long)]): Array[(String, Long)] =
    rows.sortWith { case ((pa, ca), (pb, cb)) =>
      if (ca != cb) ca > cb else utf8Compare(pa, pb) < 0
    }

  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** log p(piece) = ln(count) − ln(total). Computed the same way on every
    * path (one IEEE log per entry over the same integers), so Viterbi
    * scores are bit-identical across driver/distributed/reload encodes. */
  private[text] def logpMap(table: Array[(String, Long)]): Map[String, Double] = {
    val total = table.map(_._2).sum
    val lnTotal = math.log(total.toDouble)
    table.map { case (p, c) => p -> (math.log(c.toDouble) - lnTotal) }.toMap
  }

  /** Best segmentation of one word under the current piece table —
    * classic lattice Viterbi, O(|word| × maxPieceLen) per word.
    * Deterministic tie-break on equal score: prefer the LONGER final
    * piece (fewer segments). Unknown single characters (possible only
    * when encoding text the table never saw) fall back to a below-floor
    * score ln(0.5) − ln-scale so they segment as themselves without
    * breaking the lattice. */
  private[text] def viterbi(word: String, logp: Map[String, Double],
                            maxPieceLen: Int): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val unkPenalty = math.log(0.5) + logp.values.foldLeft(0.0)((m, v) => math.min(m, v))
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val backLen = new Array[Int](n + 1)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var l = 1
      val lMax = math.min(maxPieceLen, j)
      while (l <= lMax) {
        if (best(j - l) != Double.NegativeInfinity) {
          val piece = word.substring(j - l, j)
          val lp = logp.get(piece) match {
            case Some(v) => v
            case None => if (l == 1) unkPenalty else Double.NegativeInfinity
          }
          if (lp != Double.NegativeInfinity) {
            val cand = best(j - l) + lp
            if (cand > best(j) || (cand == best(j) && l > backLen(j))) {
              best(j) = cand
              backLen(j) = l
            }
          }
        }
        l += 1
      }
      j += 1
    }
    // reconstruct
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var k = n
    while (k > 0) {
      val l = backLen(k)
      out += word.substring(k - l, k)
      k -= l
    }
    out.reverseIterator.toArray
  }

  // ---- encoding -------------------------------------------------------------

  /** (doc_id, tokens) under a trained piece table — map-only with a
    * per-partition word→pieces memo, the [[Bpe.encode]] shape. */
  def encode(documents: DataFrame, pieces: Pieces,
             maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(logpMap(pieces.toArray))
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        val lp = bc.value
        it.map { case (id, text) =>
          val toks = text.split(" ").iterator.filter(_.nonEmpty)
            .flatMap(w => memo.getOrElseUpdate(w, viterbi(w, lp, maxPieceLen)))
            .toArray
          (id, toks)
        }
      }
      .toDF("doc_id", "tokens")
  }

  /** Per-document subword accounting under a corpus-trained piece table:
    * word count, unigram-LM token count, chars and compression — the
    * unigram twin of [[Bpe.tokenStats]]. */
  def tokenStats(documents: DataFrame, vocabSize: Int = 512,
                 emIters: Int = 4): DataFrame = {
    val pieces = train(documents, vocabSize, emIters)
    encode(documents, pieces)
      .join(documents.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        size(col("tokens")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens").cast("double"))
  }

  /** Coverage audit of a trained piece table on a HELD-OUT split — the
    * deploy-time question for a shipped tokenizer: how much unseen text
    * falls back to unknown-character pieces, and how the compression
    * degrades off the training distribution. Trains on `trainPred` docs,
    * encodes the complement, and reports per-doc words / pieces /
    * unknown-piece count (tokens absent from the table — the Viterbi
    * char fallback) / OOV rate / pieces-per-word. Map-only encode with
    * the broadcast table, same shape as [[encode]]. */
  def coverageStats(documents: DataFrame, vocabSize: Int = 512,
                    emIters: Int = 3,
                    trainPred: org.apache.spark.sql.Column =
                      col("doc_id") % 5 =!= 0): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val pieces = train(documents.filter(trainPred), vocabSize, emIters)
    val lp = logpMap(pieces.toArray)
    val bc = spark.sparkContext.broadcast(lp)
    documents.filter(!trainPred)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        val table = bc.value
        it.map { case (id, text) =>
          val words = text.split(" ").filter(_.nonEmpty)
          var nPieces = 0L
          var nUnk = 0L
          words.foreach { w =>
            val toks = memo.getOrElseUpdate(w, viterbi(w, table, DefaultMaxPieceLen))
            nPieces += toks.length
            nUnk += toks.count(!table.contains(_))
          }
          (id, words.length.toLong, nPieces, nUnk)
        }
      }
      .toDF("doc_id", "n_words", "n_pieces", "n_unk")
      .withColumn("oov_rate",
        col("n_unk").cast("double") / col("n_pieces").cast("double"))
      .withColumn("pieces_per_word",
        col("n_pieces").cast("double") / col("n_words").cast("double"))
  }

  // ---- persistence ----------------------------------------------------------

  /** Versioned publish through the model registry (temp-write → rename →
    * commit-marker, like the BPE merge table): (rank, piece, count) rows,
    * KBs. Counts — not floats — are stored, so a reloaded table rebuilds
    * the exact same log-probabilities. */
  def savePieces(spark: SparkSession, pieces: Pieces, root: String,
                 name: String = "spm-pieces"): Long =
    graft.ml.ModelRegistry.saveArtifact(spark, root, name) { tmp =>
      import spark.implicits._
      pieces.zipWithIndex
        .map { case ((p, c), i) => (i.toLong, p, c) }
        .toDF("rank", "piece", "count")
        .coalesce(1).write.parquet(s"$tmp/pieces")
    }

  /** Reload a published piece table in canonical order (the collect is the
    * KB-sized tokenizer artifact — the AnnIndex.load exception). */
  def loadPieces(spark: SparkSession, root: String,
                 name: String = "spm-pieces",
                 version: Option[Long] = None): Pieces = {
    val path = graft.ml.ModelRegistry.versionPath(spark, root, name, version)
    spark.read.parquet(s"$path/pieces")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
  }
}
