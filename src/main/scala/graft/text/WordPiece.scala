package graft.text

import graft.util.Lineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** WordPiece subword tokenizer (Schuster & Nakajima 2012, the BERT
  * family) — the third mainstream subword family next to BPE
  * ([[Bpe]], frequency-greedy merges) and unigram-LM ([[SpmUnigram]],
  * prune-by-likelihood). WordPiece merges like BPE but scores a pair by
  * LIKELIHOOD GAIN, count(ab) / (count(a)·count(b)) — the merge that most
  * increases corpus probability under a unigram model — and encodes by
  * greedy longest-match-first over the final vocabulary (max-munch), not
  * by replaying merges.
  *
  * Symbol convention: first character plain, continuations carry the
  * `##` prefix ("word" → w, ##o, ##r, ##d); merging (a, ##b) yields "ab",
  * merging (##a, ##b) yields "##ab". A word that cannot be covered by
  * the vocabulary encodes as the single `[UNK]` token (the standard
  * whole-word-UNK contract).
  *
  * Training scale shape — identical contract to [[Bpe.trainMerges]]: the
  * corpus collapses ONCE to the zipf-bounded (word, freq) table; under
  * the driver budget the merge loop runs driver-side, above it each round
  * is two vocab-grain partial-agg shuffles (pair counts + symbol counts)
  * joined at pair grain, then a deterministic 1-row argmax collect. The
  * score is an IEEE double division evaluated by the SAME JVM arithmetic
  * on both paths, and ties break on (left, right) UTF-8-byte order — so
  * driver and distributed training are bit-for-bit equal (spec-bound).
  * Encoding is map-only with a per-partition word→pieces memo.
  */
object WordPiece {

  val Unk = "[UNK]"
  val ContPrefix = "##"

  private[text] def toSymbols(w: String): Array[String] =
    w.toCharArray.zipWithIndex.map { case (c, i) =>
      if (i == 0) c.toString else ContPrefix + c
    }

  /** Merged token of a WordPiece pair: right side drops its `##`. */
  private[text] def mergedToken(a: String, b: String): String =
    a + b.stripPrefix(ContPrefix)

  private[text] def mergePair(sym: Array[String], a: String, b: String): Array[String] = {
    val out = new ArrayBuffer[String](sym.length)
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
        out += mergedToken(a, b); i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  /** Ordered likelihood-scored merge table: (left, right) per round.
    * Stops early when no pair recurs (count < 2). */
  def trainMerges(documents: DataFrame, numMerges: Int,
                  driverRowBudget: Long = Bpe.DriverVocabRowBudget): Seq[(String, String)] = {
    val spark = documents.sparkSession
    import spark.implicits._

    var words: org.apache.spark.sql.Dataset[(Array[String], Long)] =
      documents
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .as[(String, Long)]
        .map { case (w, f) => (toSymbols(w), f) }
        .localCheckpoint()

    if (words.count() <= driverRowBudget) {
      val local = words.collect()
      Lineage.release(words)
      return trainMergesLocal(local, numMerges)
    }

    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val pairCnt = words
        .flatMap { case (sym, f) =>
          if (sym.length < 2) Iterator.empty
          else sym.iterator.zip(sym.iterator.drop(1)).map(p => (p._1, p._2, f))
        }
        .toDF("left", "right", "f")
        .groupBy("left", "right").agg(sum(col("f")).as("cnt"))
      val symCnt = words
        .flatMap { case (sym, f) => sym.iterator.map(s => (s, f)) }
        .toDF("sym", "f")
        .groupBy("sym").agg(sum(col("f")).as("c"))
      val best = pairCnt
        .join(symCnt.select(col("sym").as("left"), col("c").as("cl")), "left")
        .join(symCnt.select(col("sym").as("right"), col("c").as("cr")), "right")
        .withColumn("score",
          col("cnt").cast("double") / (col("cl").cast("double") * col("cr").cast("double")))
        .filter(col("cnt") >= 2)
        .orderBy(col("score").desc, col("left").asc, col("right").asc)
        .limit(1)
        .select("left", "right")
        .as[(String, String)]
        .collect()
      best.headOption match {
        case Some((a, b)) =>
          merges += ((a, b))
          val prev = words
          words = words
            .map { case (sym, f) => (mergePair(sym, a, b), f) }
            .localCheckpoint()
          Lineage.release(prev)
        case None => done = true
      }
    }
    Lineage.release(words)
    merges.toSeq
  }

  /** Driver-side loop — same score arithmetic (IEEE double division of
    * exact long counts) and same (left, right) UTF-8 tie order as the
    * distributed argmax, so both paths match bit for bit. */
  private[text] def trainMergesLocal(vocab: Array[(Array[String], Long)],
                                     numMerges: Int): Seq[(String, String)] = {
    var words = vocab
    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val symCnt = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (sym, f) =>
        var i = 0
        while (i < sym.length) {
          symCnt.update(sym(i), symCnt.getOrElse(sym(i), 0L) + f)
          if (i + 1 < sym.length) {
            val k = (sym(i), sym(i + 1))
            pairCnt.update(k, pairCnt.getOrElse(k, 0L) + f)
          }
          i += 1
        }
      }
      var bestPair: (String, String) = null
      var bestScore = Double.NegativeInfinity
      pairCnt.foreach { case (p, c) =>
        if (c >= 2) {
          val score = c.toDouble / (symCnt(p._1).toDouble * symCnt(p._2).toDouble)
          if (score > bestScore ||
            (score == bestScore && Utf8Order.pairCompare(p, bestPair) < 0)) {
            bestPair = p; bestScore = score
          }
        }
      }
      if (bestPair == null) done = true
      else {
        merges += bestPair
        val (a, b) = bestPair
        words = words.map { case (sym, f) => (mergePair(sym, a, b), f) }
      }
    }
    merges.toSeq
  }

  /** Final vocabulary: the corpus alphabet (all single-char symbols, both
    * positions) plus each merge's output token, plus [UNK]. */
  def vocabulary(documents: DataFrame, merges: Seq[(String, String)]): Set[String] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val alphabet = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .distinct()
      .as[String]
      .flatMap(w => toSymbols(w).toSeq)
      .distinct()
      .collect()
    (alphabet ++ merges.map { case (a, b) => mergedToken(a, b) }).toSet + Unk
  }

  /** Greedy longest-match-first (max-munch) encode of one word; whole
    * word → [UNK] when any position cannot match (the BERT contract). */
  private[text] def encodeWord(word: String, vocab: Set[String]): Array[String] = {
    val out = new ArrayBuffer[String]()
    var start = 0
    while (start < word.length) {
      var end = word.length
      var found: String = null
      while (end > start && found == null) {
        val piece = (if (start == 0) "" else ContPrefix) + word.substring(start, end)
        if (vocab.contains(piece)) found = piece else end -= 1
      }
      if (found == null) return Array(Unk)
      out += found
      start = end
    }
    out.toArray
  }

  /** (doc_id, tokens) — map-only with a per-partition word memo. */
  def encode(documents: DataFrame, vocab: Set[String]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab)
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        val v = bc.value
        it.map { case (id, text) =>
          val toks = text.split(" ").iterator.filter(_.nonEmpty)
            .flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, v)))
            .toArray
          (id, toks)
        }
      }
      .toDF("doc_id", "tokens")
  }

  /** Per-document WordPiece accounting: word/token/UNK counts and
    * fertility (tokens per word) — the vocabulary-quality numbers a
    * tokenizer eval reports. Map-only. */
  def tokenStats(documents: DataFrame, vocab: Set[String]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab)
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        val v = bc.value
        it.map { case (id, text) =>
          val words = text.split(" ").iterator.filter(_.nonEmpty).toArray
          var nTok = 0L
          var nUnk = 0L
          words.foreach { w =>
            val enc = memo.getOrElseUpdate(w, encodeWord(w, v))
            nTok += enc.length
            if (enc.length == 1 && enc(0) == Unk) nUnk += 1
          }
          (id, words.length.toLong, nTok, nUnk, text.length.toLong)
        }
      }
      .toDF("doc_id", "n_words", "n_tokens", "n_unk_words", "n_chars")
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words").cast("double"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens").cast("double"))
  }

  /** Versioned persistence: the merge table and the alphabet are both
    * DATA (KB-scale parquet), same registry protocol as the BPE and SPM
    * artifacts — train once, publish, reload anywhere. */
  def saveVocab(spark: SparkSession, merges: Seq[(String, String)],
                vocab: Set[String], root: String,
                name: String = "wordpiece-vocab"): Long =
    graft.ml.ModelRegistry.saveArtifact(spark, root, name) { tmp =>
      import spark.implicits._
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "left", "right")
        .coalesce(1).write.parquet(s"$tmp/merges")
      vocab.toSeq.sorted
        .toDF("token")
        .coalesce(1).write.parquet(s"$tmp/vocab")
    }

  /** Reload the published vocabulary; the KB-scale collect is the
    * artifact itself (the AnnIndex.load exception). */
  def loadVocab(spark: SparkSession, root: String,
                name: String = "wordpiece-vocab",
                version: Option[Long] = None): Set[String] = {
    val path = graft.ml.ModelRegistry.versionPath(spark, root, name, version)
    spark.read.parquet(s"$path/vocab")
      .collect().map(_.getString(0)).toSet
  }
}

/** UTF-8 byte-order comparisons shared by the tokenizer trainers — the
  * exact ordering Spark's UTF8String gives the distributed argmax. */
private[text] object Utf8Order {
  def pairCompare(x: (String, String), y: (String, String)): Int = {
    if (y == null) return -1
    val c = compare(x._1, y._1)
    if (c != 0) c else compare(x._2, y._2)
  }

  def compare(a: String, b: String): Int = {
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
}
