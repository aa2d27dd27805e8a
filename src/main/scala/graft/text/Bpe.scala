package graft.text

import graft.util.Lineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Byte-pair-encoding subword tokenizer, trained and applied distributed —
  * the real token accounting an LLM-corpus pipeline needs (context-window
  * packing, per-doc token budgets, mixture weights are all denominated in
  * SUBWORD tokens, not whitespace words). Upgrades the BPE-ish regex
  * counting in TextAnalysis to a learned merge table (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units").
  *
  * Symbol convention: a word is its character symbols plus a trailing
  * `</w>` end-of-word symbol (kept separate, so the round-trip strip is
  * exact); a merge fuses one adjacent symbol pair everywhere it occurs.
  *
  * Training scale shape: everything runs at VOCABULARY grain, never corpus
  * grain — the corpus collapses once into a (word, freq) table (zipf-bounded:
  * ~10⁶–10⁷ rows at 100 TB, vs 10¹¹ token rows), and each merge round is
  *   pair counts: one flatMap over word symbols weighted by freq, one
  *     map-side-combined sum shuffle at pair grain;
  *   argmax: a deterministic 1-ROW reduce (count desc, pair asc) — the only
  *     driver-visible datum per round is that single winning pair;
  *   apply: a map-only pass rewriting the word table, lineage truncated per
  *     round (localCheckpoint), no shuffle.
  * Encoding scale shape: the merge table broadcasts (numMerges rows); each
  * partition memoizes word → subwords, so a document stream re-tokenizes
  * each distinct word once per partition — map-only, no shuffle.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Vocabularies at or under this row count train driver-side (see
    * [[trainMerges]]); larger ones use the distributed merge loop. At the
    * budget the local table is ~1M words × ~8 symbol Strings ≈ a few
    * hundred MB of JVM objects — comfortably driver-resident on any
    * production driver — while the distributed loop costs ~2 Spark jobs
    * per merge round, so the crossover is scheduling overhead, not
    * memory. */
  val DriverVocabRowBudget: Long = 1000000L

  /** Ordered merge table learned from the corpus: (rank, left, right).
    * Deterministic: ties broken by (left, right) UTF-8-byte lexicographic;
    * training stops early when no pair occurs twice.
    *
    * Hybrid execution: the corpus ALWAYS collapses distributed into the
    * zipf-bounded (word, freq) vocabulary; then, when the vocabulary fits
    * [[DriverVocabRowBudget]] (it does until roughly web scale — ~10⁶–10⁷ distinct-word
    * vocabularies at 100 TB straddle the budget), the merge loop runs driver-side in
    * milliseconds — the standard tokenizer-trainer shape (HuggingFace,
    * SentencePiece train single-node over the word table) — instead of
    * paying ~2 Spark jobs per merge round. Vocabularies over the budget
    * fall back to the distributed loop. Both paths share [[mergePair]] and
    * the identical argmax order, so the merge table is bit-for-bit equal
    * (CurationSpec asserts the cross-path parity). */
  def trainMerges(documents: DataFrame, numMerges: Int,
                  driverRowBudget: Long = DriverVocabRowBudget): Seq[(String, String)] = {
    val spark = documents.sparkSession
    import spark.implicits._

    var words: org.apache.spark.sql.Dataset[(Array[String], Long)] =
      documents
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .as[(String, Long)]
        .map { case (w, f) => (w.map(_.toString).toArray :+ EndOfWord, f) }
        .localCheckpoint()

    if (words.count() <= driverRowBudget) {
      val local = words.collect()
      Lineage.release(words)
      return trainMergesLocal(local, numMerges)
    }

    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      // Weighted adjacent-pair counts over the vocabulary, then the single
      // deterministic argmax row (the one collect: 1 row, two strings).
      val best = words
        .flatMap { case (sym, f) =>
          if (sym.length < 2) Iterator.empty
          else sym.iterator.zip(sym.iterator.drop(1)).map(p => (p._1, p._2, f))
        }
        .toDF("left", "right", "f")
        .groupBy("left", "right").agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("left").asc, col("right").asc)
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      best.headOption match {
        case Some((a, b, cnt)) if cnt >= 2 =>
          merges += ((a, b))
          val prev = words
          words = words
            .map { case (sym, f) => (mergePair(sym, a, b), f) }
            .localCheckpoint()
          // The new checkpoint is materialized; release the superseded one
          // so a long merge schedule holds ONE vocab snapshot, not O(rounds).
          Lineage.release(prev)
        case _ => done = true
      }
    }
    Lineage.release(words)
    merges.toSeq
  }

  /** Driver-side merge loop over a collected (symbols, freq) vocabulary —
    * the under-budget path of [[trainMerges]]. Same argmax contract as the
    * distributed loop: count desc, then (left, right) ascending in UTF-8
    * BYTE order (Spark's UTF8String comparison), so both paths produce the
    * identical merge table. */
  private[text] def trainMergesLocal(vocab: Array[(Array[String], Long)],
                                     numMerges: Int): Seq[(String, String)] = {
    var words = vocab
    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (sym, f) =>
        var i = 0
        while (i + 1 < sym.length) {
          val k = (sym(i), sym(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      var bestPair: (String, String) = null
      var bestCnt = Long.MinValue
      counts.foreach { case (p, c) =>
        if (c > bestCnt || (c == bestCnt && pairUtf8Compare(p, bestPair) < 0)) {
          bestPair = p; bestCnt = c
        }
      }
      if (bestPair == null || bestCnt < 2) done = true
      else {
        merges += bestPair
        val (a, b) = bestPair
        words = words.map { case (sym, f) => (mergePair(sym, a, b), f) }
      }
    }
    merges.toSeq
  }

  /** (left, right) comparison in UTF-8 byte order — exactly Spark's
    * UTF8String binary ordering, which the distributed argmax's
    * `orderBy(left, right)` uses. Java String.compareTo is UTF-16-unit
    * order and diverges above the BMP, so byte comparison it is
    * ([[Utf8Order]], shared with the WordPiece trainer). */
  private def pairUtf8Compare(x: (String, String), y: (String, String)): Int =
    Utf8Order.pairCompare(x, y)

  /** One merge applied everywhere it occurs in a symbol sequence
    * (left-to-right, non-overlapping — the standard BPE apply). */
  private[text] def mergePair(sym: Array[String], a: String, b: String): Array[String] = {
    val out = new ArrayBuffer[String](sym.length)
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
        out += a + b; i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  /** Greedy BPE encode of one word: repeatedly fuse the LOWEST-RANK adjacent
    * pair present in the merge table until none applies. */
  private[text] def encodeWord(word: String, ranks: Map[(String, String), Int]): Array[String] = {
    var sym = word.map(_.toString).toArray :+ EndOfWord
    var continue = sym.length >= 2
    while (continue) {
      var bestRank = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var i = 0
      while (i + 1 < sym.length) {
        val r = ranks.getOrElse((sym(i), sym(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestA = sym(i); bestB = sym(i + 1) }
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        sym = mergePair(sym, bestA, bestB)
        if (sym.length < 2) continue = false
      }
    }
    sym
  }

  /** (doc_id, subword token array) — map-only over the document stream with
    * a per-partition word → subwords memo (each distinct word encodes once
    * per partition). */
  def encode(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        val r = bc.value
        it.map { case (id, text) =>
          val toks = text.split(" ").iterator.filter(_.nonEmpty)
            .flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, r)))
            .toArray
          (id, toks)
        }
      }
      .toDF("doc_id", "tokens")
  }

  /** Versioned persistence of the trained merge table through the model
    * registry (same temp-write → rename → commit protocol as the GBT and
    * ANN artifacts): a production tokenizer ships as DATA — train once,
    * publish, apply anywhere — never as a retrain-per-consumer.
    * The table is numMerges rows (KBs); storing it as ordered parquet
    * keeps it engine-readable for audits. */
  def saveMerges(spark: SparkSession, merges: Seq[(String, String)],
                 root: String, name: String = "bpe-merges"): Long =
    graft.ml.ModelRegistry.saveArtifact(spark, root, name) { tmp =>
      import spark.implicits._
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "left", "right")
        .coalesce(1).write.parquet(s"$tmp/merges")
    }

  /** Reload a published merge table in training order. The collect is the
    * tokenizer artifact itself (numMerges rows, KBs) — the same
    * driver-side-artifact exception as AnnIndex.load. */
  def loadMerges(spark: SparkSession, root: String,
                 name: String = "bpe-merges",
                 version: Option[Long] = None): Seq[(String, String)] = {
    val path = graft.ml.ModelRegistry.versionPath(spark, root, name, version)
    spark.read.parquet(s"$path/merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Per-document subword accounting under a corpus-trained merge table:
    * whitespace word count, BPE token count, and chars-per-token (the
    * compression the learned vocabulary achieves). One map-only encode
    * pass — no corpus self-join for the side stats. */
  def tokenStats(documents: DataFrame, numMerges: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val merges = trainMerges(documents, numMerges)
    val bc = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
        val r = bc.value
        it.map { case (id, text) =>
          val words = text.split(" ").iterator.filter(_.nonEmpty).toArray
          val nTokens = words.iterator
            .map(w => memo.getOrElseUpdate(w, encodeWord(w, r)).length.toLong)
            .sum
          (id, words.length.toLong, nTokens, text.length.toLong)
        }
      }
      .toDF("doc_id", "n_words", "n_tokens", "n_chars")
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_tokens").cast("double"))
  }
}
