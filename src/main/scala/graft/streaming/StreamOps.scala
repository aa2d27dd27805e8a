package graft.streaming

import graft.util.Cols._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expression of the reference's streaming layer:
  * Kafka→bronze becomes file/memory-source → the same transforms; windowed
  * aggregation gets a watermark; sessionization carries custom state with
  * flatMapGroupsWithState.
  * Ref: /root/reference/spark_jobs/bronze/ingest_stream.py.
  *
  * Every transform here is written against DataFrame/Dataset so the SAME
  * function runs in batch (oracle-checked via SparkEntry) and as a
  * streaming query (exercised in StreamingSpec with memory sinks) — the
  * batch/stream parity the lakehouse medallion depends on.
  */
object StreamOps {

  /** Tumbling 1-hour aggregation by event type. In streaming the watermark
    * bounds state (2h lateness); in batch it is a no-op — one definition,
    * both modes. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .select(col("ts"), col("event_type"), col("value"), col("user_id"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        sumMoney(col("value")).as("value_sum"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("event_count"), col("value_sum"))

  /** Sliding 1-hour/30-minute aggregation — same watermark machinery as
    * the tumbling form; every event contributes to window_size/slide
    * overlapping windows (here 2), which is exactly the state-size
    * multiplier at scale. One definition, batch and stream. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .select(col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        sumMoney(col("value")).as("value_sum"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("event_count"), col("value_sum"))

  /** Bronze shaping as a streaming transform (same columns as
    * operators.Bronze.bronzeEvents, minus the raw-nanos dependency). */
  def bronzeShape(events: DataFrame): DataFrame =
    events
      .withColumn("prop_k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("event_date", col("ts").cast("date"))
      .withColumn("_source_system", lit("file-stream"))
      .withColumn("_pipeline_version", lit("1.0.0"))

  /** Declarative gap sessionization via the built-in `session_window` —
    * Structured Streaming's native merging-windows operator (state expiry
    * from the watermark, no custom state machine). Complements the
    * explicit flatMapGroupsWithState sessionizer below: same gap
    * semantics (events at most `gap` apart — inclusive — extend the
    * session; a new one starts only when the gap strictly exceeds it),
    * one declaration for batch and stream. */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        count(lit(1)).as("event_count"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
        sumMoney(col("value")).as("value_sum"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("event_count"), col("purchases"), col("value_sum"))

  // ---- stateful sessionization ----

  case class Ev(user_id: Long, event_id: Long, ts_us: Long, event_type: String,
                value: Double)
  case class SessionOut(user_id: Long, session_idx: Long, event_count: Long,
                        session_start_us: Long, session_end_us: Long,
                        purchases: Long, errors: Long)
  /** The open session for a user: idx is 1-based to match the batch
    * operator's cumulative-boundary numbering. */
  case class SessState(openIdx: Long, startTs: Long, lastTs: Long, count: Long,
                       purchases: Long, errors: Long)

  /** Gap-based sessionization with explicit state (streaming mirror of
    * operators.Sessionize). Emits a session when the gap closes it; the
    * open session stays in GroupState across micro-batches. Events inside
    * a batch are sorted per user (micro-batch iterators are unordered). */
  def sessionize(events: Dataset[Ev], gapUs: Long): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = it.toVector.sortBy(e => (e.ts_us, e.event_id))
          val out = Vector.newBuilder[SessionOut]
          var st = state.getOption
          for (e <- sorted) {
            val p = if (e.event_type == "purchase") 1L else 0L
            val er = if (e.event_type == "error") 1L else 0L
            st match {
              case Some(open) if e.ts_us - open.lastTs <= gapUs =>
                st = Some(open.copy(lastTs = e.ts_us, count = open.count + 1,
                  purchases = open.purchases + p, errors = open.errors + er))
              case Some(open) =>
                out += SessionOut(userId, open.openIdx, open.count, open.startTs,
                  open.lastTs, open.purchases, open.errors)
                st = Some(SessState(open.openIdx + 1, e.ts_us, e.ts_us, 1L, p, er))
              case None =>
                st = Some(SessState(1L, e.ts_us, e.ts_us, 1L, p, er))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Flush marker: an event far past every real timestamp closes all open
    * sessions (test/drain helper). */
  val FlushTsUs: Long = Long.MaxValue / 2

  /** Streaming dedup on event_id with a watermark bounding the id-set
    * state to the lateness horizon (the streaming twin of
    * Cleaning.deterministicDedup for append-only streams). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id", "ts")

  /** Watermark-delayed streaming dedup: unlike `dropDuplicates`, which
    * keys state on exact (event_id, ts) and keeps it forever without a
    * watermark column in the key, `dropDuplicatesWithinWatermark` dedups
    * on the BUSINESS key alone and expires each key's state once the
    * watermark passes its event time — bounded state with late duplicates
    * (same key, jittered timestamp) still collapsed, the shape Kafka
    * redeliveries need. The deterministic batch mirror is keep-first by
    * event time: Cleaning.deterministicDedup(keys, (ts, event_id)). */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming MERGE sink: every micro-batch upserts into a versioned
    * parquet target through foreachBatch — the streaming half of the
    * medallion's idempotent silver (the reference runs Delta MERGE inside
    * its streaming jobs; versioned snapshots are our Delta-free
    * equivalent). The batch is first deduped deterministically on the
    * merge key (a micro-batch can carry the same key twice), then
    * source-wins-merged onto the latest snapshot ([[versionedSnapshotSink]]
    * keeps a replayed batch from folding twice). */
  def mergeSink(stream: DataFrame, keys: Seq[String], tiebreak: Seq[String],
                targetDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedSnapshotSink(stream, targetDir, checkpointDir) { (latest, batch) =>
      val src = graft.operators.Cleaning.deterministicDedup(batch, keys, tiebreak)
      latest match {
        case Some(prev) => graft.operators.MergeUpsert.merge(
          prev.drop("_merge_action"), src, keys)
        case None => src.withColumn("_merge_action", lit("inserted"))
      }
    }

  /** Shared snapshot scaffold for foreachBatch sinks: micro-batch b folds
    * onto the latest committed snapshot below it and publishes version b+1
    * ([[graft.util.VersionedDir]]), so a crash mid-write never leaves a
    * partial snapshot that a later batch could adopt as its base.
    * foreachBatch is at-least-once, so the version is keyed by the batch
    * id: a replayed batch whose version is committed is skipped, and one
    * whose earlier attempt crashed takes that attempt's claim over. Batch
    * ids restart under a fresh checkpoint, so the store is bound to one
    * checkpoint lineage (claimStoreLineage). */
  private def versionedSnapshotSink(stream: DataFrame, targetDir: String,
                                    checkpointDir: String)
      (fold: (Option[DataFrame], DataFrame) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        claimStoreLineage(s, targetDir, checkpointDir)
        val store = graft.util.VersionedDir(s, targetDir)
        val v = batchId + 1
        if (!store.isCommitted(v)) {
          val base = store.committed.filter(_ < v).lastOption
          val merged = fold(base.map(b => s.read.parquet(store.path(b).toString)), batch.toDF())
          store.recommit(v)(merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(_))
        }
        ()
      }
      .start()

  /** Streaming maintenance of stored quantile sketches: each micro-batch
    * builds day-grain bottom-k-by-hash states for ITS rows only, then
    * merges them onto the latest stored snapshot (QuantileSketch.merge is
    * exactly associative, so the streamed store is bit-identical to a
    * batch sketch of everything seen — StreamingSpec proves it).
    * Versioned snapshots, the mergeSink scheme. */
  def sketchSink(stream: DataFrame, dayCol: String, value: Column,
                 rowKey: Column, targetDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedSnapshotSink(stream, targetDir, checkpointDir) { (latest, batch) =>
      val fresh = graft.gold.QuantileSketch.sketch(
        batch, Seq(dayCol), value, rowKey)
      latest match {
        case Some(prev) => graft.gold.QuantileSketch.merge(
          prev.unionByName(fresh), Seq(dayCol))
        case None => fresh
      }
    }

  /** Streaming maintenance of a partial-state MV (the
    * [[graft.plans.MvRewrite]] target): each micro-batch computes ITS OWN
    * group-grain partial states and merges them onto the latest snapshot
    * (sums/cnts add, mins/maxes keep the extremum). The merge is
    * associative — bit-exactly for long/decimal/integer-valued-double
    * states (MvRewriteSpec proves streamed == batch build on such data);
    * general floating sums reassociate within normal FP rounding, the
    * same caveat as any distributed sum. Versioned snapshots via the
    * mergeSink scheme; a serving session registers the version it reads
    * with MvRewrite.register — the same publish/hot-reload seam as
    * ModelRegistry. */
  def mvSink(stream: DataFrame, keys: Seq[String], specs: Seq[(String, String)],
             targetDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedSnapshotSink(stream, targetDir, checkpointDir) { (latest, batch) =>
      val fresh = graft.plans.MvRewrite.partialStates(batch, keys, specs)
      latest match {
        case Some(prev) =>
          graft.plans.MvRewrite.mergeStates(prev, fresh, keys, specs)
        case None => fresh
      }
    }

  /** One-checkpoint-per-store guard for the batchId-keyed sinks: a
    * batch-keyed write is replay-idempotent only WITHIN one checkpoint
    * lineage — batchIds restart from 0 under a fresh checkpoint dir, so a
    * second lineage writing the same store would silently overwrite
    * earlier slices (undercounting lines / dropping band rows) or skip its
    * batches as already committed. The store root carries a
    * `_sink_checkpoint` marker naming its owning checkpoint; a writer
    * under any other checkpoint fails its micro-batch loudly instead.
    * Exclusive create resolves a two-writer race: the loser re-reads and
    * compares. Driver-side file metadata only. */
  private def claimStoreLineage(spark: org.apache.spark.sql.SparkSession,
                                storePath: String, checkpointDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, "_sink_checkpoint")
    def owner(): String = {
      val in = fs.open(marker)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    if (!fs.exists(marker)) {
      fs.mkdirs(root)
      try {
        val out = fs.create(marker, false)
        try out.write(checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      } catch { case _: java.io.IOException => () /* lost the race; verify below */ }
    }
    val have = owner()
    require(have == checkpointDir,
      s"store $storePath is owned by checkpoint '$have'; refusing writes from " +
        s"'$checkpointDir' — batch-keyed writes are replay-idempotent only within " +
        "one checkpoint lineage (restarting with a fresh checkpoint against an " +
        "existing store would overwrite or skip earlier batches)")
  }

  /** Shared foreachBatch scaffold for the store sinks: `write` gets every
    * non-empty micro-batch with its batchId. */
  private def storeSink(stream: DataFrame, checkpointDir: String)
      (write: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) write(batch, batchId)
      }
      .start()

  /** [[storeSink]] for the batchId-keyed slice stores: each micro-batch
    * first claims the store's checkpoint lineage (claimStoreLineage). */
  private def keyedStoreSink(stream: DataFrame, storePath: String,
                             checkpointDir: String)
      (write: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    storeSink(stream, checkpointDir) { (batch, batchId) =>
      claimStoreLineage(batch.sparkSession, storePath, checkpointDir)
      write(batch, batchId)
    }

  /** Streaming maintenance of the corpus-wide line-count store
    * ([[graft.text.LineDedup]]): each micro-batch's line counts are
    * APPENDED as a partial-count parquet batch — counts are additive, so
    * the store needs no read-modify-write and no snapshot versioning
    * (unlike mvSink's min/max states): `mergedLineCounts` sums partials
    * at read time, and CurationSpec's build+append ≡ from-scratch
    * identity extends batch-by-batch to any micro-batch split. Cost per
    * batch ∝ |batch| (one partial agg + one append); exactly-once comes
    * from the checkpointed foreachBatch contract. A continuously-crawled
    * corpus keeps its boilerplate-line inventory current this way. */
  def lineCountSink(stream: DataFrame, storePath: String,
                    checkpointDir: String, textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    // foreachBatch is at-least-once: the batchId-KEYED overwrite makes a
    // replayed micro-batch rewrite its own slice instead of double-counting
    // lines (which would push once-seen lines over minDupCount and strip
    // them from every document)
    keyedStoreSink(stream, storePath, checkpointDir) { (batch, batchId) =>
      graft.text.LineDedup.writeLineBatch(batch, storePath, batchId, textCol)
    }

  /** Streaming maintenance of the MinHash band store
    * ([[graft.text.MinHash]]): band rows are a PURE per-document function
    * (no corpus dependence), so each micro-batch's rows append without
    * touching existing ones — what a from-scratch build would have
    * written for those docs, batch-split invariant by construction. The
    * streamed store then serves [[graft.text.MinHash.incrementalNearDups]]
    * exactly like a batch-built one (the bucket governor runs over the
    * whole store at probe time, so incremental and from-scratch probes
    * drop the same hot buckets). Closes the loop for near-dup the way
    * mvSink does for MVs: continuous ingestion maintains the index, the
    * delta probe serves it. */
  def bandStoreSink(stream: DataFrame, storePath: String,
                    checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // at-least-once replay safety: a re-delivered batch overwrites its own
    // keyed slice — a plain re-append would duplicate band rows, inflate
    // bucket occupancy past the governor, and silently drop healthy
    // buckets from the pair join
    keyedStoreSink(stream, storePath, checkpointDir) { (batch, batchId) =>
      graft.text.MinHash.writeBandBatch(batch, storePath, batchId)
    }

  /** Streaming maintenance of the winnowing fingerprint store
    * ([[graft.text.Winnow]]): selected fingerprints are a PURE
    * per-document function (the selection window never crosses
    * documents), so each micro-batch's rows append without touching
    * existing ones — identical to a from-scratch build over the same
    * docs. The streamed store then serves
    * [[graft.text.Winnow.incrementalPairs]] exactly like a batch-built
    * one (governor and shared counts run over the whole store at probe
    * time). Substring-level near-dup gets the same continuous-ingestion
    * loop the band store gives whole-doc near-dup. */
  def winnowStoreSink(stream: DataFrame, storePath: String,
                      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    // at-least-once replay safety: a re-delivered batch overwrites its own
    // keyed slice — a re-append would duplicate fingerprint rows and
    // inflate hash occupancy past the governor
    keyedStoreSink(stream, storePath, checkpointDir) { (batch, batchId) =>
      graft.text.Winnow.writeFingerprintBatch(batch, storePath, batchId)
    }

  /** Streaming maintenance of the (lang, word) token-count store
    * ([[graft.text.TokenCounts]]): each micro-batch appends one
    * partial-count parquet slice; counts are additive so readers merge
    * by summation and the base+append ≡ from-scratch identity holds
    * batch-by-batch. Same at-least-once hazard and same answer as the
    * line sink: the batchId-KEYED overwrite makes a replayed batch
    * rewrite its own slice instead of double-counting (which would skew
    * every statistic served from the store — vocab growth, Zipf drift,
    * mixture weights). */
  def tokenCountSink(stream: DataFrame, storePath: String,
                     checkpointDir: String, textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    keyedStoreSink(stream, storePath, checkpointDir) { (batch, batchId) =>
      graft.text.TokenCounts.writeTokenBatch(batch, storePath, batchId, textCol)
    }

  /** Streaming maintenance of the BM25 inverted-index store
    * ([[graft.text.Bm25]]): each micro-batch of new documents writes its
    * own batchId-keyed postings + doclen slices (disjoint doc_ids by the
    * append contract), and searchIndex's df/N/Σdl reduces are
    * order-insensitive integer sums over all slices — so a continuously
    * crawled corpus serves BM25 bit-identically to a from-scratch
    * rank() at every point, with no read-modify-write and no snapshot
    * versioning. Replay safety is the writeLineBatch contract: a
    * re-delivered batch overwrites its own slice instead of inflating
    * tf/dl (which would skew every idf and length norm). */
  def bm25IndexSink(stream: DataFrame, storePath: String,
                    checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    keyedStoreSink(stream, storePath, checkpointDir) { (batch, batchId) =>
      graft.text.Bm25.writeIndexBatch(batch, storePath, batchId)
    }

  /** Streaming maintenance of the Bloom pre-dedup store
    * ([[graft.text.BloomDedup]]): each micro-batch's content hashes fold
    * into the packed-bitset store as appended word rows. Uniquely in this
    * sink family, replay safety needs NO batchId slice keying and no
    * checkpoint-lineage claim: the store's merge operator is bitwise OR —
    * idempotent (x|x = x), commutative, associative — so a re-delivered
    * batch, a second checkpoint lineage, even a concurrent second writer
    * all converge to the same merged bitset a from-scratch build would
    * produce. At-least-once is as good as exactly-once here by algebra,
    * not by bookkeeping. Geometry mismatches are still rejected at read
    * ([[graft.text.BloomDedup.geometry]]). A continuous crawl keeps its
    * ingest gate current this way; the gated incremental dedup stays
    * bit-identical to exact dedup over everything ever streamed. */
  def bloomStoreSink(stream: DataFrame, storePath: String,
                     checkpointDir: String, textCol: String = "text",
                     mBits: Int = graft.text.BloomDedup.DefaultBits,
                     nHashes: Int = graft.text.BloomDedup.DefaultHashes)
      : org.apache.spark.sql.streaming.StreamingQuery =
    storeSink(stream, checkpointDir) { (batch, _) =>
      graft.text.BloomDedup.appendHashBloom(batch, storePath, textCol,
        mBits, nHashes)
    }

  /** Streaming maintenance of the novelty gram store
    * ([[graft.text.Novelty]]): each micro-batch's distinct 5-grams append
    * to the store, and reads re-distinct — so the merge operator is SET
    * UNION, which is idempotent/commutative/associative exactly like the
    * bloom sink's bitwise OR: a re-delivered batch, a second checkpoint
    * lineage, or a concurrent writer all converge to the set a
    * from-scratch build would produce (at-least-once ≡ exactly-once by
    * algebra). A continuous crawl keeps its memorization/novelty gate
    * current at per-batch cost ∝ |batch| grams. */
  def gramStoreSink(stream: DataFrame, storePath: String,
                    checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    storeSink(stream, checkpointDir) { (batch, _) =>
      graft.text.Novelty.appendGramStore(batch, storePath)
    }

  /** Stream-stream interval join: purchases enriched with any error by the
    * same user within the preceding hour. Watermarks on both sides + the
    * time-range predicate bound the join state — the Structured Streaming
    * shape of the reference's fraud-signal correlation.
    * (Inner interval join; at scale state size = 1 h of events per side.) */
  def purchaseErrorJoin(events: DataFrame): DataFrame =
    purchaseErrorIntervalJoin(events, "inner")

  /** LEFT OUTER stream-stream interval join: every purchase row emits —
    * matched rows as soon as the error arrives, UNMATCHED rows
    * null-padded only once the watermark proves no in-window error can
    * still arrive (the semantics an inner join cannot give: "purchases
    * with NO preceding error" is itself the fraud-ops signal). State
    * stays bounded exactly as in the inner join — the watermark + the
    * time-range predicate let Spark evict both sides; the null-padded
    * emission is the eviction. */
  def purchaseErrorLeftJoin(events: DataFrame): DataFrame =
    purchaseErrorIntervalJoin(events, "left_outer")

  /** FULL OUTER stream-stream interval join — the reconciliation shape
    * where EITHER side can be absent (the reference analog: refunds ↔
    * payments, where an unmatched refund and an unmatched payment are
    * BOTH exceptions to surface): matched purchase/error rows emit as
    * soon as both sides arrive; an unmatched purchase null-pads on the
    * error side and an unmatched error null-pads on the purchase side,
    * each only once its own watermark proves no in-window partner can
    * still arrive. State stays bounded exactly as in the inner/left
    * variants — the watermark + the time-range predicate let Spark evict
    * both sides, and the two null-padded emissions ARE the evictions. */
  def purchaseErrorFullJoin(events: DataFrame): DataFrame =
    purchaseErrorIntervalJoin(events, "full_outer")

  /** The three purchase/error interval joins differ only in `joinType`. */
  private def purchaseErrorIntervalJoin(events: DataFrame,
                                        joinType: String): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("ts").as("p_ts"), col("user_id").as("p_user"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
      .withWatermark("p_ts", "2 hours")
    val errors = events
      .filter(col("event_type") === "error")
      .select(col("ts").as("e_ts"), col("user_id").as("e_user"),
        col("event_id").as("e_event_id"))
      .withWatermark("e_ts", "2 hours")
    purchases.join(errors,
      col("p_user") === col("e_user") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("e_ts") <= col("p_ts"),
      joinType)
  }
}
