package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-style data-skipping statistics — the per-FILE min/max/nullCount
  * manifest Delta writes into its transaction log (the reference leans on
  * it via Delta + Z-ORDER), parquet-native.
  *
  * Parquet already carries row-group min/max, but at 100 TB the scan
  * planner still opens every footer: a million files is a million footer
  * reads before the first byte of data. The skipping manifest inverts
  * that: ONE tiny table (a row per data file) read at the driver plans the
  * scan, and only surviving files are listed to the FileSourceScan — the
  * same architecture as Delta/Iceberg manifest pruning. Footer row-group
  * pruning then still applies WITHIN each surviving file.
  *
  * Stats collection is a distributed single-scan aggregation at file
  * grain (`input_file_name()` groupBy — ~files×cols output, trivially
  * small next to the data); the manifest lands beside the table under
  * `_graft_stats`, which parquet readers ignore (underscore prefix).
  *
  * Effectiveness tracks layout, exactly as with Delta: stats on a column
  * the writer sorted/range-partitioned by (Medallion gold sorts within
  * partitions; Compaction preserves the sort axis; Z-order interleaves
  * two axes) give disjoint per-file ranges and near-perfect pruning;
  * stats on a shuffled column prune nothing. Collect after compaction,
  * not before.
  */
object FileStats {

  val StatsDir = "_graft_stats"

  /** One scan of `dir`, min/max/nullCount per (file, col in `cols`) plus
    * row counts, written as the table's skipping manifest. Returns the
    * number of data files covered. */
  def collect(spark: SparkSession, dir: String, cols: Seq[String]): Long = {
    val df = spark.read.parquet(dir)
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    } :+ count(lit(1)).as("row_count")
    val stats = df
      .withColumn("file", input_file_name())
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
    // a manifest is only useful if it is small: files-per-table rows, so
    // it is collected once, written from the collected rows and counted
    // without reading the written manifest back
    val rows = stats.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), stats.schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$StatsDir")
    invalidate(dir)
    rows.length.toLong
  }

  /** Cached manifest frames: a DataFrame pins its resolved schema + file
    * index, so repeated planning against the same manifest skips the
    * footer-inference job spark.read would otherwise run per call (at
    * ~10^6 files, per-read metadata work is the planning bottleneck —
    * Delta caches its snapshot the same way). `collect` invalidates. */
  // weak session keys: a stopped/collected session's cached frames vanish
  // with it (no unbounded retention of dead sessions), and identity can
  // never collide the way a recycled identityHashCode could
  private val statsCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  private def invalidate(dir: String): Unit = statsCache.synchronized {
    statsCache.values().forEach(m => { m.remove(dir); () })
  }

  /** The skipping manifest of `dir` (throws if never collected). */
  def stats(spark: SparkSession, dir: String): DataFrame =
    statsCache.synchronized {
      statsCache.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
    }.computeIfAbsent(dir, d => spark.read.parquet(s"$d/$StatsDir"))

  /** Files of `dir` whose [min, max] range on `column` intersects
    * [lo, hi] — the driver-side scan-planning step. Null bounds (file
    * all-null on the column) never match a range predicate, mirroring
    * SQL comparison semantics. */
  def survivingFiles(spark: SparkSession, dir: String, column: String,
                     lo: Any, hi: Any): Seq[String] = {
    stats(spark, dir)
      .filter(col(s"max_$column") >= lit(lo) && col(s"min_$column") <= lit(hi))
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /** Data files of `dir` right now (normalized to URI strings matching
    * input_file_name()'s output). */
  private def currentFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next().getPath
      // skip manifest/metadata dirs the same way the parquet reader does:
      // any underscore- or dot-prefixed path segment is not data
      val hidden = f.toUri.getPath.split('/')
        .exists(s => s.startsWith("_") || s.startsWith("."))
      if (f.getName.endsWith(".parquet") && !hidden) out += f.toUri.toString
    }
    out.result()
  }

  /** Range-predicate read planned through the manifest: only surviving
    * files reach the FileSourceScan; the residual filter still applies
    * (file ranges overlap the predicate, rows inside may not). Returns
    * (dataframe, filesRead, filesTotal) so callers can observe skipping.
    *
    * Staleness safety: files present on disk but ABSENT from the manifest
    * (appended since the last collect) are always read — skipping may
    * only ever drop files the manifest proves out-of-range, never files
    * it has not seen (the conservative union Delta gets from its log
    * being authoritative; here the directory is authoritative).
    *
    * Empty survivor set short-circuits to an empty frame with the table
    * schema — no scan at all. */
  def readRange(spark: SparkSession, dir: String, column: String,
                lo: Any, hi: Any): (DataFrame, Long, Long) = {
    // compare by scheme-normalized path: input_file_name() URIs and
    // FileSystem-listing URIs differ in scheme spelling (file:/ vs file:///)
    def norm(s: String): String = new Path(s).toUri.getPath
    // ONE manifest action returning (file, survived): covered and
    // surviving sets in the same pass. At ~10^6 files two separate
    // collects were two manifest scans and two driver string transfers
    // per planned read. Null bounds (file all-null) coalesce to false —
    // a range predicate never matches an all-null file.
    val survivedByFile: Map[String, Boolean] = stats(spark, dir)
      .select(col("file"),
        coalesce(col(s"max_$column") >= lit(lo) && col(s"min_$column") <= lit(hi),
          lit(false)).as("survived"))
      .collect().map(r => norm(r.getString(0)) -> r.getBoolean(1)).toMap
    val actual = currentFiles(spark, dir)
    // keep: manifest-surviving files, plus every file the manifest has
    // never seen; manifest rows for since-deleted files drop out naturally
    val files = actual.filter(f => survivedByFile.getOrElse(norm(f), true))
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    // basePath keeps partition-column derivation intact when listing
    // leaf files of a partitioned table
    val out =
      if (files.isEmpty)
        spark.read.option("basePath", dir).parquet(dir).filter(pred).limit(0)
      else
        spark.read.option("basePath", dir).parquet(files: _*).filter(pred)
    (out, files.size.toLong, actual.size.toLong)
  }

  /** True if `dir` carries a skipping manifest. */
  def hasStats(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/$StatsDir")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  // ---- per-file Bloom filters: point-lookup skipping ----------------------

  /** Bloom manifest directory (companion to [[StatsDir]]). */
  val BloomDir = "_graft_bloom"

  /** Bloom geometry. Defaults: 2^14 bits (2 KB/file/column packed) ×
    * 5 hashes — ~2% false-positive rate at 2000 distinct keys per file,
    * still <15% at 10k. Both are baked into the manifest rows so probes
    * never have to agree with collection-time constants by convention. */
  val DefaultBloomBits = 1 << 14
  val DefaultBloomHashes = 5

  private def bloomPos(c: Column, i: Int, mBits: Int): Column =
    pmod(xxhash64(c, lit(i)), lit(mBits.toLong)).cast("int")

  /** Per-FILE Bloom filters over `cols` — the skipping complement to the
    * min/max manifest: range stats prune only along the table's physical
    * sort axes, while a point predicate on a high-cardinality SHUFFLED
    * column (customer id, order key) intersects every file's [min, max]
    * and prunes nothing. A per-file Bloom answers "might this file
    * contain key x?" regardless of layout — the same role as Delta's
    * Bloom-filter index and parquet's optional footer blooms, but at
    * FILE grain in one tiny manifest (no footer reads to plan).
    *
    * Construction is one distributed scan, partial-aggregated map-side:
    * each row explodes to `hashes` (word, bit) contributions and
    * `bit_or` collapses them to ≤ files × words rows before the shuffle;
    * the packed Array[Long] bitset is assembled per file from the word
    * map. Nothing row-shaped reaches the driver.
    *
    * Probing ([[survivingFilesPoint]], [[readPoint]]) filters the
    * manifest FRAME distributed — only surviving file NAMES are
    * collected, so a 10^6-file bloom manifest (~GBs of bitsets) never
    * transits the driver. */
  def collectBloom(spark: SparkSession, dir: String, cols: Seq[String],
                   mBits: Int = DefaultBloomBits,
                   hashes: Int = DefaultBloomHashes): Long = {
    require(mBits % 64 == 0, s"mBits $mBits must pack into 64-bit words")
    val words = mBits / 64
    val df = spark.read.parquet(dir)
    val perCol = cols.map { c =>
      // (file, word) grain with bit_or partial agg: the k-fold row
      // expansion dies map-side
      val contrib = df
        .withColumn("file", input_file_name())
        .filter(col(c).isNotNull)
        .select(col("file"), explode(array(
          (0 until hashes).map(i => bloomPos(col(c), i, mBits)): _*)).as("pos"))
        .groupBy(col("file"), (col("pos") / 64).cast("int").as("word"))
        .agg(bit_or(call_function("shiftleft", lit(1L), col("pos") % 64))
          .as("bits"))
      // pack the sparse word map into the fixed-width bitset array
      contrib
        .groupBy("file")
        .agg(map_from_entries(collect_list(struct(col("word"), col("bits"))))
          .as("wm"))
        .select(col("file"),
          transform(sequence(lit(0), lit(words - 1)),
            w => coalesce(element_at(col("wm"), w), lit(0L))).as(s"bloom_$c"))
    }
    val manifest = perCol.reduce((a, b) => a.join(b, Seq("file"), "full"))
      .withColumn("m_bits", lit(mBits))
      .withColumn("n_hashes", lit(hashes))
    manifest.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/$BloomDir")
    invalidate(s"$dir/$BloomDir")
    bloomStats(spark, dir).count()
  }

  /** The Bloom manifest of `dir` (throws if never collected). Cached like
    * [[stats]]. */
  def bloomStats(spark: SparkSession, dir: String): DataFrame =
    statsCache.synchronized {
      statsCache.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
    }.computeIfAbsent(s"$dir/$BloomDir",
      d => spark.read.parquet(s"$dir/$BloomDir"))

  /** "Might file contain `value`?" over the packed bitset — all `hashes`
    * bits must be set. Pure built-ins (element_at / shiftright / pmod /
    * xxhash64), evaluated DISTRIBUTED over the manifest frame. */
  private def mightContain(bloom: Column, value: Column, mBits: Int,
                           hashes: Int): Column =
    (0 until hashes).map { i =>
      val pos = bloomPos(value, i, mBits)
      // logical shift + mask: an ARITHMETIC shift of a word whose sign
      // bit is set smears 1s, and % would carry its sign
      call_function("shiftrightunsigned",
        element_at(bloom, (pos / 64).cast("int") + 1), pos % 64)
        .bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _)

  /** One manifest action returning (file, mightContain) — the probe is
    * evaluated DISTRIBUTED over the manifest frame (geometry read from the
    * manifest's own m_bits/n_hashes columns, so probes can never disagree
    * with collection-time constants); only file names + one boolean reach
    * the driver. A file with no bloom value for the column (all-null)
    * coalesces to kept — skipping only ever drops files the manifest can
    * DISPROVE. */
  private def bloomSurvival(spark: SparkSession, dir: String, column: String,
                            value: Any): Map[String, Boolean] = {
    def norm(s: String): String = new Path(s).toUri.getPath
    val m = bloomStats(spark, dir)
    val geo = m.select(col("m_bits"), col("n_hashes")).head()
    val (mBits, hashes) = (geo.getInt(0), geo.getInt(1))
    m.select(col("file"),
        coalesce(
          mightContain(col(s"bloom_$column"), lit(value), mBits, hashes),
          lit(true)).as("might"))
      .collect().map(r => norm(r.getString(0)) -> r.getBoolean(1)).toMap
  }

  /** Files of `dir` that might contain `value` on `column`. */
  def survivingFilesPoint(spark: SparkSession, dir: String, column: String,
                          value: Any): Seq[String] =
    bloomSurvival(spark, dir, column, value)
      .collect { case (f, true) => f }.toSeq

  /** Point-predicate read planned through the Bloom manifest — same
    * staleness contract as [[readRange]]: files the manifest has never
    * seen are always read, and the residual filter always applies (bloom
    * hits may be false positives; the filter, never the manifest, decides
    * rows). Returns (dataframe, filesRead, filesTotal). */
  def readPoint(spark: SparkSession, dir: String, column: String,
                value: Any): (DataFrame, Long, Long) = {
    def norm(s: String): String = new Path(s).toUri.getPath
    val survival = bloomSurvival(spark, dir, column, value)
    val actual = currentFiles(spark, dir)
    val files = actual.filter(f => survival.getOrElse(norm(f), true))
    val pred = col(column) === lit(value)
    val out =
      if (files.isEmpty)
        spark.read.option("basePath", dir).parquet(dir).filter(pred).limit(0)
      else
        spark.read.option("basePath", dir).parquet(files: _*).filter(pred)
    (out, files.size.toLong, actual.size.toLong)
  }
}
