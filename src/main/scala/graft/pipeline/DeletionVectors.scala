package graft.pipeline

import graft.util.VersionedDir
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level deletes WITHOUT file rewrites — the deletion-vector
  * mechanism Delta and Iceberg v2 use (Delta "deletion vectors", Iceberg
  * "positional delete files"), parquet-native.
  *
  * The copy-on-write alternative (what MERGE does) rewrites every file
  * that loses a row: deleting 0.01% of a 100 TB table can rewrite
  * terabytes. Merge-on-read inverts the cost: a delete writes only the
  * POSITIONS of the deleted rows — (file, row_index) pairs, sized by the
  * delete, not by the files it touches — and readers subtract them. The
  * data files are immutable until a compaction materializes the deletes.
  *
  * Positions come from the parquet scanner itself
  * (`_metadata.row_index`, the row's ordinal within its file — stable
  * because parquet files are immutable), so a delete is ONE distributed
  * scan column-pruned to the predicate's columns; nothing row-shaped
  * reaches the driver. Readers apply vectors with a LEFT ANTI join on
  * (file, row_index): the vector side is delete-sized, so AQE broadcasts
  * it in the common case; a pathological mass delete degrades to a
  * shuffle join, never to a failure. Both join sides record
  * `_metadata.file_path` verbatim, so the key never needs URI
  * normalization.
  *
  * Vectors accumulate append-only under `_graft_dv` (each delete is one
  * more parquet part, underscore-invisible to data readers);
  * [[materialize]] rewrites the survivors and clears the vectors — the
  * same compaction contract as Delta's `REORG TABLE ... APPLY (PURGE)`.
  */
object DeletionVectors {

  val DvDir = "_graft_dv"

  private def dvPath(dir: String) = s"$dir/$DvDir"

  /** Rows of `dir` matching `predicate` become tombstones: their
    * (file, row_index) positions are appended to the table's deletion
    * vectors. One distributed scan; returns the number of rows newly
    * deleted. Rows already tombstoned are excluded, so overlapping
    * deletes are idempotent (a position appears in at most one vector). */
  def delete(spark: SparkSession, dir: String, predicate: Column): Long = {
    val positions = spark.read.parquet(dir)
      .select(col("_metadata.file_path").as("dv_file"),
        col("_metadata.row_index").as("dv_row_index"), predicate.as("p"))
      .filter(col("p")).drop("p")
    val fresh =
      if (hasVectors(spark, dir))
        positions.join(vectors(spark, dir), Seq("dv_file", "dv_row_index"),
          "left_anti")
      else positions
    // count and write must see the same rows; the pin is delete-sized
    val pinned = fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = pinned.count()
      if (n > 0)
        pinned.write.mode(SaveMode.Append).parquet(dvPath(dir))
      n
    } finally { pinned.unpersist(blocking = false); () }
  }

  /** The accumulated deletion vectors of `dir` — callers gate on
    * [[hasVectors]]. */
  def vectors(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dvPath(dir))

  def hasVectors(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dvPath(dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Merge-on-read scan: the table minus its tombstones. The anti join
    * keys on (file, row_index); the vector side is delete-sized, so AQE
    * picks a broadcast build in the common case. */
  def read(spark: SparkSession, dir: String): DataFrame =
    applyVectors(spark, dir, spark.read.parquet(dir))

  /** Apply `dir`'s vectors to a frame scanned from its files — including
    * a SUBSET of them (manifest-planned range reads): positions key on
    * the scanned file's path, so partial scans subtract exactly their own
    * tombstones. No-op (and no plan change) when the table has no
    * vectors. */
  def applyVectors(spark: SparkSession, dir: String, data: DataFrame): DataFrame =
    if (!hasVectors(spark, dir)) data
    else data
      .withColumn("dv_file", col("_metadata.file_path"))
      .withColumn("dv_row_index", col("_metadata.row_index"))
      .join(vectors(spark, dir), Seq("dv_file", "dv_row_index"), "left_anti")
      .drop("dv_file", "dv_row_index")

  /** Compaction of the merge-on-read debt: rewrite survivors, clear the
    * vectors. After this the table is vector-free and reads cost a plain
    * scan again — run when vectors grow past a few % of the table (the
    * trigger Delta documents for PURGE). The staged swap keeps the
    * snapshot's commit instant ([[VersionedDir.rewrite]]), so timestamp
    * time travel over a purged table still resolves. Pass the table's
    * partition columns so the rewrite preserves its directory layout (and
    * its pruning axis). Returns the surviving row count. */
  def materialize(spark: SparkSession, dir: String,
                  partitionCols: Seq[String] = Nil): Long = {
    val writer = read(spark, dir).write.mode(SaveMode.Overwrite)
    VersionedDir.rewrite(spark, dir)(
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer).parquet(_))
    spark.read.parquet(dir).count()
  }
}
