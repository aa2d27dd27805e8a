package graft.pipeline

import graft.util.VersionedDir
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction — the table-maintenance job every streaming
  * lakehouse needs (the reference's Delta OPTIMIZE / bin-packing step,
  * parquet-native): micro-batch sinks land thousands of KB-sized files,
  * and at 100 TB the file count — not the byte count — kills scan
  * planning (one footer read + one task per file).
  *
  * Bin-packs a parquet directory into ceil(bytes/targetBytes) files.
  * With `sortCols` the rewrite range-partitions + sorts-within, so the
  * compacted files carry min/max row-group bounds on the sort axis
  * (the same locality the medallion's Z-order/sort-within write gives —
  * compaction must not destroy it).
  *
  * The rewrite is [[graft.util.VersionedDir.rewrite]]'s staged swap: a
  * compacted snapshot keeps its commit instant, so timestamp time travel
  * over it still resolves (a real lakehouse would commit through a
  * transaction log instead).
  */
object Compaction {

  /** Compact `dir` to ~`targetBytes` files; returns the output file count. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              sortCols: Seq[String] = Nil): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataBytes = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(dataBytes.toDouble / targetBytes).toInt)

    val df = spark.read.parquet(dir)
    val packed =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nFiles)

    VersionedDir.rewrite(spark, dir)(packed.write.mode(SaveMode.Overwrite).parquet(_))
    fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }
}
