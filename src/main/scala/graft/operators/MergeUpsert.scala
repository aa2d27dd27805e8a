package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Delta-style MERGE upsert semantics without Delta (no delta jars in this
  * environment): source rows win on key collision, target rows survive
  * otherwise — the idempotent re-processing primitive the reference relies
  * on for silver-layer writes.
  * Ref: /root/reference/spark_jobs/utils/delta_utils.py (upsert_delta).
  *
  * Plan shape: ONE full-outer join on the key — one key shuffle per side,
  * no aggregate, no union. Which side a joined row has decides its
  * `_merge_action` (target only: kept; source only: inserted; both:
  * updated), and a projection picks each column from the side that wins
  * it. Because the output is one join's partitions, a partitioned write
  * emits one file per (task, partition value): a MERGE'd snapshot never
  * inherits its predecessor's file fragmentation, as a union of per-branch
  * outputs did. Keys are null-rejecting equi-join keys: a null-keyed row
  * never matches, so it is kept (target) or inserted (source).
  *
  * One matched row per (target row, source row) pair: a key held twice on
  * either side yields one `updated` row per pair. Silver callers dedup
  * their source first and every target is a MERGE output, so both sides
  * carry each key once there. At 100 TB the join benefits from
  * pre-bucketed storage on the merge key; with partition-aligned inputs
  * Catalyst elides the exchanges.
  */
object MergeUpsert {

  /** `source` upserted into `target` on `keys`; `_merge_action` marks
    * what happened to each surviving row. The same-schema case of
    * [[mergeEvolve]]. */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    mergeEvolve(target, source, keys)

  /** MERGE with schema evolution — the Delta `autoMerge` behavior the
    * reference turns on for every silver write (ref:
    * /root/reference/spark_jobs/utils/delta_utils.py upsert_delta with
    * whenMatchedUpdateAll/whenNotMatchedInsertAll): the merged schema is
    * the UNION of target and source columns (target order, new source
    * columns appended), and
    *  - matched rows take source values for source columns but KEEP their
    *    target values for columns the source stopped carrying (updateAll
    *    only sets the source's columns);
    *  - unmatched target rows get null for newly-added source columns;
    *  - inserted source rows get null for target-only columns.
    * Shared columns must keep their type — a silent cast on 100 TB of
    * history is a data bug, so a mismatch throws instead. */
  def mergeEvolve(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val tTypes = target.schema.map(f => f.name -> f.dataType).toMap
    val sTypes = source.schema.map(f => f.name -> f.dataType).toMap
    val mismatched = (tTypes.keySet & sTypes.keySet).filter(c => tTypes(c) != sTypes(c))
    require(mismatched.isEmpty,
      s"schema evolution cannot change column types: ${mismatched.toSeq.sorted
        .map(c => s"$c: ${tTypes(c)} -> ${sTypes(c)}").mkString(", ")}")
    require(keys.forall(k => tTypes.contains(k) && sTypes.contains(k)),
      s"merge keys $keys must exist on both sides")

    val joined = target.withColumn("_in_target", lit(true)).as("t")
      .join(source.withColumn("_in_source", lit(true)).as("s"), keys, "full_outer")
    def side(s: String, c: String) = col(s"$s.`$c`")
    val fromSource = col("_in_source").isNotNull
    val targetCols = target.columns.toSeq.map { c =>
      if (keys.contains(c)) col(c) // the join's coalesced key
      else if (sTypes.contains(c)) when(fromSource, side("s", c)).otherwise(side("t", c)).as(c)
      else side("t", c)
    }
    val sourceOnly = source.columns.toSeq.filterNot(tTypes.contains).map(side("s", _))
    val action = when(col("_in_target").isNull, lit("inserted"))
      .when(fromSource, lit("updated")).otherwise(lit("kept"))
    joined.select((targetCols ++ sourceOnly) :+ action.as("_merge_action"): _*)
  }
}
