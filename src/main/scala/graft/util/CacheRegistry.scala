package graft.util

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one holder of query-lifetime materializations, keyed by the owner
  * (the operator object) that made them.
  *
  * Operators cache intermediates for the length of one query (banded
  * LSH signatures, pair-grain attribution masks, graph edge lists, model
  * train splits, …). An operator calls [[release]] on itself where its
  * next call supersedes the previous call's frames; one whose earlier
  * results may still be unexecuted (a components loop's checkpoints)
  * leaves them to [[releaseAll]], which sweeps everything between
  * queries — a long-lived session that never sweeps must release such owners itself
  * once their results are consumed. Inside one query those lifecycles
  * are correct, but a long same-session run over the whole registry
  * (Bench, Verify) would otherwise accumulate whichever frames the
  * most-recent query left live, and the resulting executor-memory / GC
  * pressure inflates late queries 5-6× (the r11 phantom-regression class:
  * 13.2s in-run vs 2.6s isolated for the same plan). Because every frame
  * is tracked where it is made, no operator can be missing from the sweep.
  *
  * The two kinds of frame are freed differently: a persist by `unpersist`,
  * a checkpoint by [[Lineage.release]] (`Dataset.unpersist` does not free
  * a checkpoint RDD). They are never mixed: `Lineage.release` walks the
  * whole analyzed plan, so on a persisted frame it would also free another
  * owner's checkpoint underneath it.
  */
object CacheRegistry {

  private final case class Held(frame: DataFrame, checkpointed: Boolean) {
    def free(): Unit =
      if (checkpointed) Lineage.release(frame) else frame.unpersist(blocking = false)
  }

  private val held = scala.collection.mutable.HashMap.empty[AnyRef, List[Held]]

  private def hold(owner: AnyRef, h: Held): DataFrame = {
    synchronized { held.update(owner, h :: held.getOrElse(owner, Nil)) }
    h.frame
  }

  /** `df` persisted MEMORY_AND_DISK, held until `owner` is released. */
  def persist(owner: AnyRef, df: DataFrame): DataFrame =
    hold(owner, Held(df.persist(StorageLevel.MEMORY_AND_DISK), checkpointed = false))

  /** `df` materialized through [[Lineage.checkpointRightsized]], held until
    * `owner` is released. */
  def checkpoint(owner: AnyRef, df: DataFrame): DataFrame =
    adopt(owner, Lineage.checkpointRightsized(df))

  /** Hold a frame the owner already checkpointed — the surviving round of
    * an iterative loop, which is only known once the loop ends. */
  def adopt(owner: AnyRef, checkpointed: DataFrame): DataFrame =
    hold(owner, Held(checkpointed, checkpointed = true))

  /** Free every frame `owner` holds; other owners' frames stay. A frame
    * still read by an unexecuted plan is gone afterwards: a persist is
    * recomputed from lineage, a checkpoint fails the read. */
  def release(owner: AnyRef): Unit =
    synchronized { held.remove(owner).getOrElse(Nil) }.foreach(_.free())

  /** Free every held frame, then drop whatever is left in the session cache
    * catalog. Safe to call between queries: no operator holds a frame
    * across query boundaries by contract. */
  def releaseAll(spark: SparkSession): Unit = {
    val all = synchronized {
      val hs = held.values.flatten.toList
      held.clear()
      hs
    }
    all.foreach(h => try h.free() catch { case NonFatal(_) => () })
    spark.catalog.clearCache()
  }
}
