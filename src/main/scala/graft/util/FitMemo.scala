package graft.util

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FileRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** One process-wide memo for the seeded fits queries share (IVF/PQ
  * quantizers, PCA, the GBT fraud model), keyed by what the fit reads:
  *
  *   - the fit kind and parameters;
  *   - the input's canonicalized analyzed plan — two separately built
  *     frames of one query share a fit (expression ids and lambda
  *     variables are normalized away), a filtered subset does not;
  *   - the (path, length, modification time) of every file the input
  *     scans — data rewritten under the same path refits, although the
  *     plan alone would still match.
  *
  * An input whose plan is not deterministic is refitted on every call.
  * The memo holds the fitted models (KBs) and the keys' plans, never a
  * cached frame. Bench-timing corollary: the first query to reach a
  * shared fit absorbs its cost and the others report near-zero, so only
  * the SUM of the sharing queries is comparable across runs.
  */
object FitMemo {

  private final case class Key(kind: String, plan: LogicalPlan,
                               files: Seq[(String, Long, Long)], params: Seq[Any])

  private val fits = new ConcurrentHashMap[Key, AnyRef]()

  /** `fit`'s memoized result; on a miss `fit` runs. Concurrent misses on
    * one key may both fit; every caller gets the first stored result. */
  def apply[A](kind: String, input: DataFrame, params: Any*)(fit: => A): A = {
    val analyzed = input.queryExecution.analyzed
    if (!analyzed.deterministic) fit
    else {
      val key = Key(kind, analyzed.canonicalized, files(input, analyzed), params)
      val hit = fits.get(key)
      if (hit != null) hit.asInstanceOf[A]
      else {
        val fitted = fit.asInstanceOf[AnyRef]
        val prior = fits.putIfAbsent(key, fitted)
        (if (prior == null) fitted else prior).asInstanceOf[A]
      }
    }
  }

  /** The files `Dataset.inputFiles` lists, read off the analyzed plan:
    * `inputFiles` runs the optimizer first, ~100 ms on the GBT feature
    * plan at sf0.01 against under 1 ms for this walk. */
  private def files(input: DataFrame, analyzed: LogicalPlan): Seq[(String, Long, Long)] = {
    val conf = input.sparkSession.sparkContext.hadoopConfiguration
    val paths = analyzed.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .collect { case r: FileRelation => r.inputFiles.toSeq }.flatten.distinct.sorted
    paths.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }
  }

  /** How many fits of `kind` the memo holds. */
  private[graft] def size(kind: String): Int =
    fits.keySet.asScala.count(_.kind == kind)
}
