package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The snapshot commit protocol of every versioned directory in graft:
  * silver tables ([[graft.pipeline.Medallion]]), the model registry
  * ([[graft.ml.ModelRegistry]]) and the streaming snapshot stores
  * (`StreamOps.mergeSink`, `sketchSink`, `mvSink`). Delta's commit protocol,
  * re-expressed on a filesystem with exclusive create and rename:
  *
  *  - version N of `root` lives in `root/v=N`; only `v=<digits>` names a
  *    version, so staging siblings never parse as one;
  *  - a writer first CLAIMS N by exclusive create of `root/_commits/v=N`.
  *    Two writers that computed the same N cannot both write it: the loser
  *    sees the claim taken (Delta's ConcurrentAppendException shape). An
  *    object store needs a coordinating LogStore for this, as Delta
  *    documents;
  *  - `v=N` is VISIBLE (committed) once it holds `_SUCCESS`: Spark's job
  *    marker when a Spark write fills the directory, else created here
  *    after the write returns. A crashed or in-flight `v=N` never lists as
  *    committed;
  *  - a write that fails deletes `v=N` and its claim before rethrowing, so
  *    the next writer can take N;
  *  - the commit INSTANT of a version is its `_SUCCESS` mtime, or the
  *    `_commit_ts` marker an in-place rewrite ([[rewrite]]) carried forward;
  *  - vacuum deletes only committed versions, oldest first, and always
  *    keeps the newest.
  *
  * A writer killed between its claim and its commit still leaves the
  * claim behind; recovering from that needs a commit log. Every operation
  * is driver-side file metadata: no Spark job. */
final class VersionedDir(fs: FileSystem, root: Path) {
  import VersionedDir._

  def path(v: Long): Path = new Path(root, name(v))
  private def claimPath(v: Long) = new Path(root, s"_commits/${name(v)}")

  def isCommitted(v: Long): Boolean = fs.exists(new Path(path(v), Success))

  /** Every committed version, ascending. */
  def committed: Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap(s => parse(s.getPath.getName))
      .filter(isCommitted).sorted

  def latest: Option[Long] = committed.lastOption

  /** The greatest committed version whose commit instant is ≤ `tsMillis`. */
  def asOf(tsMillis: Long): Option[Long] =
    committed.filter(v => commitTime(fs, path(v)).exists(_ <= tsMillis)).lastOption

  /** Take the claim on `v`; false if another writer holds it. */
  private def claim(v: Long): Boolean =
    try { fs.create(claimPath(v), false).close(); true }
    catch { case _: java.io.IOException => false }

  private def release(v: Long): Unit = {
    fs.delete(path(v), true)
    fs.delete(claimPath(v), false)
  }

  /** `write` fills `v=N` under a claim this writer holds; `_SUCCESS`
    * then makes it visible. A failed write releases the version. */
  private def publish(v: Long, write: String => Unit): Long = {
    try {
      write(path(v).toString)
      val success = new Path(path(v), Success)
      if (!fs.exists(success)) fs.create(success, false).close()
    } catch { case e: Throwable => release(v); throw e }
    v
  }

  /** Commit exactly version `v` (optimistic concurrency): throws
    * [[ConcurrentWriteException]] when another writer holds its claim. */
  def commit(v: Long)(write: String => Unit): Long =
    if (claim(v)) publish(v, write)
    else throw new ConcurrentWriteException(s"$root ${name(v)} already claimed by a " +
      "concurrent writer; re-read the latest snapshot and re-merge")

  /** Commit the first free version after the latest committed one: a slot
    * whose directory or claim exists is taken, so the writer moves past
    * it. For writers whose content does not depend on the version they
    * land in (registry artifacts). */
  def commitNext(write: String => Unit): Long = {
    val v = Iterator.iterate(latest.getOrElse(0L) + 1)(_ + 1).take(1000)
      .find(v => !fs.exists(path(v)) && claim(v))
      .getOrElse(throw new IllegalStateException(s"could not claim a version slot under $root"))
    publish(v, write)
  }

  /** Commit `v` for a writer that alone owns the version sequence (a
    * streaming sink under one checkpoint lineage, version = batch id + 1):
    * a claim held without a commit can only be a crashed earlier attempt
    * of the same write, so it is taken over and its partial `v=N` dropped. */
  def recommit(v: Long)(write: String => Unit): Long = {
    if (!claim(v)) fs.delete(path(v), true)
    publish(v, write)
  }

  /** Delete all but the newest `keep` committed versions; returns them.
    * Uncommitted directories (in-flight or crashed writes) are left alone
    * and never count toward `keep`. */
  def vacuum(keep: Int): Seq[Long] = {
    require(keep >= 1, "vacuum must keep at least the current version")
    val doomed = committed.dropRight(keep)
    doomed.foreach(release)
    doomed
  }
}

object VersionedDir {
  private val Success = "_SUCCESS"
  private val CommitTs = "_commit_ts"
  private val Version = """v=(\d+)""".r

  def apply(spark: SparkSession, root: String): VersionedDir = {
    val p = new Path(root)
    new VersionedDir(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The directory name of version `v`. */
  def name(v: Long): String = s"v=$v"

  private def parse(name: String): Option[Long] = name match {
    case Version(n) => scala.util.Try(n.toLong).toOption
    case _ => None
  }

  /** A lost claim: another writer committed, or is committing, the version
    * this writer computed against stale inputs. Callers re-read the latest
    * version and redo their work; a blind retry would replay a MERGE whose
    * base is gone. */
  final class ConcurrentWriteException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** The commit instant of the directory `dir`: the `_commit_ts` a rewrite
    * carried forward, else the `_SUCCESS` mtime, else None (uncommitted). */
  private def commitTime(fs: FileSystem, dir: Path): Option[Long] = {
    val carried = new Path(dir, CommitTs)
    val success = new Path(dir, Success)
    if (fs.exists(carried)) {
      val in = fs.open(carried)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toLong) finally in.close()
    } else if (fs.exists(success)) Some(fs.getFileStatus(success).getModificationTime)
    else None
  }

  /** Rewrite the directory `dir` in place: `write` fills a dot-prefixed
    * staging sibling (invisible to Spark readers and to the version
    * listing), which then carries `dir`'s commit instant forward, since its
    * fresh `_SUCCESS` mtime is the rewrite's time, not the commit's. The old
    * copy is staged aside, not deleted, before the new one is renamed in:
    * a crash between the two renames leaves both copies on disk rather
    * than none, and a failed second rename puts the old copy back. */
  def rewrite(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(p.getParent, s".${p.getName}__rewrite")
    val old = new Path(p.getParent, s".${p.getName}__old")
    write(staged.toString)
    commitTime(fs, p).foreach { ms =>
      val out = fs.create(new Path(staged, CommitTs), true)
      try out.write(ms.toString.getBytes(UTF_8)) finally out.close()
    }
    fs.delete(old, true) // a stranded earlier attempt
    require(fs.rename(p, old), s"could not stage $p aside for the swap")
    if (!fs.rename(staged, p)) {
      fs.rename(old, p)
      throw new IllegalStateException(s"could not publish the rewrite into $p")
    }
    fs.delete(old, true)
  }
}
