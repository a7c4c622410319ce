package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped memo of metadata derived from a directory: one value
  * per key per Spark application, valid while the directory's
  * [[SessionMemo.dirStamp]] is unchanged.
  *
  * One rule, applied before every lookup: each entry of another
  * application (a stopped session) and each entry of the looked-up key
  * whose stamp changed is released, then dropped; and whenever a value
  * is computed, so is each entry whose directory no longer exists (a
  * deleted table's value would otherwise live as long as the session).
  * A missing path has no stamp and is never memoized. Lookups on one
  * memo are serialized, so concurrent callers of a key compute it once.
  */
final class SessionMemo[K, V](release: V => Unit) {
  /** (appId, key) -> (directory, stamp, value) */
  private val entries = scala.collection.mutable.HashMap.empty[(String, K), (String, Long, V)]

  /** The value of `key` in session `s`, derived from directory `path`. */
  def apply(s: SparkSession, key: K, path: String)(compute: => V): V = {
    val conf = s.sparkContext.hadoopConfiguration
    get(s.sparkContext.applicationId, key, path, SessionMemo.dirStamp(conf, path),
      p => { val d = new Path(p); d.getFileSystem(conf).exists(d) })(compute)
  }

  /** The rule on plain values: `stamp` is None for a missing `path`, and
    * `exists` tells whether a memoized entry's directory is still there.
    */
  def get(appId: String, key: K, path: String, stamp: Option[Long], exists: String => Boolean)(
      compute: => V): V = synchronized {
    def dropUnless(keep: ((String, K), (String, Long, V)) => Boolean): Unit =
      entries.filterInPlace { (k, e) =>
        val kept = keep(k, e)
        if (!kept) release(e._3)
        kept
      }
    dropUnless { case ((a, k), (_, st, _)) => a == appId && (k != key || stamp.contains(st)) }
    entries.get((appId, key)) match {
      case Some((_, _, v)) => v
      case None =>
        dropUnless { case (_, (p, _, _)) => exists(p) }
        val v = compute
        stamp.foreach(st => entries((appId, key)) = (path, st, v))
        v
    }
  }
}

object SessionMemo {

  /** Release for a memoized Dataset: its cache entry and the RDDs its
    * local checkpoints persisted (the value owns them: nothing else
    * references a checkpoint taken while computing it). A stopped
    * session took its storage down with it, so its Datasets need, and
    * get, no release.
    */
  def unpersist(ds: Dataset[_]): Unit =
    if (!ds.sparkSession.sparkContext.isStopped) {
      ds.unpersist()
      ds.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist()
        case _ =>
      }
    }

  /** Content stamp of a directory tree (or a single file) on any Hadoop
    * filesystem; None when the path does not exist.
    *
    * Walks the tree in sorted name order and folds every file's path
    * relative to `path`, its length and its mtime, then the file count.
    * Marker files count as files, so a job's `_SUCCESS` changes the
    * stamp.
    *
    * Precondition: files under a stamped directory are immutable once
    * committed, as Spark's writers guarantee (a rewrite adds files
    * under fresh names and removes the old ones). A file rewritten in
    * place with the same length within the mtime resolution would keep
    * the stamp.
    */
  def dirStamp(conf: Configuration, path: String): Option[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    var h = -3750763034362895579L // FNV-1a offset basis
    var files = 0L
    def mix(x: Long): Unit = h = (h ^ x) * 1099511628211L
    def walk(st: FileStatus, rel: String): Unit =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName)
          .foreach(k => walk(k, s"$rel/${k.getPath.getName}"))
      else {
        mix(rel.hashCode.toLong)
        mix(st.getLen)
        mix(st.getModificationTime)
        files += 1
      }
    try walk(fs.getFileStatus(root), "")
    catch { case _: java.io.FileNotFoundException => return None }
    mix(files)
    Some(h)
  }
}
