package graft.core

import java.util.concurrent.ConcurrentHashMap
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one memo for driver state derived from data files (row counts and
  * key bounds behind gates and sizing, table schemas, trained models, the
  * SQL surface's child sessions). An entry is keyed by the caller's key
  * and valid for the file listings of the input paths it names, so a
  * file rewritten in place is recomputed, never served stale.
  *  - A listing change recomputes the entry and passes the old value to
  *    `release`.
  *  - A miss drops and releases the entries whose SparkContext stopped or
  *    whose input paths are all gone: no Spark job, one existence check
  *    per live entry. So entries exist for live inputs only.
  *  - Only a successful compute is memoized, never a computed `onError`.
  *    `get` rethrows a failure; `apply` returns the caller's fail-closed
  *    `onError` for this call (Long.MaxValue "too big to broadcast", -1
  *    "unknown, use floor sizing").
  *  - Two threads may compute one key at once: the value that loses the
  *    insert is released and the winner's returned. */
final class ListingMemo[K, V](onError: Option[V] = None, release: V => Unit = (_: V) => ()) {
  private final class Entry(val paths: Seq[String], val listing: String,
                            val owner: SparkContext, val value: V) {
    def validFor(l: String): Boolean = listing == l && !owner.isStopped
  }
  private val entries = new ConcurrentHashMap[K, Entry]()

  def apply(spark: SparkSession, key: K, paths: String*)(compute: => V): V = onError match {
    case Some(e) => scala.util.Try(get(spark, key, paths: _*)(compute)).getOrElse(e)
    case None => get(spark, key, paths: _*)(compute)
  }

  def get(spark: SparkSession, key: K, paths: String*)(compute: => V): V = {
    val conf = spark.sessionState.newHadoopConf()
    val listing = paths.map(ListingMemo.fingerprint(conf, _)).mkString(",")
    val hit = entries.get(key)
    if (hit != null && hit.validFor(listing)) hit.value
    else {
      sweep(conf)
      val v = compute
      if (onError.contains(v)) v else install(key, new Entry(paths, listing, spark.sparkContext, v))
    }
  }

  private[graft] def keys: Seq[K] = entries.keySet.asScala.toSeq

  // only the thread whose putIfAbsent / replace / remove succeeds owns
  // the displaced value, so each value is released once
  @tailrec private def install(key: K, fresh: Entry): V = entries.get(key) match {
    case cur if cur != null && cur.validFor(fresh.listing) => release(fresh.value); cur.value
    case null => if (entries.putIfAbsent(key, fresh) == null) fresh.value else install(key, fresh)
    case cur =>
      if (entries.replace(key, cur, fresh)) { release(cur.value); fresh.value } else install(key, fresh)
  }

  private def sweep(conf: Configuration): Unit = {
    def gone(p: String) =
      scala.util.Try(!new Path(p).getFileSystem(conf).exists(new Path(p))).getOrElse(false)
    entries.forEach { (k, e) =>
      if ((e.owner.isStopped || e.paths.forall(gone)) && entries.remove(k, e)) release(e.value)
    }
  }
}

object ListingMemo {
  /** MD5 of the (name, mtime, length) of every top-level entry under
    * `path`, via the path's Hadoop FS (local, HDFS, S3A): metadata only.
    * An unreadable or absent path is "absent", which never aliases a real
    * listing; MD5, not a 32-bit hash, so no two listings of one path
    * collide in practice. */
  private def fingerprint(conf: Configuration, path: String): String = scala.util.Try {
    val p = new Path(path)
    val listed = p.getFileSystem(conf).listStatus(p)
      .map(f => s"${f.getPath.getName}:${f.getModificationTime}:${f.getLen}").sorted.mkString("|")
    java.util.Base64.getEncoder.encodeToString(java.security.MessageDigest.getInstance("MD5")
      .digest(listed.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }.getOrElse("absent")
}
