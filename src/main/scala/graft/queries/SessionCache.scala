package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The one in-memory cache for the maintained shared indexes (postings,
  * pair graph, CC labels, k-means/BPE runs, kNN graph, trained weights,
  * the bucketed/CBO catalog tables, …): build once per session, probe
  * many times.
  *
  * An entry is keyed on (session, label, dataset string, content
  * [[fingerprint]] of the tables the build reads). A summary is valid only
  * for the input it summarizes, so regenerating a dataset in place (same
  * path, new files or mtimes) changes the key and the next call rebuilds
  * instead of serving the old index. Entries are never released: the
  * map holds each session strongly, as every cached DataFrame does.
  *
  * Builds nest (cc_labels → jaccard_pairs → postings) and run Spark jobs,
  * so the map only hands out a holder per key, and the build runs under
  * that holder's own lock: concurrent callers of one key wait for its
  * single build, callers of other keys never block on it, and a build
  * that throws caches nothing (the next caller retries).
  *
  * A build counts in [[CacheStats]] under its label exactly when it runs
  * — unless it was served from a persisted [[IndexStore]] copy, which
  * counts as a reload instead. */
object SessionCache {

  private final case class Key(session: SparkSession, label: String,
      dataset: String, fingerprint: String)
  private final class Holder { var value: Option[Any] = None }

  private val entries = new ConcurrentHashMap[Key, Holder]()

  /** The cached value of `label` over `srcTables` under dataset `d` for
    * session `s`, running `build` on the first call for this content. */
  def get[T](label: String, s: SparkSession, d: String, srcTables: Seq[String])
      (build: => T): T = {
    val holder = entries.computeIfAbsent(
      Key(s, label, d, fingerprint(s, d, srcTables)), _ => new Holder)
    holder.synchronized {
      holder.value match {
        case Some(v) => v.asInstanceOf[T]
        case None =>
          val v = counted(label)(build)
          holder.value = Some(v)
          v
      }
    }
  }

  /** Whether the build running on this thread was served from a
    * persisted copy (set through [[recordReload]]). */
  private val reloaded = ThreadLocal.withInitial[Boolean](() => false)

  private def counted[T](label: String)(build: => T): T = {
    val outer = reloaded.get
    reloaded.set(false)
    try {
      val v = build
      if (!reloaded.get) CacheStats.recordBuild(label)
      v
    } finally reloaded.set(outer)
  }

  /** Called by [[IndexStore]] when it serves `labels` from a persisted
    * copy instead of running the build. */
  private[queries] def recordReload(labels: Seq[String]): Unit = {
    labels.foreach(CacheStats.recordReload)
    reloaded.set(true)
  }

  private val metastoreLock = new Object

  /** Drop `tables` and their warehouse directories, then run `write` to
    * recreate them. The metastore is shared by every session in the JVM,
    * so one JVM-wide lock serializes every DROP/CREATE. A fresh JVM has
    * no metastore entry for a previous run's managed table, but its
    * warehouse directory persists and would make saveAsTable throw
    * LOCATION_ALREADY_EXISTS, so the directory is deleted too. */
  private[queries] def replaceTables(s: SparkSession, tables: Seq[String])
      (write: => Unit): Unit = metastoreLock.synchronized {
    val warehouse = new Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(s.sparkContext.hadoopConfiguration)
    tables.foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      fs.delete(new Path(warehouse, t), true)
    }
    write
  }

  /** Content fingerprint of `srcTables` under dataset `d`: md5 of the
    * dataset, [[IndexStore.builderVersion]], and the (table-root-relative
    * path, length, mtime) of every leaf file of each table. Leaves are
    * listed recursively, because a partitioned table rewrites files inside
    * subdirectories without touching the subdirectory's own status; the
    * path is root-relative, not a basename, because partition values live
    * in directory names, so a moved partition dir must change the key.
    * Each FileSystem is resolved from the path it probes. */
  private[graft] def fingerprint(s: SparkSession, d: String,
      srcTables: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val leaves = srcTables.sorted.flatMap { t =>
      val p = new Path(s"$d/$t")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq(s"$t:missing")
      else {
        val st = fs.getFileStatus(p)
        val files =
          if (st.isDirectory) {
            val it = fs.listFiles(p, true)
            val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
            while (it.hasNext) buf += it.next()
            buf.sortBy(_.getPath.toString).toSeq
          } else Seq(st)
        val root = st.getPath.toString
        files.map(f =>
          s"${f.getPath.toString.stripPrefix(root)}:${f.getLen}:${f.getModificationTime}")
      }
    }.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest((d + "#" + IndexStore.builderVersion + "#" + leaves).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
