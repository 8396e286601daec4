package graft

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, Executors}

import scala.annotation.tailrec
import scala.collection.concurrent.TrieMap
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanShim

/** The session-scoped store for artifacts that several queries share:
  * one value per (session, artifact, dir).
  *
  *  - Entries are evicted when their session's SparkContext ends. The
  *    first insert for a context installs one ApplicationEnd listener
  *    on it, and that listener sweeps every session of the context.
  *  - Every insert also purges entries whose context has already
  *    stopped, which covers an insert that raced the sweep.
  *  - Sessions churned over one long-lived context (`newSession` per
  *    tenant) keep their entries until that context ends: there is no
  *    per-session lifecycle event to hook. Reuse a session per
  *    (tenant, dir) instead.
  *  - Each entry is built once: concurrent misses on one entry run one
  *    build, and the others wait for it ([[getOrElseUpdate]]).
  *
  * An artifact is a [[SharedArtifacts.Key]]. Keys compare by identity
  * and each name can be claimed once, so two artifacts never read each
  * other's entries.
  */
private[graft] object SharedArtifacts {

  final class Key[V <: AnyRef] private[SharedArtifacts] (val name: String)

  private val names = ConcurrentHashMap.newKeySet[String]()

  /** Claims `name` for a new artifact; a second claim throws. */
  def key[V <: AnyRef](name: String): Key[V] = {
    require(names.add(name), s"shared artifact '$name' is already registered")
    new Key[V](name)
  }

  /** A once-only entry: the first read of `value` runs `build`, and a
    * concurrent read waits for that build instead of starting its own.
    * A build that throws leaves the cell unbuilt, so the next read
    * builds it again. */
  private final class Cell(val stamp: Any, build: => AnyRef) {
    lazy val value: AnyRef = build
  }

  private val store = TrieMap.empty[(SparkSession, Key[_], String), Cell]
  // contexts with an eviction listener on their bus; contexts are few
  // and long-lived, so the set stays small
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  /** The entry for (s, k, dir), built by `build` on a miss. Each entry
    * is built once: a miss that finds the entry's build running waits
    * for it. An entry stored with another `stamp` (say, the
    * [[pathStamp]] of a file since rewritten) is replaced and built
    * again. A build may read other entries; as long as no entry's
    * build reads itself through others, no build waits on its own. */
  def getOrElseUpdate[V <: AnyRef](s: SparkSession, k: Key[V], dir: String,
                                   stamp: Any = ())(build: => V): V = {
    val id = (s, k, dir)
    @tailrec def cell(): Cell = store.get(id) match {
      case Some(c) if c.stamp == stamp => c
      case stale =>
        beforeInsert(s)
        val fresh = new Cell(stamp, build)
        val stored = stale match {
          case None => store.putIfAbsent(id, fresh).isEmpty
          case Some(old) => store.replace(id, old, fresh)
        }
        if (stored) fresh else cell()
    }
    cell().value.asInstanceOf[V]
  }

  private def beforeInsert(s: SparkSession): Unit = {
    store.keys.filter(_._1.sparkContext.isStopped).foreach(store.remove)
    // a context whose bus stopped before the listener could fire
    hooked.removeIf(_.isStopped)
    val sc = s.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          sessionCacheSweep(sc)
      })
  }

  /** Folds every file's (name, length, mtime) in name order, so the
    * stamp does not depend on the order the file system lists them. */
  private[graft] def stampOf(statuses: Seq[org.apache.hadoop.fs.FileStatus]): Long =
    statuses.sortBy(_.getPath.getName).foldLeft(0L) { (acc, st) =>
      var h = acc * 1000003L + st.getPath.getName.hashCode
      h = h * 1000003L + st.getLen
      h * 1000003L + st.getModificationTime
    }

  /** The [[stampOf]] of a file, or of a directory's files: an entry
    * derived from what is stored at `path` keeps this stamp beside it,
    * and a rewrite of the file changes it. */
  def pathStamp(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    stampOf(p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p).toSeq)
  }

  /** Live entries of `s`, across every artifact. */
  private[graft] def sessionCacheEntries(s: SparkSession): Int =
    store.keys.count(_._1 eq s)

  /** What the ApplicationEnd listener runs: drops every entry of every
    * session of `sc`. Callable on a live context, where posting a
    * synthetic ApplicationEnd would also reach Spark's own listeners. */
  private[graft] def sessionCacheSweep(sc: SparkContext): Unit = {
    store.keys.filter(_._1.sparkContext eq sc).foreach(store.remove)
    // a live context keeps its listener: unhooking it would make the
    // next insert stack a second listener on the bus
    if (sc.isStopped) hooked.remove(sc)
    ()
  }

  // the threads of [[concurrently]]: a body that waits on a nested
  // block gets new threads for it, so waits never exhaust the pool
  private lazy val threads = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-concurrently")
    t.setDaemon(true)
    t
  }

  /** Runs each body on a pooled thread and waits for all of them, then
    * rethrows the first body's failure, if any. Each body runs in the
    * caller's Spark context ([[PlanShim.withCallerContext]]): its active
    * session and its job group, description, tags and scheduler pool,
    * so a listener bills its jobs to the caller's group, and
    * `cancelJobGroup` on that group cancels them. */
  def concurrently(s: SparkSession)(bodies: (() => Any)*): Unit = {
    val runs = bodies.map(body => PlanShim.withCallerContext(s, threads)(body()))
    runs.flatMap(r => Try(r.get()).failed.toOption).headOption.foreach {
      case e: ExecutionException if e.getCause != null => throw e.getCause
      case e => throw e
    }
  }
}
