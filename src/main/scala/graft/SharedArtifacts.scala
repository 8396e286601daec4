package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

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

  private val store = TrieMap.empty[(SparkSession, Key[_], String), AnyRef]
  // contexts with an eviction listener on their bus; contexts are few
  // and long-lived, so the set stays small
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  def get[V <: AnyRef](s: SparkSession, k: Key[V], dir: String): Option[V] =
    store.get((s, k, dir)).map(_.asInstanceOf[V])

  /** The entry for (s, k, dir), built by `build` on a miss. Concurrent
    * misses may both build; the first insert wins. */
  def getOrElseUpdate[V <: AnyRef](s: SparkSession, k: Key[V], dir: String)
                                  (build: => V): V =
    store.getOrElse((s, k, dir), {
      beforeInsert(s)
      store.getOrElseUpdate((s, k, dir), build)
    }).asInstanceOf[V]

  def put[V <: AnyRef](s: SparkSession, k: Key[V], dir: String, v: V): Unit = {
    beforeInsert(s)
    store.put((s, k, dir), v)
    ()
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

  /** Runs each body on a pooled thread and waits for all of them,
    * rethrowing the first failure. A body submits its Spark jobs into
    * the scheduler pool paired with it (null: the default pool), and
    * the pool is cleared in `finally`, so a pooled thread never carries
    * it onto later work. Under FIFO scheduling the pool is ignored. */
  def concurrently(sc: SparkContext)(bodies: (String, () => Any)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(bodies.map { case (pool, body) =>
      Future {
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try body() finally sc.setLocalProperty("spark.scheduler.pool", null)
      }
    }), Duration.Inf)
    ()
  }
}
