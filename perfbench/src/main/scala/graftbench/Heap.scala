package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Largest old-generation occupancy right after a collection, seen
  * while [[open]] is set: live data that survived GC, which is what
  * a driver holding state grows, unlike the raw heap level. */
object Heap {
  @volatile var open = false
  @volatile private var peak = 0L
  @volatile private var samples = 0

  private def isOld(pool: String) =
    pool.contains("Old Gen") || pool.contains("Tenured")

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (open && n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach {
                case (pool, u) if isOld(pool) =>
                  synchronized { peak = peak max u.getUsed; samples += 1 }
                case _ =>
              }
            }
        }, null, null)
      case _ =>
    }

  /** Peak in MiB over the window; forces one collection at the end so
    * a window without any GC still yields a post-GC reading. */
  def close(): Double = {
    System.gc()
    Thread.sleep(200)
    open = false
    peak / (1024.0 * 1024.0)
  }
}
