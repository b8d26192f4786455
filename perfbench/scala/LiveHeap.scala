package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The largest heap occupancy right after a garbage collection while
  * armed. Each pass starts with a full collection, so this is the larger
  * of the data the program keeps between passes and what it holds at a
  * collection during a pass. Unlike the process's resident size it does
  * not follow the heap's configured size. */
object LiveHeap extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0)
  private val gcs = new AtomicLong(0)
  @volatile private var armed = false

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  def arm(): Unit = { peak.set(0); gcs.set(0); armed = true }
  def disarm(): Unit = armed = false
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
  def collections: Long = gcs.get

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      gcs.incrementAndGet()
      peak.accumulateAndGet(used, math.max)
    }
}
