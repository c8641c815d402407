package perfbench

import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Bytes allocated on the Java heap, from the collector's own
  * notifications: what each collection found in use, less what the
  * previous one left. This belongs to the program, unlike the heap's
  * resident size, which the fixed, pre-touched heap makes a constant.
  */
final class HeapMeter extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    .collect { case e: NotificationEmitter => e }
  private var allocatedAtLastGc = 0L
  private var usedAfterLastGc = used()

  emitters.foreach(_.addNotificationListener(this, null, null))

  private def used(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      def heap(m: java.util.Map[String, MemoryUsage]) =
        m.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized {
        allocatedAtLastGc += math.max(0L, heap(gc.getMemoryUsageBeforeGc) - usedAfterLastGc)
        usedAfterLastGc = heap(gc.getMemoryUsageAfterGc)
      }
    }

  /** Bytes allocated since the meter started. */
  def allocated(): Long = synchronized(allocatedAtLastGc + math.max(0L, used() - usedAfterLastGc))

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}
