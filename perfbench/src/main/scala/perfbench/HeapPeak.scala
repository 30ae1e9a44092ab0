package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The largest heap occupancy any garbage collection left behind: the
  * sum over heap pools of their usage right after each collection, the
  * peak taken since the last `take`. Unlike the process's peak RSS it
  * does not follow how much of a fixed-size heap the collector happened
  * to touch. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(-1L)
  private val collections = new AtomicLong(0L)
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(after, math.max)
        collections.incrementAndGet()
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }

  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Run a full collection, wait until its notification has arrived, and
    * start a new peak after it. */
  def collectAndReset(): Unit = {
    val seen = collections.get
    System.gc()
    val deadline = System.nanoTime() + 1000000000L
    while (collections.get == seen && System.nanoTime() < deadline) Thread.sleep(1)
    peak.set(-1L)
  }

  /** The peak in bytes since the last `take`, if any collection ran since. */
  def take(): Option[Long] = Some(peak.getAndSet(-1L)).filter(_ >= 0)

  /** Stop listening; the number of collections seen. */
  def stop(): Long = {
    emitters.foreach(e => try e.removeNotificationListener(listener) catch { case _: Exception => })
    collections.get
  }
}
