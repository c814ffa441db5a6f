package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.DataFrame

/** Process-level probes read around every job window: CPU time, bytes
  * written (`wchar`), GC time, the heap left after each collection, and
  * the time spent inside the call that returns a job's DataFrame. */
final class Meters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Bytes this process has passed to write(2) so far. */
  def wchar: Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().collectFirst {
      case l if l.startsWith("wchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
    finally src.close()
  }

  private val heapPeak = new AtomicLong(0L)
  @volatile private var watching = false
  /** Largest heap occupancy after any collection since the last reset. */
  def heapAfterGcPeak: Long = heapPeak.get
  def watchHeap(on: Boolean): Unit = { heapPeak.set(0L); watching = on }

  gcs.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (watching && n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if !pool.contains("Metaspace") &&
                !pool.contains("Code") && !pool.contains("Compressed") =>
                u.getUsed
            }.sum
            heapPeak.accumulateAndGet(used, math.max)
          }
      }, null, null)
    case _ => ()
  }

  private var buildNs = 0L
  /** Time `f` (the call that returns a job's DataFrame) as build time. */
  def building(f: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    try f finally buildNs += System.nanoTime() - t0
  }
  def takeBuildNs(): Long = { val b = buildNs; buildNs = 0L; b }
}

object Meters {
  def brief(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}".take(300)
}
