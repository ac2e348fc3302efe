package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Driver-side measurement of one Spark session, through public listener
  * APIs only.
  *
  * Jobs are attributed to the job group that was set on the submitting
  * thread (the tracer sets one per span); stages and tasks inherit their
  * job's group. Totals over all groups feed the end-to-end metrics. */
final class Probe(sc: SparkContext) extends SparkListener {

  final class Tally {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskCpuNs = 0L
    var shuffleWriteB = 0L
    var shuffleReadB = 0L
    var inputB = 0L
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val lock = new Object
  private val total = new Tally
  private val groups = mutable.HashMap.empty[String, Tally]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedB = 0L
  private var cachedPeakB = 0L
  private val sqlStarts = mutable.ArrayBuffer.empty[(Long, String)]
  private val markersSeen = mutable.HashSet.empty[String]
  private var markerSeq = 0

  private def tallies(g: String): Seq[Tally] =
    if (g == null) Seq(total) else Seq(total, groups.getOrElseUpdate(g, new Tally))

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobGroup(e.jobId) = g
    if (g == null || !g.startsWith(Probe.MarkerPrefix)) {
      e.stageIds.foreach(stageGroup(_) = g)
      tallies(g).foreach(_.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      if (g != null && g.startsWith(Probe.MarkerPrefix)) {
        markersSeen += g
        lock.notifyAll()
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      tallies(g).foreach { t =>
        t.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime) t.windows += ((s, c))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      tallies(g).foreach { t =>
        t.tasks += 1
        if (m != null) {
          t.taskCpuNs += m.executorCpuTime
          t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          t.inputB += m.inputMetrics.bytesRead
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedB += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      cachedPeakB = math.max(cachedPeakB, cachedB)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized {
        sqlStarts += ((s.time, s.description + "\n" + s.details))
      }
    case _ =>
  }

  /** Blocks until every event posted before this call has been delivered
    * to this listener: a one-task marker job runs, and the listener bus
    * delivers its end only after all earlier events. */
  def drain(): Unit = {
    val name = lock.synchronized { markerSeq += 1; s"${Probe.MarkerPrefix}$markerSeq" }
    sc.setJobGroup(name, null)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000L
    lock.synchronized {
      while (!markersSeen(name)) {
        val left = deadline - System.currentTimeMillis()
        require(left > 0, "listener bus did not drain within 60 s")
        lock.wait(left)
      }
      markersSeen -= name
    }
  }

  final case class Snapshot(jobs: Long, stages: Long, tasks: Long,
      taskCpuS: Double, shuffleWriteMb: Double, shuffleReadMb: Double, inputMb: Double,
      windows: Seq[(Long, Long)])

  private def snap(t: Tally): Snapshot = Snapshot(t.jobs, t.stages, t.tasks,
    t.taskCpuNs / 1e9, t.shuffleWriteB / Probe.MB, t.shuffleReadB / Probe.MB, t.inputB / Probe.MB,
    t.windows.toSeq)

  /** Totals over all jobs so far (call [[drain]] first). */
  def totals: Snapshot = lock.synchronized(snap(total))

  /** Totals of one job group (call [[drain]] first). */
  def group(g: String): Snapshot = lock.synchronized(snap(groups.getOrElse(g, new Tally)))

  /** Restarts the persisted-block peak at the bytes held now. */
  def resetCachePeak(): Unit = lock.synchronized { cachedPeakB = cachedB }
  def cachePeakMb: Double = lock.synchronized(cachedPeakB / Probe.MB)

  /** SQL executions started in [from, to] (epoch ms) whose call site
    * matches `pattern`. */
  def sqlExecutions(from: Long, to: Long, pattern: scala.util.matching.Regex): Int =
    lock.synchronized(sqlStarts.count { case (t, d) =>
      t >= from && t <= to && pattern.findFirstIn(d).isDefined
    })
}

object Probe {
  val MB: Double = 1024.0 * 1024.0
  val MarkerPrefix = "perfbench-marker-"

  /** Union length (ms) of closed intervals. */
  def unionMs(ws: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ws.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Process-level JVM readings: CPU time, GC time and old-generation
  * occupancy after each collection (from GC notifications). */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  @volatile private var oldPeakB = 0L

  locally {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          val old = after.collect { case (k, u) if oldPools.exists(_.getName == k) => u.getUsed }.sum
          if (old > oldPeakB) oldPeakB = old
        }
    }
    gcs.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Old-generation bytes in use after the most recent collection. */
  private def oldAfterLastGc: Long =
    oldPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  /** Restarts the old-generation peak at the occupancy after the last GC. */
  def resetOldPeak(): Unit = oldPeakB = oldAfterLastGc
  def oldPeakMb: Double = math.max(oldPeakB, oldAfterLastGc) / Probe.MB
}
