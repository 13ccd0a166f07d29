package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Task metrics summed per Spark job group (one group per traced span). */
final class GroupStats {
  var cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill: Long = 0L
  var tasks, failedTasks: Long = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** The benchmark's own `SparkListener`: folds every finished task into its
  * job group and into process-wide totals. Listener events arrive
  * asynchronously, so readers call [[drain]] first. */
final class Meter(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val drains = mutable.HashMap.empty[String, CountDownLatch]
  private var totalCpuNs, totalFailed = 0L
  private var drainSeq = 0

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    if (g != null) {
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).flatMap(drains.remove).foreach(_.countDown())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = e.reason != Success
    if (failed) totalFailed += 1
    val m = e.taskMetrics
    if (m != null) totalCpuNs += m.executorCpuTime
    stageGroup.get(e.stageId).foreach { g =>
      val s = groups.getOrElseUpdate(g, new GroupStats)
      s.tasks += 1
      if (failed) s.failedTasks += 1
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
    * the listener bus is FIFO, so seeing the end of a sentinel job submitted
    * now means all earlier task-end events are already folded in. */
  def drain(): Unit = {
    val (g, latch) = synchronized {
      drainSeq += 1
      val g = s"__drain$drainSeq"
      val l = new CountDownLatch(1)
      drains(g) = l
      (g, l)
    }
    sc.setJobGroup(g, g)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }

  def stats(g: String): GroupStats = synchronized(groups.getOrElse(g, new GroupStats))
  def executorCpuNs: Long = synchronized(totalCpuNs)
  def failedTasks: Long = synchronized(totalFailed)
}

/** Host-side readings taken around each timed sample. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  /** (steal, total) jiffies of the aggregate `cpu` line of /proc/stat. */
  def stealTotal: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  def stealFrac(before: (Long, Long), after: (Long, Long)): Double = {
    val total = after._2 - before._2
    if (total <= 0) 0.0 else (after._1 - before._1).toDouble / total
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** The window control: a pinned single-thread workload (parse the
    * embedding fixture corpus a fixed number of times on this thread). Its
    * time moves only with the host, so a slow sample with a slow control is
    * a noisy window, not a regression. */
  def control(): Double = {
    val docs = graft.kg.FixtureCorpus.productionSafe
    val t0 = System.nanoTime()
    var i = 0
    while (i < 1500) {
      docs.foreach(graft.turtle.TurtleParser.parseFull)
      i += 1
    }
    (System.nanoTime() - t0) / 1e9
  }
}
