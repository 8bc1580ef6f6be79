package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** JVM-wide counters read around a measured section. */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated by all live threads (HotSpot TLAB counters). Spark's
    * task threads are pooled and long-lived, so a start/end delta covers the
    * section's work. */
  def allocatedBytes(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak used heap since the last [[resetPeak]], summed over the heap
    * pools that hold surviving objects (survivor and old). The eden pool is
    * left out: it always fills to its size before a young collection, so its
    * peak measures the collector's sizing, not the program. */
  def peakHeapBytes(): Long = retainingPools.map(_.getPeakUsage.getUsed).sum

  def resetPeak(): Unit = retainingPools.foreach(_.resetPeakUsage())

  private def retainingPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && !p.getName.contains("Eden"))

  def maxHeapBytes(): Long = Runtime.getRuntime.maxMemory()
}

/** Per-step attribution of Spark work. Each job is keyed on the
  * `graft:<step>` call site that `Crawler.runRound` sets around its steps;
  * jobs without one go to `untagged`. Every job is recorded with its
  * driver-side submit time, and a stage's tasks belong to the first job
  * that lists the stage. [[steps]] keeps the jobs submitted inside the given
  * windows, so the harness's own set-up and checking jobs stay out however
  * late the listener bus delivers their events. Read it only after the bus
  * is drained. */
final class StepListener extends SparkListener {

  private final class Job(val tag: String, val start: Long) {
    var end = start
    val stages = mutable.ArrayBuffer.empty[Int]
  }
  private final case class Task(cpuNs: Long, gcMs: Long, outBytes: Long, shuffleBytes: Long,
      durationMs: Long)

  private val jobs = mutable.Map.empty[Int, Job]
  private val ownedStages = mutable.Set.empty[Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Task]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val job = new Job(StepListener.tagOf(
      Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).orNull), e.time)
    jobs(e.jobId) = job
    e.stageIds.foreach { s =>
      if (ownedStages.add(s)) job.stages += s
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => j.end = math.max(j.start, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += Task(
        m.executorCpuTime, m.jvmGCTime, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        e.taskInfo.duration)
    }
  }

  /** Per-step totals over the jobs submitted inside `windows` (ms since the
    * epoch). */
  def steps(windows: Seq[(Long, Long)]): Map[String, StepListener.Step] = synchronized {
    val out = mutable.Map.empty[String, StepListener.Step]
    jobs.values.filter(j => windows.exists { case (lo, hi) => j.start >= lo && j.start < hi })
      .foreach { j =>
        val s = out.getOrElseUpdate(j.tag, new StepListener.Step)
        s.jobs += ((j.start, j.end))
        j.stages.foreach { id =>
          val ts = stageTasks.getOrElse(id, mutable.ArrayBuffer.empty[Task])
          ts.foreach { t =>
            s.cpuNs += t.cpuNs
            s.gcMs += t.gcMs
            s.tasks += 1
            s.outBytes += t.outBytes
            s.shuffleBytes += t.shuffleBytes
          }
          if (ts.nonEmpty) s.stageTasks(id) = ts.map(_.durationMs)
        }
      }
    out.toMap
  }
}

object StepListener {
  final class Step {
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    var cpuNs, gcMs, tasks, outBytes, shuffleBytes = 0L
    /** task durations (ms) per stage */
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  /** Steps named in the per-layer metrics. The four `compact-<table>` tags
    * fold into one `compact` step; `+` is not allowed in a metric name. */
  val Tags: Seq[String] = Seq(
    "fetch-log-write", "ev-agg", "dedup-chain", "judgments-write", "docs-write",
    "paras-write", "frontier-write", "seen-write", "merge-write", "metrics-write",
    "cuckoo-update", "bloom-update", "compact", "untagged")

  /** Steps whose `out_bytes` are reported (they write a table). */
  val Writes: Set[String] = Set(
    "fetch-log-write", "judgments-write", "docs-write", "paras-write",
    "frontier-write", "seen-write", "merge-write", "metrics-write", "compact")

  /** Steps whose `shuffle_bytes` are reported. */
  val Shuffles: Set[String] = Set("dedup-chain", "untagged")

  def tagOf(callSite: String): String =
    if (callSite == null || !callSite.startsWith("graft:")) "untagged"
    else {
      val t = callSite.stripPrefix("graft:").replace('+', '-')
      if (t.startsWith("compact-")) "compact" else t
    }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  /** max / median task time of the step's stage with the most task time. */
  def skew(s: Step): Double =
    if (s.stageTasks.isEmpty) 0.0
    else {
      val ds = s.stageTasks.values.maxBy(_.sum).sorted
      val med = ds(ds.length / 2)
      if (med <= 0) 0.0 else ds.last.toDouble / med
    }
}
