package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates

/** Percentiles under the reporting rule: a tail percentile is only
  * reported when at least [[MinBeyond]] samples lie beyond it. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile `p` of `xs`; None when `xs` is empty, or when
    * `p` is above the median and fewer than [[MinBeyond]] samples rank
    * above it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    if (xs.isEmpty) return None
    val sorted = xs.sorted
    val rank = math.max(1, math.ceil(p * sorted.length).toInt)
    if (p > 0.5 && sorted.length - rank < MinBeyond) None
    else Some(sorted(rank - 1))
  }

  def median(xs: Seq[Double]): Double =
    percentile(xs, 0.5).getOrElse(Double.NaN)
}

/** Interval arithmetic behind driver gap and span self time. */
object Intervals {
  /** Length of the union of `[start, end)` intervals, clipped to
    * `[lo, hi)`. Overlapping intervals count once. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The part of `[lo, hi)` that no interval covers. */
  def gap(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - covered(iv, lo, hi)
}

/** One traced call into a layer. Times are `System.nanoTime`; `parent` is
  * 0 for a root span; spans of one request share `req`; `group` names the
  * job group whose Spark counters belong to this span. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, req: Long, group: String = "")

object Span {
  /** A span's duration minus the part of it its children cover. */
  def selfNs(span: Span, children: Iterable[Span]): Long =
    Intervals.gap(children.map(c => (c.start, c.end)), span.start, span.end)
}

/** In-memory span store; written out once, when the run ends. Thread-safe:
  * the serving replay records from several client threads. */
final class Recorder {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Spans are only kept while tracing is on. */
  @volatile var on = false

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (on) spans.add(s)

  /** Time `body` as span `name`. */
  def span[T](name: String, parent: Long = 0L, req: Long = 0L, group: String = "")
      (body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    add(Span(nextId(), name, t0, System.nanoTime(), parent, req, group))
    out
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span id. */
  def selfTimes: Map[Long, Long] = {
    val all0 = all
    val byParent = all0.groupBy(_.parent)
    all0.map(s => s.id -> Span.selfNs(s, byParent.getOrElse(s.id, Nil))).toMap
  }

  /** One JSON object per line: the span fields, its self time, and the
    * Spark counters of its job group. */
  def write(path: java.nio.file.Path, counters: SparkCounters): Unit = {
    val self = selfTimes
    val lines = all.sortBy(_.start).map { s =>
      val ctr = (if (s.group.isEmpty) Nil else counters.of(s.group).summary(s.start, s.end))
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"req":${s.req},""" +
        s""""self_ns":${self(s.id)},"counters":{$ctr}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark work attributed to one job group. Job intervals are on the
  * `System.nanoTime` timeline (converted from the listener's epoch ms). */
final class GroupWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var schedWaitMs = 0L
  var fileScanBytes = 0L
  var filesRead = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** The counters, with the driver time of a call over `[start, end)`. */
  def summary(start: Long, end: Long): Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_ms" -> taskMs.toDouble, "sched_wait_ms" -> schedWaitMs.toDouble,
    "driver_ms" -> Intervals.gap(jobIntervals, start, end) / 1e6,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
    "output_bytes" -> outputBytes.toDouble, "file_scan_bytes" -> fileScanBytes.toDouble,
    "files_read" -> filesRead.toDouble)
}

/** The benchmark's own [[SparkListener]]: job, stage and task counters,
  * and the file-scan size and file count that each file-source scan
  * reports to the driver as SQL metric updates. Everything is keyed by
  * the job group the benchmark sets on its calling thread
  * (`spark.jobGroup.id`); a SQL execution is mapped to a group through
  * its jobs' properties, so scans run under a nested execution (a `noop`
  * write's command) count for the group that ran it. */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  // epoch-ms → nanoTime offset, so job intervals line up with spans
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNano(ms: Long): Long = ms * 1000000L - offsetNs

  private val groups = mutable.HashMap.empty[String, GroupWork]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobSubmit = mutable.HashMap.empty[Int, (String, Long)]
  private val jobFirstTask = mutable.HashSet.empty[Int]
  private val execGroup = mutable.HashMap.empty[Long, String]
  // scans reported before any job of their execution was seen
  private val pendingScans = mutable.HashMap.empty[Long, (Long, Long)]

  private def work(g: String): GroupWork = groups.getOrElseUpdate(g, new GroupWork)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.E2eBenchBus.drain(spark.sparkContext)

  /** Counters of `group`, after draining the listener bus. */
  def of(group: String): GroupWork = synchronized(groups.getOrElse(group, new GroupWork))

  def reset(): Unit = synchronized {
    groups.clear(); stageGroup.clear(); stageJob.clear(); jobSubmit.clear()
    jobFirstTask.clear(); execGroup.clear(); pendingScans.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).foreach { x =>
        execGroup(x) = g
        pendingScans.remove(x).foreach { case (b, f) =>
          work(g).fileScanBytes += b; work(g).filesRead += f }
      }
    work(g).jobs += 1
    jobSubmit(e.jobId) = (g, e.time)
    e.stageIds.foreach { s => stageGroup(s) = g; stageJob(s) = e.jobId }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSubmit.remove(e.jobId).foreach { case (g, t0) =>
      work(g).jobIntervals += ((toNano(t0), toNano(e.time)))
    }
    jobFirstTask.remove(e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => work(g).stages += 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      if (!jobFirstTask.contains(j)) {
        jobFirstTask += j
        jobSubmit.get(j).foreach { case (g, t0) =>
          work(g).schedWaitMs += math.max(0L, e.taskInfo.launchTime - t0) }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val w = work(g)
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskMs += m.executorRunTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.outputBytes += m.outputMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerDriverAccumUpdates =>
      val (bytes, files) = org.apache.spark.E2eBenchBus.fileScans(u.accumUpdates)
      if (bytes > 0 || files > 0) synchronized {
        execGroup.get(u.executionId) match {
          case Some(g) => work(g).fileScanBytes += bytes; work(g).filesRead += files
          case None =>
            val (b0, f0) = pendingScans.getOrElse(u.executionId, (0L, 0L))
            pendingScans(u.executionId) = (b0 + bytes, f0 + files)
        }
      }
    case _ => ()
  }
}

/** Process-wide JVM counters. */
object Jvm {
  private def gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU time of the whole process (every thread), in ms: the work the
    * program does, which time stolen by other tenants of the host does
    * not inflate. */
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Peak heap use across heap pools since the last [[resetHeapPeak]]. */
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
