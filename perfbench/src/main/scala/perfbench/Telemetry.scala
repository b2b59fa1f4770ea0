package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One metric as printed: value plus unit. */
final case class Metric(value: Double, unit: String)

/** Host contention telemetry: CPU steal from `/proc/stat`, load average
  * at start and end, and the largest gap seen by a 100 ms sampler
  * thread (a whole-JVM or whole-VM pause shows as a gap far above
  * 100 ms). Nothing here drops a run: the figures are reported so a
  * reader can tell a slow run from a stalled host.
  */
final class HostMonitor {
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      val nums = f.drop(1).map(_.toLong)
      // fields: user nice system idle iowait irq softirq steal ...
      (nums.take(8).sum, if (nums.length > 7) nums(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private val (totalStart, stealStart) = cpuJiffies()
  val loadStart: Double = loadAvg()
  private val maxGapNs = new AtomicLong(0L)
  @volatile private var running = true
  private val sampler = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(100)
      val now = System.nanoTime()
      val gap = now - last
      if (gap > maxGapNs.get()) maxGapNs.set(gap)
      last = now
    }
  }, "perfbench-pause-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def maxGapS: Double = maxGapNs.get() / 1e9

  /** Steal jiffies as a share of all jiffies since start (all CPUs). */
  def stealFrac: Double = {
    val (t, s) = cpuJiffies()
    if (t > totalStart) (s - stealStart).toDouble / (t - totalStart) else 0.0
  }

  def loadEnd: Double = loadAvg()

  def stop(): Unit = { running = false; sampler.join(1000) }
}

/** Everything a finished task reports that the layer table uses. */
final case class TaskRec(
    stageId: Int, launchMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inputRows: Long)

final case class JobRec(jobId: Int, startMs: Long, stageIds: Seq[Int])

/** Spark-level counts for a time window, from [[SparkRecorder]]. */
final case class SparkCounts(
    jobs: Int, stages: Int, tasks: Int, taskRunS: Double, taskCpuS: Double,
    gcS: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputRows: Long)

/** A SparkListener registered through the public
  * `SparkContext.addSparkListener`: it keeps every job and task record
  * with its timestamp, so any wall-clock window of the run can be
  * summed after the fact. Listener delivery is asynchronous; [[settle]]
  * waits until every started job has reported its end.
  */
final class SparkRecorder extends SparkListener {
  private val jobs  = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val ended = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRec(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      e.stageId, e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead))
    ()
  }

  /** Wait (at most 5 s) until every started job has ended on the bus. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (ended.get() < jobs.size && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(50) // task-end events trail their job's end by a few ms
  }

  /** Counts for jobs started in [fromMs, toMs] and their tasks. Stages
    * are those of the jobs; a stage skipped by a shuffle reuse has no
    * tasks and so is counted only when it ran.
    */
  def window(fromMs: Long, toMs: Long): SparkCounts = {
    val js = jobs.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
    val stageSet = js.flatMap(_.stageIds).toSet
    val ts = tasks.asScala.filter(t => stageSet.contains(t.stageId) &&
      t.launchMs >= fromMs && t.launchMs <= toMs + 60000L).toSeq
    SparkCounts(
      jobs = js.size,
      stages = ts.map(_.stageId).distinct.size,
      tasks = ts.size,
      taskRunS = ts.map(_.runMs).sum / 1e3,
      taskCpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWrite = ts.map(_.shuffleWrite).sum,
      shuffleRead = ts.map(_.shuffleRead).sum,
      spill = ts.map(_.spill).sum,
      inputRows = ts.map(_.inputRows).sum)
  }
}

/** Streaming progress through the public `StreamingQueryListener`:
  * micro-batch count and the `addBatch` / `walCommit` phase times.
  */
final class StreamRecorder extends StreamingQueryListener {
  val microBatches = new AtomicLong(0L)
  val addBatchMs   = new AtomicLong(0L)
  val walCommitMs  = new AtomicLong(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    microBatches.incrementAndGet()
    Option(d.get("addBatch")).foreach(v => addBatchMs.addAndGet(v.longValue))
    Option(d.get("walCommit")).foreach(v => walCommitMs.addAndGet(v.longValue))
    ()
  }
}

/** A timed call into one layer. Spans of one request share `request`. */
final case class Span(id: Int, name: String, layer: String, startNs: Long,
    endNs: Long, parent: Int, request: Int) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span store, written out once at the end of the run.
  * A layer's self time is its spans' duration minus the part covered by
  * their child spans.
  */
final class Spans {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  private val currentRequest = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  def request[T](id: Int)(f: => T): T = {
    val prev = currentRequest.get()
    currentRequest.set(id)
    try f finally currentRequest.set(prev)
  }

  /** Run `f` as a span named `name` in `layer`, nested under the
    * thread's current span.
    */
  def apply[T](name: String, layer: String)(f: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = current.get()
    current.set(id)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, name, layer, t0, System.nanoTime(), parent, currentRequest.get()))
      current.set(parent)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def byName(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self seconds per layer over every recorded span. */
  def selfByLayer: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
          .filter(_ > 0).sum
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"request":${s.request}}"""
    }
    Files.write(path, lines.asJava)
    ()
  }
}
