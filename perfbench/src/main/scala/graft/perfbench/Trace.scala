package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds read from the monotonic clock, so spans and
  * Spark's event times (epoch ms) share one axis. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def ms: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, var end: Double)

/** In-memory spans, opened and closed on the driver's main thread.
  * Queries run one at a time, so a stack gives each span its parent.
  * Disabled, it records nothing. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var open: List[Int] = Nil

  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, open.headOption.getOrElse(-1), name, layer,
        Clock.ms, Double.NaN)
      spans += s
      open = s.id :: open
      try f finally { s.end = Clock.ms; open = open.tail }
    }
}

/** Per-job counters summed from task metrics. */
final class JobStat(val id: Int, val start: Long) {
  var end = 0L
  var tasks, runMs, cpuNs, inBytes, inRows, shRead, shWrite, spill = 0L
}

/** Counts every Spark job and sums its tasks' metrics. Installed on both
  * runs: `stored_per_input` needs the shuffle, spill and input bytes. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, JobStat]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new JobStat(e.jobId, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.inBytes += m.inputMetrics.bytesRead
      j.inRows += m.inputMetrics.recordsRead
      j.shRead += m.shuffleReadMetrics.totalBytesRead
      j.shWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
    }
  }
  def all: Seq[JobStat] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Sums the build-side size of every broadcast exchange in the plans of
  * completed DataFrame actions (traced run only). */
final class BroadcastListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var bytes = 0L
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    bytes += collectWithSubqueries(qe.executedPlan) {
      case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Streaming progress of every query the session starts (traced run). */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  private val started = new ConcurrentHashMap[java.util.UUID, Long]()
  private val stateBytes = new ConcurrentHashMap[java.util.UUID, Long]()
  @volatile var queries, batches = 0L
  @volatile var startMs, batchMs, commitMs = 0.0

  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    queries += 1
    started.put(e.runId, epochMs(e.timestamp))
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    batches += 1
    Option(started.remove(p.runId)).foreach(t0 => startMs += epochMs(p.timestamp) - t0)
    batchMs += d.getOrElse("triggerExecution", 0L)
    commitMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L) +
      d.getOrElse("commitBatch", 0L)
    stateBytes.put(p.runId, p.stateOperators.map(_.memoryUsedBytes).sum)
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def stateTotal: Long = stateBytes.values.asScala.map(_.longValue).sum
}

/** Samples the run's tmpdir (traced run): every top-level directory
  * that was not there when sampling began counts as a scratch dir, and
  * the peak of their summed size is `scratch.bytes_peak`. Spark's own
  * local dirs (shuffle and block files) belong to the exec layer and
  * are left out, as are plain files (native libraries unpacked by
  * codecs). */
final class TmpSampler(dir: File, periodMs: Long) {
  private val baseline = names()
  private val seen = ConcurrentHashMap.newKeySet[String]()
  @volatile var peakBytes = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val fresh = names().diff(baseline)
      fresh.foreach(seen.add)
      val size = fresh.iterator.map(n => Disk.size(new File(dir, n))).sum
      if (size > peakBytes) peakBytes = size
      Thread.sleep(periodMs)
    }
  }, "perfbench-tmp-sampler")
  thread.setDaemon(true)
  thread.start()

  private def names(): Set[String] =
    Option(dir.listFiles()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.isDirectory).map(_.getName)
      .filterNot(n => n.startsWith("blockmgr-") || n.startsWith("spark-"))
  def dirs: Int = seen.size
  def stop(): Unit = { running = false; thread.join() }
}

object Disk {
  /** bytes under `f`, 0 for a path that vanished while being walked */
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.iterator.map(size).sum).getOrElse(0L)
    else f.length()

  /** bytes written through Hadoop's local file system: sinks,
    * artifacts, checkpoints and stream logs. */
  def hadoopLocalBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

object Bus {
  /** Waits until Spark's listener bus has delivered every posted event.
    * The method is public in the bytecode but not in Scala's view. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }
}
