package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `req` groups the spans of one
  * request (a dashboard query, a dedup tick, a micro-batch); `parent` is the
  * span that caused it (0 = a root). Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
    name: String, start: Long, end: Long, lane: String)

/** In-memory span recorder. Spans are only kept while `on`; untraced runs pay
  * one volatile read per boundary. Everything is written out at the end. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()

  /** nanoTime of a wall-clock instant (for timestamps Spark reports in ms). */
  private val nanoMinusWall = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromWallMs(ms: Long): Long = ms * 1000000L + nanoMinusWall

  def nextId(): Long = ids.incrementAndGet()

  /** Time `body` as a span of `layer`; child of the calling thread's open
    * span. While open, Spark jobs submitted from this thread are tagged with
    * the layer (a local property the job listener reads). */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val parent = current.get()
    val id = nextId()
    val req = if (parent == null) id else parent.req
    val sc = SparkSession.getDefaultSession.map(_.sparkContext)
    val prevLayer = sc.map(_.getLocalProperty(LayerProp)).orNull
    sc.foreach(_.setLocalProperty(LayerProp, layer))
    val open = Span(id, if (parent == null) 0L else parent.id, req, layer, name,
      System.nanoTime(), 0L, Thread.currentThread().getName)
    current.set(open)
    try body
    finally {
      spans.add(open.copy(end = System.nanoTime()))
      current.set(parent)
      sc.foreach(_.setLocalProperty(LayerProp, prevLayer))
    }
  }

  def record(s: Span): Unit = if (on) spans.add(s)

  val LayerProp = "perfbench.layer"
}

/** Per-job, per-task and per-query-execution records of the Spark runtime,
  * read through Spark's own listener interfaces. */
final class RuntimeListener(queryLayer: String => Option[String])
    extends SparkListener with QueryExecutionListener {

  final case class Job(id: Int, layer: String, start: Long, var end: Long,
      var tasks: Int, var busyMs: Long, var waitMs: Long,
      var shuffleBytes: Long, var spillBytes: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val planPhases = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, end ms)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(Trace.LayerProp)))
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .flatMap(queryLayer))
      .getOrElse("Runtime")
    jobs.put(e.jobId, Job(e.jobId, layer, e.time, e.time, 0, 0, 0, 0, 0))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    val m = Option(e.taskMetrics)
    job.foreach { j =>
      j.synchronized {
        j.tasks += 1
        m.foreach { tm =>
          j.busyMs += tm.executorRunTime
          j.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
          j.spillBytes += tm.diskBytesSpilled + tm.memoryBytesSpilled
        }
        val submitted = Option(stageSubmitted.get(e.stageId))
        submitted.foreach(s => j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.values.foreach(p => planPhases.add((p.startTimeMs, p.endTimeMs)))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Jobs started in [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.start >= fromMs && j.start <= toMs).toSeq
}

/** JVM and codegen counters read as deltas over a measured interval. */
final case class JvmSnap(gcMs: Long, jitMs: Long, cgN: Long, cgMs: Double)

object JvmSnap {
  import java.lang.management.ManagementFactory
  def now(): JvmSnap = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps a sample; count × sample mean estimates total ms
    JvmSnap(gc, jit, h.getCount, h.getCount * h.getSnapshot.getMean)
  }
  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Stat {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
