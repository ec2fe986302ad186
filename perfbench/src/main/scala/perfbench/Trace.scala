package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a layer boundary crossed by the benchmark. Times
  * are epoch milliseconds with sub-millisecond precision, the clock the
  * Spark listener's job times also use.
  */
final case class Span(
    id: Long, layer: String, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** JVM-wide span store. Spark runs its executors as threads of this JVM
  * in local mode, so the fetch wrappers record here from inside tasks.
  * Recording is off unless a traced round or pass switches it on.
  */
object Trace {
  @volatile var on: Boolean = false

  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now(): Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def record(layer: String, name: String, startMs: Double, endMs: Double): Unit =
    spans.add(Span(ids.incrementAndGet(), layer, name, startMs, endMs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
  def inLayer(layer: String): Seq[Span] = all.filter(_.layer == layer)

  /** Total length of the union of the given intervals. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Per-job counters gathered from the listener bus. */
final class JobStats(val jobId: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** The traced run's SparkListener: job intervals plus the task metrics of
  * each job's stages. Events arrive on the listener-bus thread; readers
  * call [[drain]] first.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobStats(e.jobId, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get) if m != null) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs that started inside [startMs, endMs). */
  def jobsIn(startMs: Double, endMs: Double): Seq[JobStats] = synchronized {
    jobs.values.filter(j => j.startMs >= math.floor(startMs) &&
      j.startMs < endMs).toSeq
  }

  def all: Seq[JobStats] = synchronized(jobs.values.toSeq)
}

object JobListener {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)
}

/** Layer counters of one traced interval (a crawl round or a query pass,
  * or one query inside a pass).
  */
final case class LayerSplit(
    jobs: Long, tasks: Long, driverGapMs: Double, taskCpuMs: Double,
    shuffleBytes: Long, spillBytes: Long, outputBytes: Long)

object LayerSplit {
  def of(listener: JobListener, startMs: Double, endMs: Double): LayerSplit = {
    val js = listener.jobsIn(startMs, endMs)
    val busy = Trace.unionMs(js.map(j =>
      (j.startMs, if (j.endMs.isNaN) endMs else math.min(j.endMs, endMs))))
    LayerSplit(js.size.toLong, js.map(_.tasks).sum,
      math.max(0.0, endMs - startMs - busy), js.map(_.cpuNs).sum / 1e6,
      js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum,
      js.map(_.outputBytes).sum)
  }
}

/** Adds and removes the job listener around traced intervals, so untraced
  * rounds and passes pay none of its cost.
  */
final class Tracing(sc: SparkContext) {
  val listener = new JobListener

  def start(): Unit = { sc.addSparkListener(listener); Trace.on = true }

  def stop(): Unit = {
    Trace.on = false
    JobListener.drain(sc)
    sc.removeSparkListener(listener)
  }
}
