package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the span tree (run → pass → op → layer call →
  * Spark job). Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Task metrics summed over one Spark job. */
final class JobStats(val jobId: Int, val span: Int, val start: Long) {
  var end: Long = start
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var serialStageNs = 0L
}

/** Collects jobs, stages and task metrics, attributing each job to the
  * span that was open on the submitting thread (the `Tracer.SpanKey`
  * job-local property). Listener times are wall-clock milliseconds;
  * `clockOffset` maps them onto the `nanoTime` axis of the spans. */
final class JobListener(clockOffset: Long) extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]

  private def nanos(ms: Long): Long = ms * 1000000L + clockOffset

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobStats(e.jobId, span, nanos(e.time))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = nanos(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).foreach { j =>
        j.stages += 1
        for (s <- info.submissionTime; c <- info.completionTime
             if info.numTasks == 1)
          j.serialStageNs += (c - s) * 1000000L
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.inputRecords += m.inputMetrics.recordsRead
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced passes carry no listener and no extra calls. Enabled, each
  * span tags the jobs it submits and the listener is drained before
  * its counters are read. */
final class Tracer(sc: SparkContext) {
  private val clockOffset =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  private var nextId = 0
  private val open = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var listener: JobListener = _
  /** Jobs of every traced pass so far. */
  val jobs = mutable.ArrayBuffer.empty[JobStats]

  def enabled: Boolean = listener != null

  /** The id the next span will get. */
  def nextSpanId: Int = nextId

  def start(): Unit = {
    listener = new JobListener(clockOffset)
    sc.addSparkListener(listener)
  }

  /** Drain the bus, detach the listener and keep its jobs. */
  def stop(): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    jobs ++= listener.synchronized(listener.jobs.values.toSeq)
    listener = null
    sc.setLocalProperty(Tracer.SpanKey, null)
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (open.isEmpty) -1 else open.top
      open.push(id)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.pop()
        sc.setLocalProperty(Tracer.SpanKey,
          if (open.isEmpty) null else open.top.toString)
        spans += Span(id, parent, name, layer, t0, t1)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
