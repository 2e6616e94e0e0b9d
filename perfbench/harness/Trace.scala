package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters for one span, attributed exactly: every job a traced
  * call launches carries the span id as a local property, so the
  * asynchronous listener bus can be drained at the end of the run
  * without losing attribution. */
final case class Counts(jobs: Long = 0, tasks: Long = 0, singleTaskJobs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    singleTaskJobs + o.singleTaskJobs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes)
}

/** Listener that folds job, task, shuffle and spill counts into the span
  * that launched them (local property [[SpanListener.Key]]). */
final class SpanListener extends SparkListener {
  private val jobSpan = mutable.Map[Int, Int]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobTasks = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val bySpan = mutable.Map[Int, Counts]().withDefaultValue(Counts())
  @volatile private var started = 0L
  @volatile private var ended = 0L

  private def add(span: Int, c: Counts): Unit = bySpan(span) = bySpan(span) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobTasks(e.jobId) = 0L
    e.stageIds.foreach { s => stageSpan(s) = span; stageJob(s) = e.jobId }
    add(span, Counts(jobs = 1))
    started += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, -1)
    stageJob.get(e.stageId).foreach(j => jobTasks(j) = jobTasks.getOrElse(j, 0L) + 1)
    val m = Option(e.taskMetrics)
    add(span, Counts(tasks = 1,
      shuffleWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobTasks.getOrElse(e.jobId, 0L) == 1L)
      add(jobSpan.getOrElse(e.jobId, -1), Counts(singleTaskJobs = 1))
    ended += 1
  }

  /** Wait (bounded) until every started job has been seen to end and the
    * bus has gone quiet, then return the per-span counts. */
  def drain(): Map[Int, Counts] = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (started != ended || last != started)) {
      last = started
      Thread.sleep(200)
    }
    synchronized(bySpan.toMap)
  }
}

object SpanListener { val Key = "perfbench.span" }

/** One recorded span: a timed call at a layer boundary. */
final case class Span(id: Int, name: String, req: String, parent: Int,
    startNs: Long, endNs: Long, gcMs: Long)

/** In-memory span recorder. When off, [[apply]] only runs the body, so
  * the untraced run pays nothing beyond the boundary timers. */
final class Trace(val on: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var sc: Option[SparkContext] = None
  private var listener: Option[SpanListener] = None
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  /** Prepended to the request id of every span recorded while it is set. */
  var prefix = ""

  def gcMillis(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Attach the span listener to a (new) session's context. */
  def attach(ctx: SparkContext): Unit = if (on && !sc.contains(ctx)) {
    val l = listener.getOrElse { val n = new SpanListener; listener = Some(n); n }
    ctx.addSparkListener(l)
    sc = Some(ctx)
  }

  def apply[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val prev = sc.map(_.getLocalProperty(SpanListener.Key))
      sc.foreach(_.setLocalProperty(SpanListener.Key, id.toString))
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans(id) = Span(id, name, prefix + req, parent, t0, t1, gcMillis() - gc0)
        stack = stack.tail
        sc.foreach(_.setLocalProperty(SpanListener.Key, prev.orNull))
      }
    }

  def recorded: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Per-span Spark counts; own counts only (a parent does not include
    * its children's jobs). */
  def counts(): Map[Int, Counts] = listener.map(_.drain()).getOrElse(Map.empty)
}
