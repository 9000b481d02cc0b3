package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `req` groups the spans of one
  * query or pipeline step; `parent` is -1 for a request's root span.
  */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. When off, `span`
  * only runs its body, so traced and untraced runs make the same calls.
  */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int] // ids of the open spans
  private var nextId = 0
  /** Client-thread time spent recording, a lower bound on the overhead. */
  var instrumentNs = 0L

  def span[A](req: Int, name: String)(body: => A): A = {
    if (!on) return body
    val b0 = System.nanoTime()
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val m0 = System.currentTimeMillis()
    open.push(id)
    val s0 = System.nanoTime()
    instrumentNs += s0 - b0
    try body
    finally {
      val e0 = System.nanoTime()
      open.pop()
      spans += Span(id, parent, req, name, s0, e0, m0, System.currentTimeMillis())
      instrumentNs += System.nanoTime() - e0
    }
  }

  /** Runs instrumentation-only work, counting its time as overhead. */
  def instrument(body: => Unit): Unit = if (on) {
    val t0 = System.nanoTime()
    body
    instrumentNs += System.nanoTime() - t0
  }

  /** A child span whose duration the program published instead of the
    * benchmark timing it (the COMPASS sketch-build and enumeration split).
    * Children are laid end to end from the parent's start.
    */
  def published(parent: Span, name: String, ms: Long, offsetNs: Long): Long = {
    if (!on) return offsetNs
    val id = nextId; nextId += 1
    val s0 = parent.startNs + offsetNs
    val dur = math.min(ms * 1000000L, parent.endNs - s0)
    spans += Span(id, parent.id, parent.req, name, s0, s0 + dur,
      parent.startMs + offsetNs / 1000000L, parent.startMs + (offsetNs + dur) / 1000000L)
    offsetNs + dur
  }

  def last: Span = spans.last

  /** Self time per span name: duration minus the part its children cover
    * (children of one parent never overlap on a single client thread).
    */
  def selfNs: Map[String, Long] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durNs - childNs(s.id)).sum
    }
  }
}

/** Task counters from a `SparkListener`, attributed afterwards to the
  * span that was open when each job started. Job groups cannot do this:
  * COMPASS submits its sketch jobs from a shared pool whose threads do not
  * inherit the caller's local properties.
  */
final class Counters extends SparkListener {
  import Counters.Task

  private val jobTime = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobTime.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  final class Sums {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var inRecords = 0L; var inBytes = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  /** Sums per key, where `keyOf(jobStartMs)` names the window a job started
    * in (None: outside every measured window).
    */
  def attribute(keyOf: Long => Option[String]): Map[String, Sums] = {
    val out = mutable.Map.empty[String, Sums]
    val jobKey = jobTime.asScala.map { case (j, t) => j.intValue -> keyOf(t.longValue) }
    jobKey.foreach { case (_, k) => k.foreach(out.getOrElseUpdate(_, new Sums).jobs += 1) }
    tasks.asScala.foreach { t =>
      Option(stageJob.get(t.stage)).flatMap(j => jobKey.getOrElse(j.intValue, None)).foreach { k =>
        val s = out.getOrElseUpdate(k, new Sums)
        s.tasks += 1; s.cpuNs += t.cpuNs; s.gcMs += t.gcMs
        s.inRecords += t.inRecords; s.inBytes += t.inBytes
        s.shuffleWrite += t.shuffleWrite; s.spill += t.spill
      }
    }
    out.toMap
  }
}

object Counters {
  final case class Task(stage: Int, cpuNs: Long, gcMs: Long, inRecords: Long,
      inBytes: Long, shuffleWrite: Long, spill: Long)
}
