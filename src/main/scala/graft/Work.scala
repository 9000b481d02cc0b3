package graft

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference, LongAdder}
import graft.StreamQueries.StateFootprint
import graft.job.JobCorpus.CompassRun
import graft.planner.{CompassSession, OptimizerQuality}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** What one lap of driver code did: the Spark work it caused, counted by
  * the one listener graft installs, its wall, GC and JIT time, and what
  * the code it ran recorded through [[record]]. [[measure]] drains the
  * listener bus, opens a scope, runs and times the body, drains again and
  * closes the scope, so every event of the body's jobs lands in it and
  * nothing from before or after does; neither drain is timed.
  *
  * Every event delivered and every record made while a scope is open
  * counts toward it, whatever thread made it: COMPASS builds its sketches
  * on a pool whose threads do not inherit the caller's job group, and the
  * JOB runners submit their queries on one, and both count too. The flip
  * side is that scopes are for sequential use: two scopes open at once
  * would each see the other's work, so a second one fails.
  */
object Work {

  /** What the code in a scope recorded; each field has one producer. A
    * record made outside any scope is dropped, so callers that never
    * measure (Verify, most specs) pay nothing.
    */
  final case class Record(
      // q_job_compass: per-query [sketch, enumerate, exec] ms.
      compassRuns: Seq[CompassRun] = Nil,
      // q_job_corpus: per-query wall-clock ms.
      corpusLatencies: Map[String, Long] = Map.empty,
      // q_job_quality: per-family (plan, compass-spine, naive-spine) ms.
      qualityReports: Seq[OptimizerQuality.Report] = Nil,
      // Stream drains, keyed per started stream: per-micro-batch
      // `triggerExecution` ms and the final state-store footprint.
      batchDurations: Map[String, Seq[Long]] = Map.empty,
      stateFootprints: Map[String, StateFootprint] = Map.empty,
      // CompassSession: each query that fell back to its vanilla plan.
      compassFallbacks: Seq[CompassSession.Fallback] = Nil)

  /** What one scope counted.
    *
    * `resultBytes` and `broadcastBytes` split the task-result bytes
    * shipped to the driver. Broadcast-exchange builds (bounded per build
    * by `autoBroadcastJoinThreshold`) go to `broadcastBytes`; everything
    * else, the collect-shaped ingress, goes to `resultBytes`.
    * `broadcastJobs` counts the broadcast-exchange build jobs.
    * `heapPeakBytes` is the JVM heap high-water over the scope, summed
    * over the per-pool peaks reset when it opened. In local mode the
    * executors share the driver's heap, so it is coarse, but it is the
    * number that runs out. `wallNs`, `gcMs` and `jitMs` are the body's
    * wall clock and the JVM's stop-the-world collection and JIT
    * compilation time over it, which separate "the lap's code was
    * slower" from "the JVM charged this lap for accumulated garbage or
    * fresh compilation".
    */
  final case class Counts(jobs: Int, broadcastJobs: Int, stages: Int, tasks: Int,
      maxStageTasks: Int,
      shuffleWriteRecords: Long, shuffleWriteBytes: Long,
      resultBytes: Long, broadcastBytes: Long, heapPeakBytes: Long,
      wallNs: Long, gcMs: Long, jitMs: Long, records: Record)

  private final class Scope {
    val jobs, broadcastJobs, stages, tasks, maxStageTasks = new AtomicInteger
    val shuffleRecords, shuffleBytes, resultBytes, broadcastBytes = new LongAdder
    // Stages of broadcast-exchange build jobs: their task results are the
    // broadcast relation itself.
    val broadcastStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicReference(Record())
  }

  @volatile private var open: Scope = _
  private var installedOn: SparkContext = _

  private object Listener extends SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = Option(open).foreach { s =>
      s.jobs.incrementAndGet()
      // A broadcast build job carries its exchange's job tag, "broadcast
      // exchange (runId …)", with AQE on or off. (The RDD scope names the
      // exchange only when AQE submits the build; without AQE it names
      // whichever operator prepared the plan, and on Spark 4.1 the
      // description property is not set.)
      val tags = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      if (tags.contains("broadcast exchange (runId ")) {
        s.broadcastJobs.incrementAndGet()
        j.stageIds.foreach(id => s.broadcastStages.add(id): Unit)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(open).foreach { s =>
        s.stages.incrementAndGet()
        s.maxStageTasks.accumulateAndGet(e.stageInfo.numTasks, _ max _): Unit
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Option(open).foreach { s =>
      s.tasks.incrementAndGet()
      Option(t.taskMetrics).foreach { m =>
        s.shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
        s.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        if (s.broadcastStages.contains(t.stageId)) s.broadcastBytes.add(m.resultSize)
        else s.resultBytes.add(m.resultSize)
      }
    }
  }

  /** Add to the open scope, from any thread; a no-op outside one. */
  def record(update: Record => Record): Unit =
    Option(open).foreach(_.records.updateAndGet(update(_)): Unit)

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isValid && p.getType == MemoryType.HEAP)
  }

  /** Cumulative (GC, JIT) milliseconds of this JVM. */
  private def gcJitMs(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .fold(0L)(_.getTotalCompilationTime)
    (gc, jit)
  }

  /** Run `body` in a fresh scope; returns its result and what it did. A
    * body that throws closes the scope and rethrows, so a caller that
    * wants a failed body's records wraps it in a `Try`.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val s = synchronized {
      if (installedOn ne sc) { sc.addSparkListener(Listener); installedOn = sc }
      require(open == null, "a Work scope is already open; scopes are sequential")
      Bridge.drainListenerBus(sc)
      heapPools.foreach(p =>
        try p.resetPeakUsage()
        catch { case _: UnsupportedOperationException => () })
      open = new Scope
      open
    }
    try {
      val (gc0, jit0) = gcJitMs()
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      val (gc1, jit1) = gcJitMs()
      Bridge.drainListenerBus(sc)
      val heapPeak = heapPools.map(p => Option(p.getPeakUsage).fold(0L)(_.getUsed)).sum
      (out, Counts(s.jobs.get, s.broadcastJobs.get, s.stages.get, s.tasks.get,
        s.maxStageTasks.get,
        s.shuffleRecords.sum, s.shuffleBytes.sum, s.resultBytes.sum,
        s.broadcastBytes.sum, heapPeak, wallNs, gc1 - gc0, jit1 - jit0, s.records.get))
    } finally open = null
  }
}
