package graft

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** The Spark work one piece of driver code causes, counted by the one
  * listener graft installs. [[measure]] drains the listener bus, opens a
  * scope, runs the body, drains again and closes the scope, so every
  * event of the body's jobs lands in it and nothing from before or after
  * does.
  *
  * Every event delivered while a scope is open counts toward it, whatever
  * thread submitted the job: COMPASS builds its sketches on a pool whose
  * threads do not inherit the caller's job group, and those jobs count
  * too. The flip side is that scopes are for sequential use: two scopes
  * open at once would each see the other's work, so a second one fails.
  */
object Work {

  /** What one scope counted.
    *
    * `resultBytes` and `broadcastBytes` split the task-result bytes
    * shipped to the driver. Broadcast-exchange builds (bounded per build
    * by `autoBroadcastJoinThreshold`) go to `broadcastBytes`; everything
    * else, the collect-shaped ingress, goes to `resultBytes`.
    * `heapPeakBytes` is the JVM heap high-water over the scope, summed
    * over the per-pool peaks reset when it opened. In local mode the
    * executors share the driver's heap, so it is coarse, but it is the
    * number that runs out.
    */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, maxStageTasks: Int,
      shuffleWriteRecords: Long, shuffleWriteBytes: Long,
      resultBytes: Long, broadcastBytes: Long, heapPeakBytes: Long)

  private final class Scope {
    val jobs, stages, tasks, maxStageTasks = new AtomicInteger
    val shuffleRecords, shuffleBytes, resultBytes, broadcastBytes = new LongAdder
    // Stages of broadcast-exchange build jobs: their task results are the
    // broadcast relation itself.
    val broadcastStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
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
      if (tags.contains("broadcast exchange (runId "))
        j.stageIds.foreach(id => s.broadcastStages.add(id): Unit)
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

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isValid && p.getType == MemoryType.HEAP)
  }

  /** Run `body` in a fresh scope; returns its result and what its jobs
    * did. A body that throws closes the scope and rethrows.
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
      val out = body
      Bridge.drainListenerBus(sc)
      val heapPeak = heapPools.map(p => Option(p.getPeakUsage).fold(0L)(_.getUsed)).sum
      (out, Counts(s.jobs.get, s.stages.get, s.tasks.get, s.maxStageTasks.get,
        s.shuffleRecords.sum, s.shuffleBytes.sum, s.resultBytes.sum,
        s.broadcastBytes.sum, heapPeak))
    } finally open = null
  }
}
