package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one workload, one `local[nproc]` session with
  * Spark's default configuration, one closed-loop client thread. Writes a
  * JSON record; `run.py` checks it against DuckDB and prints the metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path)

  /** One closed-loop request: a JOB query or a curation step. */
  final case class Outcome(pass: Int, name: String, latencyNs: Long,
      result: Either[String, Any], compass: Boolean)

  val Workloads = Seq("job-compass", "job-vanilla", "job-compass-cold", "curation")
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: perfbench.Main <workload> <seed> <seconds> <trace> <work> <out>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      Paths.get(argv(4)), Paths.get(argv(5)))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    // Includes the JVM's own start-up, which every user session pays.
    val t0 = System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$nproc]")
      .appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a, t0) finally spark.stop()
  }

  private def run(spark: SparkSession, a: Args, t0: Long): Unit = {
    val wl: Workload = a.workload match {
      case "curation" => new Curation(spark, a)
      case w => new Job(spark, a, compass = w != "job-vanilla",
        cold = w == "job-compass-cold")
    }
    // Set-up is what a user pays once, measured once and cold: session
    // start plus the engine's own set-up (inputs, view registration,
    // template pre-build). There is no warm-up pass: every run measures the
    // first pass of a fresh JVM, JIT compilation and codegen included.
    val started = (System.nanoTime() - t0) / 1e9
    val steps = wl.prepare(a.work)
    val setupS = started + steps.values.sum

    val tracer = new Tracer(a.trace)
    val counters = new Counters
    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val jit0 = jit.getTotalCompilationTime
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val passes = mutable.ArrayBuffer.empty[Double] // wall seconds
    // Set-up garbage is collected before the window, so every run's window
    // starts from the same heap, and the high-water mark has a floor.
    System.gc()
    val heap = new HeapWatch(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    val window0 = System.nanoTime()
    // Whole passes until the window is spent, and at least one: every pass
    // runs the same requests, so pass_s compares like with like. A traced
    // run traces every pass; its first pass sits where an untraced run's
    // does, so the two runs' pass times differ by the tracing overhead.
    var pass = 0
    while (pass == 0 || (System.nanoTime() - window0) / 1e9 < a.seconds) {
      val p0 = System.nanoTime()
      outcomes ++= wl.pass(pass, tracer)
      passes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    heap.stop()
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val jitMs = jit.getTotalCompilationTime - jit0

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      org.apache.spark.perfbench.SparkBus.drain(spark.sparkContext)
      layers ++= wl.layerMetrics(tracer, counters, passes.size)
      layers("driver.gc_ms") = gcMs.toDouble / passes.size
      layers("driver.jit_ms") = jitMs.toDouble / passes.size
      layers("trace.pass_s") = median(passes.toSeq)
      layers("trace.instrument_ms") = tracer.instrumentNs / 1e6 / passes.size
      Files.write(a.work.resolve("spans.json"), Json.writeValueAsBytes(tracer.spans.toSeq))
    }

    val record = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "setup_s" -> setupS,
      "setup_detail" -> (steps + ("session_start_s" -> started)),
      "pass_s" -> passes.toSeq,
      "requests" -> outcomes.map { o =>
        Map("pass" -> o.pass, "name" -> o.name, "latency_ms" -> o.latencyNs / 1e6,
          "compass" -> o.compass,
          "error" -> o.result.left.toOption.orNull,
          "result" -> o.result.toOption.orNull)
      }.toSeq,
      "reference" -> wl.reference,
      "heap_peak_mb" -> heap.peakBytes / 1048576.0,
      "layers" -> layers.toMap,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens")).toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "spark_conf" -> spark.conf.getAll.toMap))
    Files.write(a.out, Json.writeValueAsBytes(record))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Σ numOutputRows over the join operators of an executed plan. */
  def joinRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => joinRows(a.executedPlan)
    case q: QueryStageExec => joinRows(q.plan)
    case _: ReusedExchangeExec => 0L
    case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) + j.children.map(joinRows).sum
    case other => other.children.map(joinRows).sum
  }
}

/** Driver heap high-water mark: the largest heap occupancy right after a
  * collection, from the collectors' MXBean notifications. Occupancy sampled
  * between collections mostly measures how much garbage the collector let
  * accumulate, which varies from run to run; what survives a collection is
  * what the driver actually holds.
  */
final class HeapWatch(startBytes: Long) {
  @volatile var peakBytes = startBytes
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        peakBytes = math.max(peakBytes, after)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

trait Workload {
  /** The engine's set-up, with `dir` for the files it keeps. Returns the
    * seconds of each step.
    */
  def prepare(dir: Path): Map[String, Double]
  def pass(i: Int, t: Tracer): Seq[Main.Outcome]
  /** What run.py checks results against (oracle SQL, data directories). */
  def reference: Map[String, Any]
  def layerMetrics(t: Tracer, c: Counters, passes: Int): Map[String, Double]

  protected def timed(steps: mutable.LinkedHashMap[String, Double], name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime(); body
    steps(name) = (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}
