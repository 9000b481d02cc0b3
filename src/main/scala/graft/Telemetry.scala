package graft

import graft.StreamQueries.StateFootprint
import graft.job.JobCorpus.CompassRun
import graft.planner.OptimizerQuality

/** Per-lap telemetry scope. Bench opens one [[capture]] around each timed
  * lap of an entry; the code the entry runs adds what it measured through
  * [[record]]. A record made outside any capture is dropped, so callers
  * that never capture (Verify, specs) pay nothing and nothing builds up
  * across entries.
  *
  * The scope is confined to the capturing thread. That is enough because
  * every producer records on the thread that called the entry: the JOB
  * runners after their submission pool's `Await`, the quality battery
  * inline, and the stream drain inline.
  */
object Telemetry {

  /** What one lap recorded; each field has one producer. */
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
      stateFootprints: Map[String, StateFootprint] = Map.empty)

  private val open = new ThreadLocal[Record]

  /** Run `body` in a fresh scope; returns its outcome and exactly what was
    * recorded inside it, also when it failed. A capture nested in another
    * keeps its records from the outer one.
    */
  def capture[T](body: => T): (scala.util.Try[T], Record) = {
    val outer = open.get
    open.set(Record())
    try {
      val out = scala.util.Try(body)
      (out, open.get)
    } finally open.set(outer)
  }

  /** Add to the innermost open scope of this thread; a no-op outside one. */
  def record(update: Record => Record): Unit =
    Option(open.get).foreach(r => open.set(update(r)))
}
