package graft.job

import org.apache.spark.sql.SparkSession
import graft.planner.{CompassSession, SketchTemplateCache}
import scala.concurrent.duration._

/** r17 verdict #1/#2 — the scale campaign: RUN the volume-gated claims
  * instead of arguing them. Facets (one per invocation so each runs in
  * a fresh JVM with no cross-facet warmth):
  *
  *   profiles <m>   — the 113-query corpus on `JobCorpus.executionSession`
  *                    (the routing `runAll` and the bench entry take)
  *                    against the other profile as counterfactual, cold +
  *                    warm laps, counts compared. The trim (AQE/codegen/
  *                    constraint off) is gated on "driver work
  *                    dominates"; at data-dominated scale the dial must
  *                    REVERSE (defaults win) or the gate threshold is
  *                    wrong.
  *   compass <m>    — all 113 queries through the full COMPASS path on a
  *                    PRODUCTION CompassSession (default conf: AQE,
  *                    codegen, constraint propagation all ON) over the
  *                    scaled IMDb: counts equal to the vanilla corpus,
  *                    planning fraction recorded, splice exercised
  *                    against real exchanges + AQE re-planning.
  *   skip <m>       — measureSkipPolicyAt: the all-broadcastable skip
  *                    heuristic must DECLINE to skip once the scaled
  *                    fact tables exceed the broadcast threshold.
  *   capouts <m>    — one capped default-profile lap, then the static
  *                    physical plan of every query that hit the cap.
  *
  * Every child session comes from `JobCorpus.session`, views registered
  * at the facet's scale. Output: one JSON line per facet (stdout),
  * consumed into SCALE.md.
  */
object ScaleCampaignMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleCampaignMain <profiles|compass|skip|capouts> <m>")
    val facet = args(0)
    val m = args(1).toInt
    val spark = graft.engine.LocalSession("graft-scale-campaign")
    try {
      facet match {
        case "profiles" => profiles(spark, m)
        case "compass" => compass(spark, m)
        case "skip" => skip(spark, m)
        case "capouts" => capouts(spark, m)
        case other => sys.error(s"unknown facet $other")
      }
    } finally spark.stop()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One corpus lap with a PER-QUERY job-group cap: the x100 campaign's
    * first uncapped run sat 25+ minutes inside ONE broadcast-probe task
    * (a vanilla-join-order intermediate explosion — at data scale a bad
    * order stops being "slower" and becomes a runaway). Capping turns a
    * straggler into a MEASUREMENT (name + cap recorded) instead of a
    * sunk lap; completed queries keep exact counts and latencies.
    */
  final case class Lap(counts: Map[String, Long], latMs: Map[String, Long],
      timeouts: Seq[String], wallS: Double)

  /** Per-query cap (seconds) for [[cappedLap]]. `GRAFT_QUERY_CAP_SEC`
    * overrides the 120 s default: SCALE.md records campaigns at both 90 s
    * and 120 s.
    */
  private val QueryCapSec: Int =
    sys.env.get("GRAFT_QUERY_CAP_SEC").flatMap(_.toIntOption).getOrElse(120)

  private val lapCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  private def cappedLap(exec: SparkSession): Lap = {
    import scala.util.control.NonFatal
    // Group ids must be unique PER LAP: cancelJobGroupAndFutureJobs marks
    // the id cancelled permanently, so reusing the bare query name would
    // insta-kill the next lap's run of the same query.
    val lapId = lapCounter.incrementAndGet()
    val t0 = System.nanoTime()
    // Right((q, n, ms)) per completed query, Left(q) per cap-out.
    val outcomes = JobCorpus.submitAll(JobCorpus.queries, 180.minutes) {
      case (name, text) =>
        val sc = exec.sparkContext
        val group = s"$name#$lapId"
        sc.setJobGroup(group, name, interruptOnCancel = true)
        val timer = new java.util.Timer(true)
        val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        timer.schedule(new java.util.TimerTask {
          // AndFutureJobs: a cancel landing BETWEEN a query's jobs (AQE
          // runs several per query) must also kill the next one, or the
          // cap silently leaks.
          def run(): Unit = { fired.set(true); sc.cancelJobGroupAndFutureJobs(group) }
        }, QueryCapSec * 1000L)
        val q0 = System.nanoTime()
        try Right((name, exec.sql(text).head().getLong(0), (System.nanoTime() - q0) / 1000000))
        catch { case NonFatal(_) if fired.get => Left(name) }
        finally { timer.cancel(); sc.clearJobGroup() }
    }
    val done = outcomes.collect { case Right(r) => r }
    Lap(done.map(r => r._1 -> r._2).toMap, done.map(r => r._1 -> r._3).toMap,
      outcomes.collect { case Left(q) => q }.sorted, (System.nanoTime() - t0) / 1e9)
  }

  private def lapJson(l: Lap): String = {
    val v = l.latMs.values.toSeq.sorted
    val top = l.latMs.toSeq.sortBy(-_._2).take(5)
      .map { case (q, t) => s""""$q":$t""" }.mkString(",")
    // Per-family [n, median_ms, sum_ms] (r22, verdict #4): the routing
    // decision is per FAMILY, so the facet must attribute latency at
    // that grain — the p50/p90 summary hides which families would win
    // under the other profile.
    val fams = l.latMs.groupBy { case (q, _) => q.takeWhile(_.isDigit) }
      .toSeq.sortBy { case (f, _) => f.toIntOption.getOrElse(Int.MaxValue) }
      .map { case (f, qs) =>
        val xs = qs.values.toSeq.sorted
        s""""$f":[${xs.size},${xs(xs.size / 2)},${xs.sum}]"""
      }.mkString("{", ",", "}")
    val stats =
      if (v.isEmpty) """"p50_ms":0,"p90_ms":0,"max_ms":0,"top5":{}"""
      else s""""p50_ms":${v(v.size / 2)},"p90_ms":${v((v.size * 9) / 10)},""" +
        s""""max_ms":${v.last},"top5":{$top}"""
    s"""{"wall_s":${f"${l.wallS}%.1f"},"completed":${l.counts.size},""" +
      s""""timeouts":${l.timeouts.map("\"" + _ + "\"").mkString("[", ",", "]")},$stats,""" +
      s""""families_n_med_sum_ms":$fams}"""
  }

  /** Chooser-routed corpus laps (r18 facet 1, r19 verdict #5): one side
    * runs on `JobCorpus.executionSession(spark, m)`, the exact code path
    * `runAll` (and hence the bench entry) takes, and the OTHER profile is
    * lapped as the counterfactual, so the record shows the gate picking
    * the measured winner on its own routing, each side of the ×20
    * boundary. Cold laps alternate (each profile's first lap pays its own
    * JIT/codegen), then a warm lap each. Counts must agree on every query
    * that completed in any two laps; a timeout is a latency fact, not a
    * correctness pass. `counts_equal_on` is the number completed in all
    * four.
    */
  private def profiles(spark: SparkSession, m: Int): Unit = {
    val routedTrim = JobCorpus.useInteractiveProfile(m)
    val routed = JobCorpus.executionSession(spark, m)
    val other = JobCorpus.session(spark, trim = !routedTrim, m)
    val coldR = cappedLap(routed)
    val coldO = cappedLap(other)
    val warmR = cappedLap(routed)
    val warmO = cappedLap(other)
    val laps = Seq(coldR, coldO, warmR, warmO)
    val diverging = laps.flatMap(_.counts.keys).distinct
      .filter(q => laps.flatMap(_.counts.get(q)).distinct.size > 1)
    require(diverging.isEmpty,
      s"profile counts diverge at x$m on: ${diverging.sorted.take(5)}")
    val common = laps.map(_.counts.keySet).reduce(_ intersect _)
    println(s"""{"facet":"profiles","m":$m,"queries":113,""" +
      s""""routed_profile":"${if (routedTrim) "interactive-trim" else "default"}",""" +
      s""""cap_sec":$QueryCapSec,"counts_equal_on":${common.size},""" +
      s""""routed_cold":${lapJson(coldR)},"other_cold":${lapJson(coldO)},""" +
      s""""routed_warm":${lapJson(warmR)},"other_warm":${lapJson(warmO)}}""")
  }

  /** Full corpus through COMPASS on a PRODUCTION-conf session. Counts
    * are PRINTED in full and checked offline against an independent
    * DuckDB twin over the same scaled parquet — at x100 a vanilla-Spark
    * comparison lap is not available as a truth source (the profiles
    * facet measured ~20% of the corpus exploding past a 90 s/query cap
    * without sketch-informed ordering).
    */
  private def compass(spark: SparkSession, m: Int): Unit = {
    val prod = JobCorpus.session(spark, trim = false, m) // AQE + codegen ON
    val cs = new CompassSession(prod,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      // PRE_PROCESSING (untimed, the reference's own shape).
      val nTemplates = JobCorpus.warmCompassAt(spark, cs, m)
      val (runsCold, tCold) = timed(JobCorpus.runCompassFull(spark, cs, m))
      val (runsWarm, tWarm) = timed(JobCorpus.runCompassFull(spark, cs, m))
      val cCmp = runsCold.map(r => r.name -> r.count).toMap
      def split(rs: Seq[JobCorpus.CompassRun]): (Long, Long, Long) =
        (rs.map(_.sketchMs).sum, rs.map(_.enumerateMs).sum, rs.map(_.execMs).sum)
      val (skC, enC, exC) = split(runsCold)
      val (skW, enW, exW) = split(runsWarm)
      val execTop = runsCold.sortBy(-_.execMs).take(5)
        .map(r => s""""${r.name}":${r.execMs}""").mkString(",")
      val countsJson = cCmp.toSeq.sorted
        .map { case (q, n) => s""""$q":$n""" }.mkString(",")
      println(s"""{"facet":"compass","m":$m,"queries":${cCmp.size},""" +
        s""""templates":$nTemplates,""" +
        s""""compass_cold_s":${f"$tCold%.1f"},"compass_warm_s":${f"$tWarm%.1f"},""" +
        s""""cold_ms":{"sketch":$skC,"enumerate":$enC,"exec":$exC},""" +
        s""""warm_ms":{"sketch":$skW,"enumerate":$enW,"exec":$exW},""" +
        s""""planning_fraction_cold":${f"${(skC + enC).toDouble / math.max(1, skC + enC + exC)}%.3f"},""" +
        s""""planning_fraction_warm":${f"${(skW + enW).toDouble / math.max(1, skW + enW + exW)}%.3f"},""" +
        s""""exec_top5_ms":{$execTop},"counts":{$countsJson}}""")
    } finally cs.close()
  }

  /** r21 verdict #7 — adjudicate the ×100 cap-outs at plan level: ONE
    * capped cold lap on the winning (default/AQE) profile names the
    * queries that hit the cap, then each cap-out's static physical plan
    * is summarized (join strategies, exchange count, estimated sizes) so
    * the record says WHAT they wait on, not just that they time out.
    */
  private def capouts(spark: SparkSession, m: Int): Unit = {
    val dflt = JobCorpus.session(spark, trim = false, m)
    val lap = cappedLap(dflt)
    val byName = JobCorpus.queries.toMap
    val planSummaries = lap.timeouts.map { q =>
      val plan = dflt.sql(byName(q)).queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(plan).size
      s""""$q":{"smj":${n("SortMergeJoin")},"bhj":${n("BroadcastHashJoin")},""" +
        s""""shj":${n("ShuffledHashJoin")},"exchanges":${n("Exchange ")},""" +
        s""""nested_loop":${n("NestedLoop")}}"""
    }.mkString("{", ",", "}")
    println(s"""{"facet":"capouts","m":$m,"cap_sec":$QueryCapSec,""" +
      s""""completed":${lap.counts.size},"wall_s":${f"${lap.wallS}%.1f"},""" +
      s""""timeouts":${lap.timeouts.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""timeout_plans":$planSummaries,"lap":${lapJson(lap)}}""")
  }

  private def skip(spark: SparkSession, m: Int): Unit = {
    val f = JobCorpus.measureSkipPolicyAt(spark, m)
    println(s"""{"facet":"skip","m":$m,"off_plan_ms":${f.offPlanMs},""" +
      s""""on_plan_ms":${f.onPlanMs},"n_skipped":${f.nSkipped},""" +
      s""""families":${f.families},"all_equal":${f.allEqual}}""")
  }
}
