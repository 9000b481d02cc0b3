package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: runs every query entry at SPARK_GRAFT_SF_DIR and prints
  * ONE JSON line for the driver. A query that throws is recorded with
  * "error" instead of a misleading wall-time (VERDICT r1 "What's wrong" #4).
  */
object Bench {
  /** Full per-entry record destination. Default is UNTRACKED
    * (`target/bench_full.json`): the tracked `BENCH_FULL.json` is a
    * deliberately-committed quiesced record, and r13's driver bench
    * silently overwrote it with a contended-window run — a tracked file
    * every bench run clobbers will eventually commit a contaminated
    * record. Override with GRAFT_BENCH_OUT; promote a quiesced run by
    * copying it over BENCH_FULL.json on purpose.
    */
  def defaultFullOut: java.nio.file.Path =
    java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_BENCH_OUT", "target/bench_full.json"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.LocalSession("graft-bench")
    println(run(spark, sfDir, args.toSet))
    spark.stop()
  }

  /** Session-injected body returning the compact JSON line, so a spec can
    * drive the bench (e.g. against a corrupted table dir) without
    * stopping the shared test session or printing to stdout.
    */
  def run(spark: SparkSession, sfDir: String, only: Set[String],
          fullOut: java.nio.file.Path = defaultFullOut): String = {
    // One-time setup (parquet footer reads for all views) — not attributable
    // to whichever query happens to run first. Guarded: one poisoned table
    // must cost only the entries that read it (each already has a per-entry
    // error path below), not zero the whole benchmark — r10's BENCH was
    // rc=1 with no numbers because this line was the single point of
    // failure.
    // NonFatal, not Throwable: an OutOfMemoryError/LinkageError here means
    // the JVM is broken — misreporting it as 184 per-entry errors would be
    // worse than dying loudly (r11 advice).
    try Tables.registerAll(spark, sfDir)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] registerAll failed: ${e.getMessage}")
    }
    // Full materialization, not count(): under a count() action Catalyst
    // prunes every column, so projection-heavy entries would time a
    // row-count scan rather than the declared surface. toRdd evaluates the
    // final physical plan's UnsafeRows (all output columns) on executors
    // without a driver-side collect.
    def materialize(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // Untimed warm-up lap over cheap representative shapes: absorbs JIT,
    // codegen-compiler and parquet-reader class loading so the first timed
    // entries are not charged for JVM warm-up (a long-lived cluster is warm).
    // q_ilike included: the first ILIKE in a JVM loads Spark's collation-
    // aware string-predicate machinery (~3 s measured, 0.2 s thereafter) —
    // exactly the class of one-time cost this lap exists to absorb.
    val warmup = Set("q1_agg", "q_join_inner", "q_project_arith", "q_scan_full", "q_ilike")
    // A renamed entry must not silently fall out of the lap (the args
    // filter below fails loudly for the same mistake).
    require((warmup -- Queries.all.map(_.name).toSet).isEmpty,
      s"warm-up names not in the entry set: ${warmup -- Queries.all.map(_.name).toSet}")
    Queries.all.filter(e => warmup(e.name)).foreach { e =>
      try materialize(e.run(spark, sfDir)) catch { case NonFatal(_) => () }
      graft.operators.OpCaches.releaseAll(spark)
    }
    // Optional name filter (local iteration: `runMain graft.Bench q_a q_b`);
    // the driver passes no args and gets the full run. Unknown names fail
    // loudly — a typo must not masquerade as a fast (empty) run.
    val unknown = only -- Queries.all.map(_.name).toSet
    require(unknown.isEmpty, s"unknown bench entries: ${unknown.mkString(", ")}")
    val selected =
      if (only.isEmpty) Queries.all else Queries.all.filter(e => only(e.name))
    // PRE_PROCESSING analogue (untimed, like the reference's offline
    // template build): unfiltered sketch templates exist before the first
    // timed compass entry, so entries measure steady-state planning. Only
    // when a compass entry is actually selected — filtered iteration on
    // other entries must not pay the full-table sketch scans.
    if (selected.exists(_.name.startsWith("q_compass")))
      try CompassQueries.warm(spark, sfDir) catch { case NonFatal(_) => () }
    // Same treatment for the persisted IVF index: the BUILD is an
    // amortized offline cost by the operator's own design ("write once,
    // reuse"), so it happens here untimed (one full run primes the
    // per-(session, dir) index); the timed entry then measures the
    // partition-pruned QUERY path the index exists to showcase.
    if (selected.exists(_.name == "q_ann_ivf_indexed"))
      Queries.all.filter(_.name == "q_ann_ivf_indexed").foreach { e =>
        try materialize(e.run(spark, sfDir)) catch { case NonFatal(_) => () }
        graft.operators.OpCaches.releaseAll(spark)
      }
    // Synthetic-IMDb build for the JOB corpus entries is likewise a
    // one-time offline cost (idempotent on-disk dataset, usually already
    // written by a prior Verify run) — not query time. The COMPASS-path
    // entries additionally get their unfiltered sketch templates
    // pre-built (PRE_PROCESSING, same as CompassQueries.warm above) so
    // they measure steady-state planning.
    if (selected.exists(_.name.startsWith("q_job")))
      try {
        graft.job.JobCorpus.ensureData(spark)
        // The corpus entry reads the sf-scaled IMDb at bench scale —
        // build it here, untimed, like the base dataset.
        graft.job.JobCorpus.ensureData(spark, graft.job.JobCorpus.scaleFor(sfDir))
      } catch { case NonFatal(_) => () }
    if (selected.exists(e => e.name == "q_job_compass" || e.name == "q_job_quality"))
      try JobEntries.warmJob(spark) catch { case NonFatal(_) => () }
    // First-streaming-query machinery init — StreamExecution, state-store
    // provider, offset/commit logs, streaming source+sink classes — is a
    // per-JVM one-time cost a long-lived cluster pays once, like JIT
    // (r11 measured it as most of q_stream_windowed's 42.2 s cold vs
    // 8.6 s warm: whichever streaming entry ran first absorbed it). One
    // untimed micro-stream (2 rows, watermark + windowed agg + memory
    // sink) loads that machinery so the timed streaming entries measure
    // steady state and stay round-comparable.
    if (selected.exists(_.name.startsWith("q_stream")))
      // Warm on the tuned child sessions the timed entries actually run
      // on (StreamQueries.warmMachinery) — warming the parent, or only
      // the default child when the corpus volume routes an entry to the
      // 32-partition child, would leave session-scoped init in the
      // first timed cold lap.
      try StreamQueries.warmMachinery(spark, sfDir)
      catch { case NonFatal(_) => () }
    // Headline subset: stable keys for round-over-round comparison; these
    // also get the median-of-3 warm treatment below.
    val headline = Vector(
      "q1_agg", "q_scan_full", "q_join_inner", "q_join_multiway",
      "q_count_distinct", "q_orderby_limit", "q_window_running",
      "q_sessionize_batch", "q_compass_multiway", "q_compass_filtered",
      "q_compass_6way", "q_compass_9way", "q_compass_12way",
      "q_compass_17way", "q_compass_quality",
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram",
      "q_dedup_components", "q_ann_exact", "q_ann_lsh", "q_ann_ivf",
      "q_ann_ivf_indexed", "q_ann_neardup",
      "q_asof_join", "q_range_join", "q_lang_id", "q_text_pipeline",
      "q_lm_score", "q_curation_e2e",
      "q_events_window", "q_job_corpus")
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Double]]
    val warmTimings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Per-entry warm spread [min, median, max] — single-shot times on
    // sub-second queries in a shared sandbox swing 2-4x run-over-run
    // (r7→r8 measured 2.5-4.5x on BYTE-IDENTICAL code), so one sample
    // cannot support a 2x regression gate. Headline entries take 3 warm
    // laps and report the median as the comparable number plus the
    // spread so a real regression is distinguishable from noise.
    val warmSpread = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    // Per-ENTRY (sketch, enumerate, exec) triples for the COMPASS-path JOB
    // entries, from each entry's timed COLD lap (and, under
    // "<entry>#warm_last", its last warm lap). Every lap records into its
    // own Telemetry scope, so a triple always belongs to the lap it is
    // filed under.
    val jobPlanning = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[graft.job.JobCorpus.CompassRun]]
    val jobQuality = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[graft.planner.OptimizerQuality.Report]]
    // Per-query corpus latencies (cold lap): the corpus TOTAL multiplies
    // ambient host load through the concurrent submission (r10-r12: 5-9x
    // driver-vs-quiesced on exactly this entry), while the per-query
    // median is the contention-robust number — both are recorded so the
    // official line is diagnosable without a quiesced replica.
    val jobLatency = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long, Int)]()
    // entry -> family -> (n_queries, median ms, max ms); COLD lap only.
    val jobFamilyLatency = scala.collection.mutable
      .LinkedHashMap[String, Map[String, (Int, Long, Long)]]()
    // Per-streaming-entry micro-batch telemetry (n_batches, median ms,
    // max ms) from the COLD lap: r12's streaming entries doubled under
    // driver contention with no way to tell a uniform slowdown from one
    // stalled batch; this is the streaming analogue of job_planning.
    val streamBatches = scala.collection.mutable.LinkedHashMap[String, (Int, Long, Long)]()
    def latencyStats(lat: Map[String, Long]): Option[(Long, Long, Long, Int)] =
      if (lat.isEmpty) None else {
        val xs = lat.values.toSeq.sorted
        Some((xs(xs.size / 2), xs((xs.size * 9) / 10 min (xs.size - 1)), xs.last, xs.size))
      }
    // Per-lap GC + JIT attribution (r16 verdict #4: the quiesced record's
    // q_job_corpus warm lap ran SLOWER than cold with nothing to
    // attribute it to). Two MXBean reads per lap: cumulative
    // stop-the-world collection time and cumulative JIT compilation time
    // — their per-lap deltas separate "the lap's code was slower" from
    // "the JVM charged this lap for accumulated garbage / fresh
    // compilation".
    def gcJitNow(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val gc = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val jit = Option(java.lang.management.ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime).getOrElse(0L)
      (gc, jit)
    }
    // entry -> per-lap [wall_ms, gc_ms, jit_ms] of its completed laps,
    // cold first.
    val lapTelemetry = scala.collection.mutable
      .LinkedHashMap.empty[String, Vector[(Long, Long, Long)]]
    // One timed lap of an entry: its wall seconds (or the error), its
    // [wall_ms, gc_ms, jit_ms], and what the entry recorded into the
    // lap's Telemetry scope (also when it failed part-way).
    case class Lap(time: Either[String, Double],
        gcJit: (Long, Long, Long), rec: Telemetry.Record)
    def lap(e: Queries.Entry): Lap = {
      val (gc0, jit0) = gcJitNow()
      val t0 = System.nanoTime()
      val (out, rec) = Telemetry.capture(materialize(e.run(spark, sfDir)))
      val ns = System.nanoTime() - t0
      val (gc1, jit1) = gcJitNow()
      Lap(out.toEither.map(_ => ns / 1e9).left.map(ex =>
          Option(ex.getMessage).getOrElse(ex.getClass.getName).take(120)),
        (ns / 1000000, gc1 - gc0, jit1 - jit0), rec)
    }
    // entry -> (task-result bytes shipped to the driver, heap
    // high-water bytes) over the COLD lap — the driver-memory audit
    // channel (r19 verdict #2). Full record only.
    val driverPeaks = scala.collection.mutable
      .LinkedHashMap.empty[String, (Long, Long)]
    DriverFootprint.install(spark)
    selected.foreach { e =>
      // Settle the heap between entries so a 100+-query session's
      // accumulated garbage is not charged to whichever entry GC happens
      // to interrupt (r3 showed ~1.5x uniform drift on join entries).
      System.gc()
      DriverFootprint.reset()
      val cold = lap(e)
      timings(e.name) = cold.time
      if (cold.time.isRight) lapTelemetry(e.name) = Vector(cold.gcJit)
      // Cold-lap driver footprint (snapshot settles the async listener
      // bus AFTER the wall time was recorded, so it cannot contaminate
      // the timing).
      driverPeaks(e.name) = DriverFootprint.snapshot()
      val rec = cold.rec
      if (rec.compassRuns.nonEmpty) jobPlanning(e.name) = rec.compassRuns
      if (rec.qualityReports.nonEmpty) jobQuality(e.name) = rec.qualityReports
      latencyStats(rec.corpusLatencies).foreach(jobLatency(e.name) = _)
      // Per-FAMILY attribution (full record only): the corpus summary
      // hides WHICH families carry the tail; grouping the 113 per-query
      // latencies by their family number (digits prefix of "28a") makes
      // the deep-chain cost directly readable round-over-round.
      if (rec.corpusLatencies.nonEmpty)
        jobFamilyLatency(e.name) = rec.corpusLatencies
          .groupBy { case (q, _) => q.takeWhile(_.isDigit) }
          .map { case (fam, qs) =>
            val xs = qs.values.toSeq.sorted
            fam -> ((xs.size, xs(xs.size / 2), xs.last))
          }
      val durs = rec.batchDurations.values.flatten.toSeq.sorted
      if (durs.nonEmpty)
        streamBatches(e.name) = (durs.size, durs(durs.size / 2), durs.last)
      // Operator-internal persists only serve their own query's action;
      // release them so the 70+-query run doesn't accumulate cache.
      graft.operators.OpCaches.releaseAll(spark)
      // Second, WARM lap of the same entry: the cold number above charges
      // each plan its one-time Janino/JIT compilation (1-2 s for the
      // complex pipelines — measured: minhash runs 3.1 s cold, 1.25 s
      // warm), which a long-lived cluster pays once per plan shape, not
      // per query. Operator persists were released, so this measures
      // recomputation, not cache reads; only generated-code and JIT state
      // carries over. Cold stays the primary (round-comparable) metric.
      if (cold.time.isRight) {
        // The checkpoint-heavy trio measured 3x lap-over-lap swings on
        // identical code (r9 warm_spread) — GC/page-cache jitter on
        // eager-checkpoint entries. 5 laps instead of 3 so their median
        // resolves a 2x regression gate through that noise.
        val checkpointHeavy = Set("q_dedup_minhash", "q_ann_neardup", "q_dedup_components")
        // Median-of-3 exists to resolve sub-second noise; the 40s+
        // sf-scaled corpus entry's relative spread is small (measured
        // 1.16x) and 3 laps of it would dominate the whole bench wall.
        val longRunning = Set("q_job_corpus")
        val nLaps = if (checkpointHeavy(e.name)) 5
          else if (longRunning(e.name)) 1
          else if (headline.contains(e.name)) 3 else 1
        // Lazy: the first failed lap ends the entry's warm laps.
        val warm = Iterator.fill(nLaps) {
          // Between-lap heap settle for the jittery trio: an eager
          // checkpoint mid-lap is where a pending GC lands otherwise.
          if (checkpointHeavy(e.name)) System.gc()
          try lap(e) finally graft.operators.OpCaches.releaseAll(spark)
        }.takeWhile(_.time.isRight).toVector
        lapTelemetry(e.name) ++= warm.map(_.gcJit)
        if (warm.nonEmpty) {
          val sortedLaps = warm.flatMap(_.time.toOption).sorted
          warmTimings(e.name) = sortedLaps(sortedLaps.size / 2)
          warmSpread(e.name) = (sortedLaps.head,
            sortedLaps(sortedLaps.size / 2), sortedLaps.last)
          // Warm-lap telemetry under its own key: the r11 record conflated
          // a warm lap's triples with the round's planning record; keeping
          // BOTH labeled makes a warm>cold anomaly decomposable from the
          // bench file alone.
          val last = warm.last.rec
          if (last.compassRuns.nonEmpty)
            jobPlanning(e.name + "#warm_last") = last.compassRuns
          if (last.qualityReports.nonEmpty)
            jobQuality(e.name + "#warm_last") = last.qualityReports
        }
      }
    }
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
    def jsonOf(m: Iterable[(String, Either[String, Double])]): String = m.map {
      // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
      case (k, Right(t)) =>
        s""""${esc(k)}":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))}"""
      case (k, Left(err)) => s""""${esc(k)}":"error: ${esc(err)}""""
    }.mkString("{", ",", "}")
    val total = timings.values.collect { case Right(t) => t }.sum
    val nErr = timings.values.count(_.isLeft)
    // The driver captures only the LAST 2000 characters of output and
    // parses the JSON line it finds there; a full 110-entry map is ~3.3 kB
    // and can never fit (r3-r5 all recorded parsed:null). So: the full
    // per-entry map goes to a FILE, and stdout gets ONE compact line — a
    // fixed representative subset (stable keys, round-over-round
    // comparable) plus this run's slowest entries and the totals.
    val warmTotal = warmTimings.values.sum
    def f3(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val spreadJson = warmSpread.map { case (k, (mn, md, mx)) =>
      s""""${esc(k)}":[${f3(mn)},${f3(md)},${f3(mx)}]"""
    }.mkString("{", ",", "}")
    // Planning-overhead split for the COMPASS-path JOB subset — the
    // per-query (sketch, enumerate, exec) ms the reference prints per
    // query, keyed by the ENTRY whose timed cold run produced them.
    // Totals go on the compact stdout line; per-query triples only fit
    // the file.
    def planningTotals(runs: Seq[graft.job.JobCorpus.CompassRun]): String =
      s""""sketch_ms":${runs.map(_.sketchMs).sum},"enumerate_ms":${runs.map(_.enumerateMs).sum},"exec_ms":${runs.map(_.execMs).sum}"""
    val jobPlanningFull = jobPlanning.map { case (entry, runs) =>
      s""""${esc(entry)}":""" + runs.map(r =>
          s""""${esc(r.name)}":[${r.sketchMs},${r.enumerateMs},${r.execMs}]""")
        .mkString(s"""{${planningTotals(runs)},"per_query_sketch_enum_exec_ms":{""", ",", "}}")
    }.mkString("{", ",", "}")
    // Per-family (plan, compass-spine, naive-spine) ms decomposition of
    // the quality battery's wall time — the r11 warm-lap anomaly was
    // undiagnosable because the entry's 77 s was one opaque number.
    val jobQualityFull = jobQuality.map { case (entry, reports) =>
      s""""${esc(entry)}":""" + reports.map(r =>
          s""""${esc(r.family)}":[${r.planMs},${r.compassExecMs},${r.naiveExecMs}]""")
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val jobLatencyJson = jobLatency.map { case (k, (med, p90, mx, n)) =>
      s""""${esc(k)}":{"median_ms":$med,"p90_ms":$p90,"max_ms":$mx,"n":$n}"""
    }.mkString("{", ",", "}")
    // Per-family [n, median_ms, max_ms] — families sorted numerically so
    // the record diffs cleanly round-over-round. Full file only.
    val jobFamilyJson = jobFamilyLatency.map { case (entry, fams) =>
      s""""${esc(entry)}":""" + fams.toSeq
        .sortBy { case (f, _) => f.toIntOption.getOrElse(Int.MaxValue) }
        .map { case (f, (n, med, mx)) => s""""${esc(f)}":[$n,$med,$mx]""" }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // skipWhenAllBroadcastable facet (r13 verdict #6): planning ms with
    // the policy OFF vs ON over the 12-family quality subset at this
    // bench's JOB scale, result equality asserted. Untimed (not part of
    // any entry); skipped when the JOB entries are filtered out.
    val skipPolicyJson =
      if (!selected.exists(e => e.name == "q_job_quality")) "null"
      else try {
        val f = graft.job.JobCorpus.measureSkipPolicyAt(spark,
          graft.job.JobCorpus.scaleFor(sfDir))
        s"""{"off_plan_ms":${f.offPlanMs},"on_plan_ms":${f.onPlanMs},"skipped":${f.nSkipped},"families":${f.families},"equal":${f.allEqual}}"""
      } catch { case NonFatal(e) =>
        // Bounded: this string also rides the ~2000-char compact stdout
        // line — an unbounded stack-bearing message would truncate the
        // whole record past the driver's parse window.
        s""""error: ${esc(String.valueOf(e.getMessage).take(80))}""""
      }
    // Per-streaming-entry [n_batches, median_ms, max_ms] — full map in
    // the file; the compact stdout line carries only the 3 largest-max
    // entries (the ~2000-char driver window cannot fit 13 more keys).
    def streamJson(m: Iterable[(String, (Int, Long, Long))]): String =
      m.map { case (k, (n, md, mx)) => s""""${esc(k)}":[$n,$md,$mx]""" }
        .mkString("{", ",", "}")
    // Per-lap [wall_ms, gc_ms, jit_ms] for every entry, cold lap first —
    // the warm>cold attribution channel (r16 verdict #4).
    val lapTelemetryJson = lapTelemetry.map { case (k, lapsT) =>
      s""""${esc(k)}":[${lapsT.map { case (w, g, j) => s"[$w,$g,$j]" }.mkString(",")}]"""
    }.mkString("{", ",", "}")
    // Cold-lap driver footprint: [task-result KB shipped to the driver,
    // heap high-water MB]. Full record only (40+ keys never fit the
    // driver's ~2000-char stdout window).
    val driverPeaksJson = driverPeaks.map { case (k, (rb, hp)) =>
      s""""${esc(k)}":[${rb >> 10},${hp >> 20}]"""
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonOf(timings)},"warm_total":$warmTotal,"warm":${jsonOf(warmTimings.map { case (k, v) => k -> Right(v) })},"warm_spread":$spreadJson,"lap_wall_gc_jit_ms":$lapTelemetryJson,"driver_ingress_kb_heap_peak_mb":$driverPeaksJson,"job_planning":$jobPlanningFull,"job_quality_plan_compass_naive_ms":$jobQualityFull,"job_corpus_latency":$jobLatencyJson,"job_corpus_family_n_med_max_ms":$jobFamilyJson,"skip_policy":$skipPolicyJson,"stream_batches":${streamJson(streamBatches)},"errors":$nErr,"sf":"$sfDir"}"""
    Option(fullOut.toAbsolutePath.getParent)
      .foreach(p => java.nio.file.Files.createDirectories(p): Unit)
    java.nio.file.Files.write(fullOut,
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    val slow = timings.collect { case (k, Right(t)) => k -> t }.toSeq
      .sortBy(-_._2).take(5)
    val compact = (headline.flatMap(k => timings.get(k).map(k -> _)) ++
      timings.filter(_._2.isLeft).take(5) ++ // cap: mass failure must still fit the window
      slow.filterNot(kv => headline.contains(kv._1)).map { case (k, t) => k -> Right(t) }
      ).distinctBy(_._1)
    def f2(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    // The 3 widest warm spreads (max/min ratio) go on the compact line:
    // the driver's window is ~2000 chars, so the full spread map stays in
    // BENCH_FULL.json and stdout carries just enough to flag noise.
    val noisiest = warmSpread.toSeq
      .sortBy { case (_, (mn, _, mx)) => -(mx / math.max(mn, 1e-9)) }.take(3)
      .map { case (k, (mn, md, mx)) =>
        s""""${esc(k)}":[${f2(mn)},${f2(md)},${f2(mx)}]"""
      }.mkString("{", ",", "}")
    val jobPlanningCompact = jobPlanning.map { case (entry, runs) =>
      s""""${esc(entry)}":{${planningTotals(runs)}}"""
    }.mkString("{", ",", "}")
    val streamNoisiest = streamJson(
      streamBatches.toSeq.sortBy { case (_, (_, _, mx)) => -mx }.take(3))
    s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":${jsonOf(compact)},"warm_total":${f2(warmTotal)},"warm_is_median_of_3":true,"warm_spread_noisiest":$noisiest,"job_planning":$jobPlanningCompact,"job_corpus_latency":$jobLatencyJson,"skip_policy":$skipPolicyJson,"stream_batches_noisiest":$streamNoisiest,"errors":$nErr,"n_queries":${timings.size},"full":"$fullOut","sf":"$sfDir"}"""
  }
}
