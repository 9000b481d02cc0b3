package graft
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.VectorMap
import scala.util.Try
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

  /** Headline subset: stable keys for round-over-round comparison. They
    * are always on the compact line and take 3 warm laps, except
    * q_job_corpus (1) and the checkpoint-heavy trio (5); every
    * non-headline entry takes 1.
    */
  val Headline = Vector(
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
    // Operator-internal persists and COMPASS's kept survivors only serve
    // their own lap: released after each one, so no lap reads another's.
    def release(): Unit = {
      graft.operators.OpCaches.releaseAll(spark)
      CompassQueries.releaseKeptRows()
    }
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
      release()
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
        release()
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
    // Every lap is one Work scope; the Try keeps a failed lap's records.
    def lap(e: Queries.Entry): Lap = {
      val (t, work) = Work.measure(spark)(Try(materialize(e.run(spark, sfDir))))
      Lap(work, t.failed.toOption.map(ex =>
        Option(ex.getMessage).getOrElse(ex.getClass.getName).take(120)))
    }
    val laps = scala.collection.mutable.LinkedHashMap.empty[String, Laps]
    selected.foreach { e =>
      // Settle the heap between entries so a 100+-query session's
      // accumulated garbage is not charged to whichever entry GC happens
      // to interrupt (r3 showed ~1.5x uniform drift on join entries).
      System.gc()
      val cold = lap(e)
      release()
      // WARM laps of the same entry: the cold lap charges each plan its
      // one-time Janino/JIT compilation (1-2 s for the complex pipelines
      // — measured: minhash runs 3.1 s cold, 1.25 s warm), which a
      // long-lived cluster pays once per plan shape, not per query.
      // Operator persists were released, so a warm lap measures
      // recomputation, not cache reads; only generated-code and JIT state
      // carries over. Cold stays the primary (round-comparable) metric.
      // Single-shot times on sub-second queries in a shared sandbox swing
      // 2-4x run-over-run (r7→r8 measured 2.5-4.5x on BYTE-IDENTICAL
      // code), so headline entries take 3 warm laps and the record keeps
      // their median and spread. The checkpoint-heavy trio measured 3x
      // lap-over-lap swings on identical code (r9 warm_spread): 5 laps so
      // their median resolves a 2x regression gate through that noise.
      // The 40s+ sf-scaled corpus entry's relative spread is small
      // (measured 1.16x) and 3 laps of it would dominate the bench wall.
      val checkpointHeavy = Set("q_dedup_minhash", "q_ann_neardup", "q_dedup_components")
      val nLaps = if (checkpointHeavy(e.name)) 5
        else if (e.name == "q_job_corpus") 1
        else if (Headline.contains(e.name)) 3 else 1
      laps(e.name) = Laps.after(cold, nLaps) {
        // Between-lap GC for the jittery trio: an eager checkpoint
        // mid-lap is where a pending GC lands otherwise.
        if (checkpointHeavy(e.name)) System.gc()
        try lap(e) finally release()
      }
    }
    val record = Record(sfDir, fullOut.toString, laps)
    Option(fullOut.toAbsolutePath.getParent)
      .foreach(p => java.nio.file.Files.createDirectories(p): Unit)
    java.nio.file.Files.write(fullOut, (Records.write(record.full) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    Records.write(record.compact)
  }

  /** Failure text on the compact line is cut to this many chars (the full
    * record keeps the lap's 120): five non-headline failures at 120 chars
    * would push the line past the 2000-char window it is read from.
    */
  private val CompactErrorChars = 24

  /** One measured lap: what its scope counted and, when it failed, the
    * failure text (its first 120 chars).
    */
  final case class Lap(work: Work.Counts, error: Option[String])

  /** An entry's laps: the cold one, then its warm laps up to the first
    * that failed.
    */
  final case class Laps(cold: Lap, warm: Vector[Work.Counts])

  object Laps {
    /** `cold`, then up to `n` runs of `lap`, ending at the first failure,
      * whose counts are dropped. A failed cold lap gets no warm laps.
      */
    def after(cold: Lap, n: Int)(lap: => Lap): Laps = Laps(cold,
      if (cold.error.nonEmpty) Vector.empty
      else Iterator.fill(n)(lap).takeWhile(_.error.isEmpty).map(_.work).toVector)
  }

  /** What one run measured: every entry's laps, in run order. [[full]] is
    * the record the file keeps and [[compact]] is the stdout line; every
    * block of both is a projection of the laps.
    */
  final case class Record(sf: String, fullOut: String,
      laps: collection.Map[String, Laps]) {
    private def entries[V, W](m: Iterable[(String, V)])(f: V => W) =
      m.iterator.map { case (k, v) => k -> f(v) }.to(VectorMap)
    private def wallS(c: Work.Counts) = c.wallNs / 1e9
    private val queries = entries(laps)(l => l.cold.error.toLeft(wallS(l.cold.work)))
    private def total = queries.values.collect { case Right(t) => t }.sum
    private def errors = queries.values.count(_.isLeft)
    private def seconds(t: Either[String, Double], errorChars: Int): Any =
      t.fold("error: " + _.take(errorChars), Records.round(_, 3))
    // Each entry's warm-lap seconds, sorted: the median is its warm time,
    // and [min, median, max] its spread when it has two laps or more.
    private val warmLaps = entries(laps.view.filter(_._2.warm.nonEmpty))(_.warm.map(wallS).sorted)
    private val warm = entries(warmLaps)(xs => xs(xs.size / 2))
    private val warmSpread = entries(warmLaps.filter(_._2.size >= 2))(xs =>
      (xs.head, xs(xs.size / 2), xs.last))
    // What each lap recorded: the cold lap's under the entry's name, the
    // last warm lap's under "<entry>#warm_last", so a warm>cold anomaly
    // is decomposable from the bench file alone.
    private val coldRecords = entries(laps)(_.cold.work.records)
    private val lapRecords = laps.iterator.flatMap { case (k, l) =>
      (k -> l.cold.work.records) +: l.warm.lastOption.map(w => s"$k#warm_last" -> w.records).toSeq
    }.toSeq
    private val jobPlanning = entries(lapRecords)(_.compassRuns).filter(_._2.nonEmpty)
    private val jobQuality = entries(lapRecords)(_.qualityReports).filter(_._2.nonEmpty)
    // Per-query corpus latencies (cold lap): the corpus TOTAL multiplies
    // ambient host load through the concurrent submission (r10-r12: 5-9x
    // driver-vs-quiesced on exactly this entry), while the per-query
    // median is the contention-robust number.
    private val corpusLatencies = entries(coldRecords)(_.corpusLatencies).filter(_._2.nonEmpty)
    // Per streaming entry, its cold lap's micro-batch [n_batches,
    // median_ms, max_ms]: tells a uniform slowdown from one stalled batch.
    private val streamBatches = entries(coldRecords)(_.batchDurations.values.flatten.toVector.sorted)
      .filter(_._2.nonEmpty).map { case (k, ds) => k -> ((ds.size, ds(ds.size / 2), ds.last)) }
    // Planning-overhead split for the COMPASS-path JOB subset: the
    // per-query (sketch, enumerate, exec) ms the reference prints per
    // query, keyed by the ENTRY whose timed lap produced them. Totals go
    // on both lines; per-query triples only fit the file.
    private def planningTotals(runs: Seq[graft.job.JobCorpus.CompassRun]) =
      VectorMap("sketch_ms" -> runs.map(_.sketchMs).sum,
        "enumerate_ms" -> runs.map(_.enumerateMs).sum,
        "exec_ms" -> runs.map(_.execMs).sum)
    private def corpusLatency = entries(corpusLatencies) { lat =>
      val xs = lat.values.toVector.sorted
      VectorMap("median_ms" -> xs(xs.size / 2), "p90_ms" -> xs((xs.size * 9) / 10 min (xs.size - 1)),
        "max_ms" -> xs.last, "n" -> xs.size)
    }

    def full: VectorMap[String, Any] = VectorMap(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> entries(queries)(seconds(_, Int.MaxValue)),
      "warm_total" -> warm.values.sum,
      "warm" -> entries(warm)(Records.round(_, 3)),
      "warm_spread" -> entries(warmSpread) { case (mn, md, mx) =>
        Seq(mn, md, mx).map(Records.round(_, 3)) },
      // Per completed lap [wall_ms, gc_ms, jit_ms], cold first: GC and JIT
      // attribute a warm lap that ran slower than cold (r16 verdict #4).
      "lap_wall_gc_jit_ms" -> entries(laps.view.filter(_._2.cold.error.isEmpty))(l =>
        (l.cold.work +: l.warm).map(c => (c.wallNs / 1000000, c.gcMs, c.jitMs))),
      // Cold-lap [task-result KB shipped to the driver, heap high-water
      // MB]: the driver-memory audit channel (r19 verdict #2).
      "driver_ingress_kb_heap_peak_mb" -> entries(laps)(l =>
        (l.cold.work.resultBytes >> 10, l.cold.work.heapPeakBytes >> 20)),
      "job_planning" -> entries(jobPlanning)(runs => planningTotals(runs) +
        ("per_query_sketch_enum_exec_ms" -> entries(runs.map(r => r.name -> r))(r =>
          (r.sketchMs, r.enumerateMs, r.execMs)))),
      // Per-family (plan, compass-spine, naive-spine) ms of the quality
      // battery: the r11 warm-lap anomaly was undiagnosable while the
      // entry's 77 s was one opaque number.
      "job_quality_plan_compass_naive_ms" -> entries(jobQuality)(reports =>
        entries(reports.map(r => r.family -> r))(r =>
          (r.planMs, r.compassExecMs, r.naiveExecMs))),
      "job_corpus_latency" -> corpusLatency,
      // Per family (the digits prefix of "28a"), [n, median_ms, max_ms]
      // of the cold lap's latencies: which families carry the tail.
      // Families sorted numerically so the record diffs cleanly.
      "job_corpus_family_n_med_max_ms" -> entries(corpusLatencies)(_
        .groupBy { case (q, _) => q.takeWhile(_.isDigit) }.toSeq
        .sortBy { case (f, _) => f.toIntOption.getOrElse(Int.MaxValue) }
        .map { case (f, qs) =>
          val xs = qs.values.toVector.sorted
          f -> ((xs.size, xs(xs.size / 2), xs.last))
        }.to(VectorMap)),
      "stream_batches" -> streamBatches,
      // Per entry, each COMPASS query that fell back to its vanilla plan
      // in any of its laps, cold first, as [exception class, reason];
      // empty on a clean run.
      "compass_fallbacks" -> entries(laps)(l => (l.cold.work +: l.warm)
        .flatMap(_.records.compassFallbacks).map(f => Seq(f.exception, f.reason)))
        .filter(_._2.nonEmpty),
      "errors" -> errors, "sf" -> sf)

    /** The bench line is parsed from the LAST 2000 chars of output, and
      * the full map can never fit (r3-r5 all recorded parsed:null). So
      * stdout carries the headline entries, up to 5 failures and this
      * run's 5 slowest other entries, the 3 widest warm spreads and the 3
      * streaming entries with the largest batch max.
      */
    def compact: VectorMap[String, Any] = {
      val slow = queries.collect { case (k, Right(t)) if !Headline.contains(k) => k -> t }
        .toSeq.sortBy(-_._2).take(5)
      val shown = (Headline.flatMap(k => queries.get(k).map(k -> _)) ++
        queries.filter(_._2.isLeft).take(5) ++
        slow.map { case (k, t) => k -> Right(t) }).distinctBy(_._1)
      val noisiest = warmSpread.toSeq
        .sortBy { case (_, (mn, _, mx)) => -(mx / math.max(mn, 1e-9)) }.take(3)
      VectorMap(
        "metric" -> "total", "value" -> Records.round(total, 2), "unit" -> "sec",
        "queries" -> entries(shown)(seconds(_, CompactErrorChars)),
        "warm_total" -> Records.round(warm.values.sum, 2),
        "warm_spread_noisiest" -> entries(noisiest) { case (mn, md, mx) =>
          Seq(mn, md, mx).map(Records.round(_, 2)) },
        "job_planning" -> entries(jobPlanning)(planningTotals),
        "job_corpus_latency" -> corpusLatency,
        "stream_batches_noisiest" -> streamBatches.toSeq
          .sortBy { case (_, (_, _, mx)) => -mx }.take(3).to(VectorMap),
        "errors" -> errors, "n_queries" -> queries.size,
        "full" -> fullOut, "sf" -> sf)
    }
  }
}
