package graft

import graft.job.JobCorpus
import graft.planner.{CompassSession, SketchTemplateCache}
import org.scalatest.funsuite.AnyFunSuite

/** The literal JOB workload over the synthetic IMDb: every query must
  * analyze, a sample must execute (the full 113 run in Verify each
  * round), the COMPASS subset must take the optimized path and return
  * the vanilla counts, and the generator must be deterministic.
  */
class JobCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("all 113 queries parse and analyze against the synthetic schema") {
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    assert(JobCorpus.queries.size == 113)
    JobCorpus.queries.foreach { case (name, text) =>
      // Analysis resolves every table/column against the generated
      // schema — a generator column drift fails here, cheaply.
      spark.sql(text).queryExecution.assertAnalyzed()
    }
  }

  test("sampled corpus queries execute; workload predicates select nonzero rows") {
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    val sample = JobCorpus.queries.zipWithIndex.filter(_._2 % 5 == 0).map(_._1)
    val counts = sample.map { case (name, text) =>
      name -> spark.sql(text).head().getLong(0)
    }
    info(counts.map { case (n, c) => s"$n=$c" }.mkString(" "))
    assert(counts.forall(_._2 >= 0))
    // The pools are seeded from the workload's own literals — a healthy
    // generator makes a majority of the sampled shapes nonzero. (Zero
    // counts still differential-check correctly; this guards against a
    // silently-degenerate generator where EVERYTHING is zero.)
    assert(counts.count(_._2 > 0) * 2 >= counts.size,
      s"most sampled queries count zero: $counts")
  }

  test("COMPASS subset takes the optimized path and matches vanilla counts") {
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      val viaCompass = JobCorpus.runCompassSubset(spark, cs)
        .map(r => r.name -> r.count).toMap
      val byName = JobCorpus.queries.toMap
      JobCorpus.compassSubset.foreach { name =>
        val vanilla = spark.sql(byName(name)).head().getLong(0)
        assert(viaCompass(name) == vanilla,
          s"JOB $name: compass=${viaCompass(name)} vanilla=$vanilla")
      }
    } finally cs.close()
  }

  test("optimizer quality on literal JOB queries: no catastrophic order, aggregate win") {
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      val byName = JobCorpus.queries.toMap
      // qualitySubset, not the full 33-family compassSubset: two spine
      // executions per query bound what fits a test run, same as the
      // driver entry (q_job_quality).
      val reports = JobCorpus.qualitySubset.map { name =>
        val r = graft.planner.OptimizerQuality.compare(spark, cs, name, byName(name))
        info(s"$name: compass=${r.compassSum} naive=${r.naiveSum} " +
          s"order=${cs.lastPlan.map(_.order.mkString("->")).getOrElse("?")}")
        r
      }
      val bad = reports.filter(r => r.compassSum > 2L * r.naiveSum + 100)
      assert(bad.isEmpty, s"catastrophic JOB orders: ${bad.map(r =>
        s"${r.family} ${r.compassSum} vs ${r.naiveSum}")}")
      assert(reports.map(_.compassSum).sum <= reports.map(_.naiveSum).sum,
        "compass lost to stock in aggregate on the JOB subset")
      // Liveness: at least one query must measure nonzero intermediates.
      assert(reports.map(_.naiveSum).sum > 0,
        "all JOB naive sums zero — metrics not read from executed plans?")
    } finally cs.close()
  }

  test("skip-policy facet: all 12 quality families skip at x1, results identical, OFF side on-path") {
    // The bench facet (r13 verdict #6) must mean what it claims: with
    // the policy ON the pre-pass is skipped (lastPlan None) for every
    // all-but-one-broadcastable family, results match the full-pre-pass
    // session bit-for-bit, and the OFF side demonstrably took the
    // COMPASS path (the facet raises otherwise — a planner regression
    // must not masquerade as a successful skip).
    val f = JobCorpus.measureSkipPolicyAt(spark, 1)
    assert(f.families == 12 && f.nSkipped == 12,
      s"expected all 12 families to skip at x1, got ${f.nSkipped}")
    assert(f.allEqual, "policy ON changed a result")
    assert(f.onPlanMs < f.offPlanMs,
      s"skipping must cost less planning than the full pre-pass " +
        s"(on=${f.onPlanMs}ms off=${f.offPlanMs}ms)")
  }

  test("estimator-mode A/B across ALL 33 JOB families: documented exceptions, bounded losses") {
    // ESTIMATES.md §4 gate (r13 verdict #5): the three estimator modes
    // are enumerated over ONE shared sketch set per family and each
    // distinct order's Σ TRUE intermediates measured. The committed
    // finding: reference-math ranks better on 14 JOB families (pinned
    // below), cascade on 9, and the disagreements are genuine ranking
    // differences (cascade's own model prefers its losing picks). A
    // drift of any mode into the catastrophic regime — or the exception
    // set silently growing — fails here, not at scale.
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      // Deterministic fixture: warm the FULL corpus's unfiltered
      // templates first. The tiny-template shortcut reads the PERSISTENT
      // cache, so a partially-warm /tmp state changes which estimates a
      // family sees (r17: 9a's cascade choice flipped when unrelated
      // variants' templates appeared). Fully-warmed is both a fixed
      // point — any machine converges after one warm — and the
      // reference's own headline fixture (PRE_PROCESSING builds ALL
      // templates before the experiment, COMPASS_init_variables.txt:6).
      JobCorpus.warmCompassAt(spark, cs, 1)
      val rows = JobCorpus.abEstimatorModes(spark, cs)
      assert(rows.size == 33)
      // The documented exceptions: families where the reference's
      // unconditional product-median beats the cascade in measured truth
      // (deterministic corpus -> deterministic set; ESTIMATES.md §4).
      // r17: re-pinned under the fully-warmed-template fixture (9a and
      // 10a joined — their tiny filtered instances are now served
      // unfiltered template counts, which shifts cascade's ranking).
      val refWins = Set("1a", "2d", "4a", "5c", "7a", "8a", "9a", "10a",
        "11a", "13a", "14a", "15d", "17e", "18a", "21a", "27a")
      rows.foreach { r =>
        info(s"${r.family}: ref=${r.refSum} cas=${r.casSum} hyb=${r.hybSum}" +
          (if (r.agree) " (agree)" else ""))
        if (!refWins.contains(r.family))
          assert(r.cascadeWinsOrTies,
            s"${r.family}: cascade newly LOSES to reference " +
              s"(${r.casSum} > ${r.refSum}) outside the documented set")
        else
          assert(r.casSum <= 5L * r.refSum + 64,
            s"${r.family}: cascade's documented loss exceeded its bound")
        // The shipping hybrid must never pick catastrophically: within
        // 5x+64 of the better mode on every family.
        assert(r.hybSum <= 5L * math.min(r.refSum, r.casSum) + 64,
          s"${r.family}: hybrid order catastrophic (${r.hybSum} vs " +
            s"ref=${r.refSum} cas=${r.casSum})")
      }
      // And it must keep beating pure cascade in aggregate — the reason
      // the alignment guard recovers reference math where it is sound.
      assert(rows.map(_.hybSum).sum <= rows.map(_.casSum).sum,
        "hybrid lost to pure cascade in aggregate on the JOB corpus")
    } finally cs.close()
  }

  test("adjustPlanForMapD behavior-parity across ALL 33 JOB families") {
    // ESTIMATES.md §5 gate (r15 verdict #6, SURVEY §7.4.4): the shipping
    // enumerator constrains the DFS to connected prefixes instead of
    // running the reference's post-enumeration fix-up pass; the survey
    // prescribed keeping a behavior-parity mode for A/B. The pass is
    // ported verbatim (Enumerator.adjustPlanForMapD, quirks included)
    // and applied to every family's chosen order: identical permutations
    // prove the no-op claim; the one benign rewrite a connected order
    // can trigger (leaf-first start → positions 0/1 swapped) has
    // provably identical prefix SETS, which the measured sums confirm;
    // any other rewrite gets the §4 Σ-true-intermediates adjudication.
    // The node-dropping quirk (leafless graphs) must never fire on the
    // leaf-bearing JOB graphs. Table dumped to target/parity.md; the
    // committed copy lives at ESTIMATES.md §5.
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      val t0 = System.nanoTime()
      val rows = JobCorpus.abAdjustParity(spark, cs)
      val secs = (System.nanoTime() - t0) / 1e9
      assert(rows.size == 33)
      val table = new StringBuilder
      table ++= "| family | chosen (shipping) | adjusted (reference pass) | verdict | Σ true chosen | Σ true adjusted |\n"
      table ++= "|---|---|---|---|---|---|\n"
      var identical = 0; var swaps = 0
      rows.foreach { r =>
        assert(r.sameSet,
          s"${r.family}: fix-up dropped/duplicated nodes — " +
            s"${r.order} -> ${r.adjusted}")
        val verdict =
          if (r.identical) { identical += 1; "identical" }
          else if (r.firstTwoSwapOnly) { swaps += 1; "0/1 swap (same prefix sets)" }
          else "re-ordered"
        if (r.firstTwoSwapOnly)
          assert(r.adjustedSum == r.chosenSum,
            s"${r.family}: 0/1 swap changed measured intermediates " +
              s"(${r.chosenSum} vs ${r.adjustedSum}) — prefix-set proof broken")
        info(s"${r.family}: $verdict chosen=${r.order.mkString("→")}" +
          (if (r.identical) "" else s" adjusted=${r.adjusted.mkString("→")}"))
        table ++= s"| ${r.family} | ${r.order.mkString("→")} | " +
          (if (r.identical) "(identical)" else r.adjusted.mkString("→")) +
          s" | $verdict | ${r.chosenSum} | ${r.adjustedSum} |\n"
      }
      table ++= f"\n33 families, $identical identical, $swaps benign 0/1 swaps, " +
        f"${33 - identical - swaps} re-ordered; measured in $secs%.1f s\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/parity.md"), table.toString)
      // The fidelity claim the shipping enumerator rests on: on
      // connected orders the reference pass never produces a BETTER
      // order — and empirically it is (near-)always a no-op.
      rows.filterNot(r => r.identical || r.firstTwoSwapOnly).foreach { r =>
        assert(r.adjustedSum >= 0, s"${r.family}: unmeasurable adjusted order")
        assert(r.chosenSum <= 5L * r.adjustedSum + 64,
          s"${r.family}: reference fix-up found a materially better order " +
            s"(${r.adjustedSum} vs chosen ${r.chosenSum}) — parity claim broken")
      }
      assert(identical + swaps >= 30,
        s"fix-up re-ordered ${33 - identical - swaps} families — " +
          "the no-op claim needs re-adjudication")
    } finally cs.close()
  }

  test("estimator telemetry across ALL 33 JOB families: spine q-error banded") {
    // Same drift canary as OptimizerQualitySpec's chain5/snowflake4, on
    // IMDb-shaped graphs (string-predicate dims, fact-fact movie_id
    // joins) — extended from 8 representative families to the FULL
    // 33-family compassSubset (reference estimate math:
    // RelAlgExecutor.cpp:2068-2188). Bands are wide — the independence
    // cascade UNDER-estimates hard on correlated IMDb predicates (deep
    // prefixes measure est=1 vs hundreds of true rows; that regime is
    // exactly where sketch re-ranking still orders correctly, see the
    // quality test above) — but a clamp-noise regime (~0 everywhere) or
    // a broken plane (1e4x) still fails. Families whose predicates
    // select ZERO synthetic rows carry no live telemetry; they are
    // recorded (dead rows in the table) but exempt from the band gates.
    // The per-family table is ALSO dumped to target/estimates.md —
    // the committed copy lives at ESTIMATES.md; regenerate with
    //   sbt "testOnly graft.JobCorpusSpec -- -z \"ALL 33\""
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      val byName = JobCorpus.queries.toMap
      def qerr(r: Double): Double = math.max(r, 1.0 / r)
      val table = new StringBuilder
      table ++= "| family | prefixes (est/true per size) | median est/true | max q-error |\n"
      table ++= "|---|---|---|---|\n"
      var live = 0
      JobCorpus.compassSubset.foreach { q =>
        val pts = graft.planner.OptimizerQuality.estimateTelemetry(spark, cs, q, byName(q))
        assert(pts.nonEmpty, s"$q: no prefix telemetry at all")
        // n<k> not |k|: the cells land in a markdown table (pipes break it)
        val detail = pts.map(p =>
          f"n${p.prefixSize}:${p.estimate}%.0f/${p.trueRows}").mkString(" ")
        if (pts.map(_.trueRows).sum == 0) {
          table ++= s"| $q | $detail | (dead — predicates select 0 rows) | — |\n"
          info(s"$q: DEAD (all prefixes 0 rows) $detail")
        } else {
          live += 1
          val ratios = pts.map(_.ratio).sorted
          val median = ratios(ratios.size / 2)
          val worst = pts.map(p => qerr(p.ratio)).max
          table ++= f"| $q | $detail | $median%.3f | $worst%.0f |\n"
          info(f"$q: median=$median%.3f worstQ=$worst%.0f $detail")
          // Depth-aware q-error gates. Size-2 prefixes are DIRECT
          // pairwise sketch estimates — the COMPASS accuracy claim —
          // and must be tight; size-3 adds one cascade step. Deeper
          // prefixes multiply independence assumptions per join and
          // systematically collapse toward est=1 on correlated IMDb
          // predicates (measured: 15d |8| est=1 vs 10525 true) — that
          // regime still RANKS orders correctly (quality test above),
          // so deep prefixes get only an absurdity backstop and the
          // committed table records their drift.
          pts.foreach { p =>
            val bound = p.prefixSize match {
              case 2 => 1e2
              case 3 => 1e3
              case _ => 1e6
            }
            assert(qerr(p.ratio) <= bound,
              s"$q: prefix |${p.prefixSize}| q-error ${qerr(p.ratio)} above $bound")
          }
        }
      }
      // The workload generator keeps a solid majority of families live;
      // a mostly-dead corpus would make every gate above vacuous.
      assert(live * 4 >= JobCorpus.compassSubset.size * 3,
        s"only $live/${JobCorpus.compassSubset.size} families carry live telemetry")
      val out = java.nio.file.Paths.get("target/estimates.md")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, table.toString)
      info(s"per-family estimate-vs-actual table written to $out")
    } finally cs.close()
  }

  test("planning split on the COMPASS subset: enumeration driver-local, planning proportionate") {
    // The reference prints per-query sketch-build / estimation /
    // push-down ms (FilterPushDownSketch.cpp:1395-1396,1564-1569) and
    // its port target keeps planning a bounded fraction of runtime.
    // Telemetry here comes from the same CompassRun records Bench emits
    // into BENCH_FULL.json's job_planning block. Bounds are loose (the
    // concurrent submission inflates per-query wall-clock when
    // threads contend for the shared sketch pool) but pin the two real
    // regressions: enumeration must stay driver-local milliseconds, and
    // total planning must not dwarf execution (a broken template cache
    // rebuilding full-table sketches per query measured ~10x).
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      JobCorpus.warmCompassAt(spark, cs, 1)
      val runs = JobCorpus.runCompassSubset(spark, cs)
      assert(runs.size == JobCorpus.compassSubset.size)
      val sketchTot = runs.map(_.sketchMs).sum
      val enumTot = runs.map(_.enumerateMs).sum
      val execTot = runs.map(_.execMs).sum
      info(s"sketch=${sketchTot}ms enumerate=${enumTot}ms exec=${execTot}ms " +
        f"planning_frac=${(sketchTot + enumTot).toDouble / math.max(sketchTot + enumTot + execTot, 1)}%.2f")
      assert(execTot > 0, "no measured execution time — telemetry dead?")
      val enums = runs.map(_.enumerateMs).sorted
      assert(enums(enums.size / 2) <= 500,
        s"median enumeration ${enums(enums.size / 2)}ms — not driver-local microsecond work")
      assert(enums.last <= 5000,
        s"worst enumeration ${enums.last}ms — enumerator bound regression")
      assert(sketchTot + enumTot <= 5L * execTot + 5000,
        s"planning ${sketchTot + enumTot}ms dwarfs execution ${execTot}ms — template cache dead?")
    } finally cs.close()
  }

  test("submitAll returns results in input order") {
    val out = JobCorpus.submitAll(1 to 20, scala.concurrent.duration.Duration(30, "s")) { i =>
      Thread.sleep(((20 - i) % 4) * 10L) // finish out of order
      i * 10
    }
    assert(out == (1 to 20).map(_ * 10))
  }

  test("a timed-out submission drops the bodies that have not started") {
    // shutdown() instead of shutdownNow() would still start all 12 (three
    // rounds of 300 ms fit the 2 s wait), leaking a failed lap's queued
    // queries into whatever the caller times next.
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    intercept[java.util.concurrent.TimeoutException] {
      JobCorpus.submitAll(1 to 12, scala.concurrent.duration.Duration(100, "ms")) { _ =>
        started.incrementAndGet()
        Thread.sleep(300)
      }
    }
    Thread.sleep(2000)
    assert(started.get <= JobCorpus.SubmitThreads,
      s"${started.get} bodies started after the lap timed out")
  }

  test("sf-dir scale mapping: gate scale is 1, bench scale is 10, capped") {
    assert(JobCorpus.scaleFor("/root/testdata/sf0.001") == 1)
    assert(JobCorpus.scaleFor("/root/testdata/sf0.01") == 1)
    assert(JobCorpus.scaleFor("/root/testdata/sf0.1") == 10)
    assert(JobCorpus.scaleFor("/root/testdata/sf1.0") == 20, "cap")
    assert(JobCorpus.scaleFor("") == 1, "no sf in path -> base scale")
    assert(JobCorpus.dataPathFor(1) == JobCorpus.dataPath)
    assert(JobCorpus.dataPathFor(10) == JobCorpus.dataPath + "_x10")
  }

  test("scaled generators multiply entity and fact cardinalities together") {
    val base = JobCorpus.generators(spark).toMap
    val x2 = JobCorpus.generators(spark, 2).toMap
    // Entity + fact tables scale; dimension enumerations must NOT (their
    // ids are 1-based positions in fixed pools the predicates reference).
    Seq("title", "cast_info", "movie_info", "keyword").foreach { t =>
      assert(x2(t).count() == 2 * base(t).count(), s"$t should scale 2x")
    }
    Seq("kind_type", "company_type", "info_type", "role_type").foreach { t =>
      assert(x2(t).count() == base(t).count(), s"$t must stay fixed")
    }
  }

  test("interactive profile is scoped to the corpus child session, parent untouched") {
    val child = JobCorpus.executionSession(spark, 1)
    assert(child ne spark)
    assert(child.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(child.conf.get("spark.sql.codegen.wholeStage") == "false")
    assert(child.conf.get("spark.sql.constraintPropagation.enabled") == "false")
    // The tuned conf must NOT leak to the parent: every other entry in a
    // Verify/Bench session keeps AQE + codegen (the defaults that win on
    // data-heavy plans).
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    // Memoized per (parent, profile, scale): repeat calls return the same child.
    assert(JobCorpus.executionSession(spark, 1) eq child)
    assert(JobCorpus.session(spark, trim = true, 1) eq child)
    // Views resolve in the child (registered at construction).
    assert(child.table("title").columns.contains("production_year"))
  }

  test("q_job_compass's CompassSession and the corpus child resolve one trim profile") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage",
      "spark.sql.constraintPropagation.enabled", "spark.sql.join.preferSortMergeJoin")
    val compassChild = JobEntries.compassFor(spark).spark
    val corpusChild = JobCorpus.executionSession(spark, 1)
    assert(compassChild eq corpusChild,
      "the COMPASS entry must wrap the x1 child the vanilla corpus runs on")
    assert(compassChild ne spark)
    assert(keys.map(corpusChild.conf.get) == Seq("false", "false", "false", "true"))
    // CompassSession pins `spark.sql.cbo.joinReorder.enabled=false` on the
    // session it wraps, Spark's default; its other pin,
    // `spark.sql.optimizer.starSchemaDetection`, is not a Spark conf (star
    // detection is `spark.sql.cbo.starSchemaDetection`, default false). So
    // sharing the child leaves the vanilla corpus planning exactly as a
    // child that no CompassSession wraps.
    val planning = Seq("spark.sql.cbo.joinReorder.enabled",
      "spark.sql.cbo.starSchemaDetection")
    assert(planning.map(corpusChild.conf.get) == Seq("false", "false"))
    assert(planning.map(JobCorpus.session(spark, trim = false, 1).conf.get) ==
      Seq("false", "false"))
  }

  test("generator is deterministic: same counts and checksums on regeneration") {
    val gens = JobCorpus.generators(spark).toMap
    val t1 = gens("title")
    val again = JobCorpus.generators(spark).toMap.apply("title")
    import org.apache.spark.sql.functions._
    def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      // pmod before summing: a raw Σ xxhash64 overflows Long under ANSI.
      val r = df.agg(count(lit(1)),
        sum(pmod(xxhash64(df.columns.map(col): _*), lit(1000000007L)))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(fingerprint(t1) == fingerprint(again))
  }

  test("rewriteFrom points every table at the entry's parquet files") {
    val sql = JobCorpus.rewriteFrom(
      "SELECT COUNT(*) FROM title AS t, movie_keyword AS mk " +
        "WHERE t.id = mk.movie_id")
    assert(sql.contains(s"read_parquet('${JobCorpus.dataPath}/title.parquet/*.parquet') AS t"))
    assert(sql.contains(s"read_parquet('${JobCorpus.dataPath}/movie_keyword.parquet/*.parquet') AS mk"))
    assert(!sql.matches("(?s).*FROM\\s+title.*"))
  }
}
