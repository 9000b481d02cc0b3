package graft

import graft.PlanText.finalPlan
import graft.planner.CompassSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that decide whether a plan
  * survives a 100× scale-up, asserted on the real executed plans so a
  * regression (lost pushdown, vanished broadcast, codegen break) fails CI
  * rather than surfacing as a 100 TB incident.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String, atDir: String = dir): String = {
    Tables.registerAll(spark, atDir)
    val df = Queries.queryMap(name)(spark, atDir)
    df.collect() // materialize so AQE finalizes the physical plan
    df.queryExecution.executedPlan.toString
  }

  test("filters reach the parquet scan (predicate pushdown)") {
    val plan = planOf("q_join_multiway")
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      "the dim filter must be pushed into the region scan")
  }

  test("geo k-NN box predicates push into the z-ordered layout scan") {
    // The layout exists so the box SKIPS row groups: that only happens if
    // the integer grid predicates reach the parquet reader as
    // PushedFilters (the layout guarantees they are also tight per file).
    // At sf0.01, not the suite default sf0.001: the entry's prune is
    // ADAPTIVE — at the ~150-customer scale the ball-containment check
    // fails and it falls back to the UNPRUNED layout scan (no box
    // predicates to push), so only sf0.01 exercises the pushdown this
    // test asserts.
    val plan = planOf("q_geo_knn", atDir = "/root/testdata/sf0.01")
    // The PushedFilters list renders truncated ("Gre...") past ~100 chars,
    // so assert on the prefix that always fits: both latg bounds pushed.
    assert(plan.contains("GreaterThanOrEqual(latg,7500)") &&
        plan.contains("LessThanOrEqual(latg,12500)"),
      s"latg box not pushed into the layout scan:\n${plan.take(4000)}")
    assert(plan.contains("PushedFilters: [IsNotNull(latg), IsNotNull(lng)"),
      "lng must participate in the pushed-filter set")
  }

  test("column pruning: projection-only query reads only needed columns") {
    Tables.registerAll(spark, dir)
    val df = spark.sql("SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 10")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      s"scan reads pruned columns: $readSchema")
  }

  test("small dimensions broadcast in the multiway join (no dim shuffles)") {
    val plan = planOf("q_join_multiway")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for region/nation dims in:\n$plan")
  }

  test("aggregation is partial+final (map-side combine before the exchange)") {
    val plan = planOf("q1_agg")
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate pair:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"),
      "grouped agg must shuffle on the group keys between partials and final")
  }

  test("relational pipelines run inside WholeStageCodegen") {
    // executedPlan.toString marks codegen stages with the "*(n)" prefix
    val plan = planOf("q_filter_compare")
    assert(plan.contains("*(1)"), s"codegen absent:\n$plan")
  }

  test("compiled kernels stay inside WholeStageCodegen (lang-id, minhash)") {
    // The text kernels exist to keep per-row work compiled; a fallback to
    // interpreted eval (e.g. a kernel Expression losing doGenCode) would
    // silently 10x the hot path. The codegen'd projection shows as a
    // "*(n)" stage containing the kernel's prettyName.
    val lang = {
      Tables.registerAll(spark, dir)
      val df = operators.TextAnalysis.withLanguageId(
        Tables.load(spark, dir, "documents"), "text")
      df.collect()
      finalPlan(df.queryExecution.executedPlan.toString)
    }
    assert("\\*\\(\\d+\\).*Project".r.findFirstIn(lang).isDefined,
      s"lang-id projection not codegen'd:\n$lang")
    assert(!lang.contains("lang_hit_counts") || lang.contains("*("),
      s"lang_hit_counts fell out of codegen:\n$lang")
    val sig = {
      val df = Tables.load(spark, dir, "documents").select(
        operators.TextDedup.minhashSignature(
          operators.TextDedup.shingleHashes(
            org.apache.spark.sql.functions.col("text"), 3), 64).as("sig"))
      df.collect()
      finalPlan(df.queryExecution.executedPlan.toString)
    }
    assert(sig.contains("*("), s"minhash projection not codegen'd:\n$sig")
  }

  test("bloom probe filter stays inside WholeStageCodegen (the 100 TB scan path)") {
    // bloom_might_contain sits ON the fact scan; a CodegenFallback there
    // would break the scan's fused pipeline. The filter must appear
    // inside a "*(n)" codegen stage.
    import graft.functions.BloomOps._
    Tables.registerAll(spark, dir)
    val dim = Tables.load(spark, dir, "supplier")
      .filter(org.apache.spark.sql.functions.col("s_nationkey") < 5)
    val bytes = dim.agg(bloom_agg(
        org.apache.spark.sql.functions.col("s_suppkey"), 1000L, 0.03))
      .head().getAs[Array[Byte]](0)
    val df = Tables.load(spark, dir, "lineitem")
      .filter(bloom_might_contain(
        org.apache.spark.sql.functions.lit(bytes),
        org.apache.spark.sql.functions.col("l_suppkey")))
    df.collect()
    val plan = finalPlan(df.queryExecution.executedPlan.toString)
    val filterLine = plan.linesIterator.find(_.contains("bloom_might_contain"))
    assert(filterLine.isDefined, s"probe filter missing from plan:\n$plan")
    assert(filterLine.get.contains("*("),
      s"bloom probe fell out of codegen:\n$plan")
  }

  /** `q` through `cs` twice. The first call builds every sketch, and the
    * instances its jobs kept rows for are spliced as those rows, their
    * filters already applied. Once the session has released those rows,
    * the second is served from the session's store, carries no rows and
    * scans every instance with its filters: the plan whose pushdown these
    * audits read, whatever the store held before.
    */
  private def scannedSplice(cs: CompassSession, q: String): org.apache.spark.sql.DataFrame = {
    cs.sql(q)
    cs.releaseKeptRows()
    val df = cs.sql(q)
    assert(cs.lastPlan.exists(_.keptRows.isEmpty), "a store hit must carry no rows")
    df
  }

  test("COMPASS-rebuilt plan keeps broadcasts and pushdown") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val q =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin
    // Built fresh, orders is served from its sketch job's rows: exactly
    // the rows its filter keeps.
    val kept = cs.sql(q)
    kept.collect()
    assert(cs.lastPlan.get.keptRows.get("orders").contains(
      spark.sql("SELECT count(*) FROM orders WHERE o_totalprice > 400000").head().getLong(0)))
    assert(kept.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      s"sketch-count broadcast hints must survive splicing:\n${kept.queryExecution.executedPlan}")
    val df = scannedSplice(cs, q)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(o_totalprice,400000"),
      s"rebuilt plan lost the pushed filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"sketch-count broadcast hints must survive splicing:\n$plan")
  }

  test("17-way COMPASS plan: filters pushed, dims broadcast, joins left-deep at the top size") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark,
      templateCache = Some(graft.planner.SketchTemplateCache.default()))
    val df = scannedSplice(cs, graft.planner.OptimizerQuality.job17Text)
    df.collect()
    val plan = finalPlan(df.queryExecution.executedPlan.toString)
    // Per-instance filters must reach the parquet scans even through the
    // 17-instance splice (Catalyst re-optimizes the rebuilt region).
    assert(plan.contains("GreaterThan(o_totalprice,100000"),
      s"orders filter not pushed through the 17-way splice:\n$plan")
    assert(plan.contains("EqualTo(l_linenumber,1"),
      s"lineitem pin not pushed through the 17-way splice:\n$plan")
    // Sketch-count-driven broadcast hints: every small instance (nations,
    // regions, parts, suppliers, customers) should build a broadcast
    // side — a 17-way all-shuffle plan would be the scale failure mode.
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBroadcast >= 8, s"expected >=8 broadcast joins, got $nBroadcast:\n$plan")
    cs.close()
  }

  test("JOB query through the COMPASS splice keeps pushdown and broadcasts") {
    // Same contract as the 17-way test, on the reference's OWN workload
    // shape: after the splice re-orders 1a's five instances, the string
    // dim filters must still reach the parquet scans and the tiny dims
    // (company_type, info_type) must broadcast.
    graft.job.JobCorpus.ensureData(spark)
    graft.job.JobCorpus.registerViews(spark)
    val cs = new CompassSession(spark,
      templateCache = Some(graft.planner.SketchTemplateCache.default()))
    try {
      val df = scannedSplice(cs, graft.job.JobCorpus.queries.toMap.apply("1a"))
      assert(cs.lastPlan.isDefined, "1a must take the COMPASS path")
      df.collect()
      val plan = finalPlan(df.queryExecution.executedPlan.toString)
      assert(plan.contains("EqualTo(kind,production companies)"),
        s"company_type filter not pushed through the JOB splice:\n$plan")
      assert(plan.contains("EqualTo(info,top 250 rank)"),
        s"info_type filter not pushed through the JOB splice:\n$plan")
      assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
        s"tiny JOB dims must broadcast after the splice:\n$plan")
    } finally cs.close()
  }

  test("AQE splits skewed join partitions (the 100 TB hot-key path) — LIVE, not claimed") {
    // SCALE.md leans on AQE for runtime skew handling; this pins that the
    // mechanism actually fires in this engine's sessions. Thresholds are
    // tuned down so a planted hot key (~85% of one side) qualifies as
    // skewed at test scale; the executed plan must show the skew split.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 200000)
        .select((when(pmod(col("id"), lit(100)) < 85, lit(7L))
          .otherwise(pmod(col("id"), lit(5000)))).as("k"),
          md5(col("id").cast("string")).as("pad"))
      val right = spark.range(0, 5000).select(col("id").as("k"),
        md5(col("id").cast("string")).as("rpad"))
      val joined = left.join(right, "k").agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = finalPlan(joined.queryExecution.executedPlan.toString)
      assert(plan.contains("isSkew=true") || plan.contains("skewed"),
        s"AQE skew-join did not fire on the planted hot key:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti, never materialized inners") {
    val semi = planOf("q_join_semi")
    assert(semi.contains("LeftSemi"), s"IN-subquery must plan as a semi join:\n$semi")
    val anti = planOf("q_join_anti")
    assert(anti.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$anti")
  }

  /** The final plan of entry `name`, followed by the final plan of every
    * checkpoint the entry ran. Operators materialize intermediates through
    * `OpCaches.materialize`, so a relation such as Prefix's locally summed
    * windows runs as its own checkpoint execution: its plan is not nested
    * in the entry's final plan the way a persisted relation's was.
    */
  private def planWithCheckpoints(name: String): String = {
    Tables.registerAll(spark, dir)
    val sc = spark.sparkContext
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "checkpoint" || funcName == "localCheckpoint")
          checkpoints.add(finalPlan(qe.executedPlan.toString)): Unit
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    spark.listenerManager.register(listener)
    try {
      val df = Queries.queryMap(name)(spark, dir)
      df.collect()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (finalPlan(df.queryExecution.executedPlan.toString) +: checkpoints.asScala.toSeq)
        .mkString("\n")
    } finally spark.listenerManager.unregister(listener)
  }

  test("ROLLUP plans one Expand + hash aggregate, not a union of scans") {
    val plan = finalPlan(planOf("q_rollup"))
    assert(plan.contains("Expand"), s"rollup should use Expand:\n$plan")
    // one scan of lineitem only — a UNION-of-aggregates shape would scan per level
    assert("FileScan parquet".r.findAllIn(plan).size <= 1,
      s"rollup must not rescan the fact table per grouping level:\n$plan")
  }

  test("window entries shuffle once on the partition key, no extra hash exchanges") {
    Tables.registerAll(spark, dir)
    val df = Queries.queryMap("q_topk_per_group")(spark, dir)
    df.collect()
    val plan = finalPlan(df.queryExecution.executedPlan.toString)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"top-k per group needs ONE hash exchange, got $exchanges:\n$plan")
  }

  test("bucketed tables join with ZERO exchanges (the 100 TB co-location path)") {
    // At 100 TB the fact-fact join must not shuffle either side: write both
    // relations bucketed on the join key and assert the join plans with no
    // Exchange at all (SortMergeJoin reads the buckets directly).
    TempDirs.withTempDir("graft_bucket") { tmp =>
      val wh = tmp.toString
      spark.sql("DROP TABLE IF EXISTS graft_bkt_l")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_o")
      Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
        .write.option("path", s"$wh/l").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("graft_bkt_l")
      Tables.load(spark, dir, "orders").select("o_orderkey", "o_totalprice")
        .write.option("path", s"$wh/o").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("graft_bkt_o")
      // Disable broadcast so the test proves bucket co-location, not a
      // trivially exchange-free broadcast join.
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("graft_bkt_l")
          .join(spark.table("graft_bkt_o"),
            org.apache.spark.sql.functions.col("l_orderkey") ===
              org.apache.spark.sql.functions.col("o_orderkey"))
          .groupBy("l_orderkey").count()
        joined.collect()
        val plan = finalPlan(joined.queryExecution.executedPlan.toString)
        assert(plan.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$plan")
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("q_window_running has NO single-partition window (distributed prefix sum)") {
    // A partition-less `ROWS UNBOUNDED PRECEDING` window funnels the whole
    // relation into one task ("No Partition Defined" warning) — the one
    // plan shape that cannot survive a 100x scale-up. The Prefix rewrite
    // must leave every WindowExec with a real partition key (_pid) and no
    // single-partition exchange anywhere.
    val plan = planWithCheckpoints("q_window_running")
    // The per-partition windows live in the local-prefix relation's
    // checkpoint plan — match any operator line carrying a window spec,
    // in any of the plans.
    val windowLines = plan.linesIterator
      .filter(l => l.contains("Window [") && l.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, s"expected the per-partition windows in:\n$plan")
    windowLines.foreach { l =>
      assert(l.contains("_pid"),
        s"partition-less window back in the running-sum plan:\n$l")
    }
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition exchange in the running-sum plan:\n$plan")
  }

  test("every prefix-riding entry keeps _pid windows and no single-partition stage") {
    // All entries built on Prefix.withRunningSums (token budget, packing,
    // quality gate) inherit the same scale contract as q_window_running:
    // windows partition by _pid, no Exchange SinglePartition anywhere.
    Tables.registerAll(spark, dir)
    // Entries whose final (or embedded scalar) aggregate is a LEGITIMATE
    // bounded single-partition reduction — one partial row per upstream
    // partition, never a data funnel: q_rfm's corpus-max-date scalar,
    // and the r13 eval metrics' O(1)/O(bins) outputs.
    val boundedScalarReduce =
      Set("q_rfm", "q_decile_lift", "q_auc_rank", "q_ks_stat",
        // r14: Spearman's four-scalar moment row off the double-ranked
        // prefix relation; vocab coverage's corpus-total scalar; the
        // Brier and lag-1 autocorrelation moment rows.
        "q_spearman", "q_vocab_coverage", "q_brier_score", "q_rank_autocorr")
    for (name <- Seq("q_token_budget", "q_pack_sequences", "q_quality_gate",
        "q_corpus_shuffle",
        // r12 prefix riders: RFM ranks, quantile transform, sweep-line
        // concurrency, Borda fusion, and the skyline's exclusive
        // running-min all inherit the same contract.
        "q_rfm", "q_quantile_transform", "q_peak_concurrency",
        "q_rank_fusion", "q_skyline",
        // r13 prefix riders: decile gains table, Mann-Whitney AUC
        // rank-sum, and the KS running CDFs.
        "q_decile_lift", "q_auc_rank", "q_ks_stat",
        // r14: Spearman's two global ranks (value, width); the vocab
        // coverage curve's (rank, cumulative frequency) pair; the
        // propensity ranks behind Brier/calibration; day ranks behind
        // the lag-1 rank autocorrelation.
        "q_spearman", "q_vocab_coverage", "q_brier_score",
        "q_calibration", "q_rank_autocorr")) {
      val plan = planWithCheckpoints(name)
      val windowLines = plan.linesIterator
        .filter(l => l.contains("Window [") && l.contains("windowspecdefinition")).toSeq
      assert(windowLines.nonEmpty, s"$name: expected prefix windows in:\n$plan")
      windowLines.foreach { l =>
        assert(l.contains("_pid"), s"$name: partition-less window:\n$l")
      }
      if (!boundedScalarReduce(name))
        assert(!plan.contains("Exchange SinglePartition"),
          s"$name: single-partition exchange:\n$plan")
      else {
        // By plan id: a cached relation's exchange shows once in every
        // checkpoint plan that reads the cache, and it is one exchange.
        val singles = "Exchange SinglePartition[^\n]*plan_id=(\\d+)".r
          .findAllMatchIn(plan).map(_.group(1)).toSet
        assert(singles.size <= 1,
          s"$name: more single-partition exchanges than its one bounded reduce:\n$plan")
      }
      graft.operators.OpCaches.releaseAll(spark)
    }
  }

  test("q_triangles: scoped join policy converts the wedge joins at runtime, then restores the conf") {
    // r22: the anchors enumeration runs under an ENTRY-SCOPED
    // preferSortMergeJoin=false so AQE's accurate-stats re-planning can
    // take shuffled-hash on the Σdeg²-row wedge stream (5.8 → 20.9 s
    // warm without it on the r22 host). Pin three facts: the scope
    // EXECUTED (adaptive plan is final), the conversion actually fired
    // at this scale (a ShuffledHashJoin in the executed wedge plan —
    // the r21 overclaim was asserting this from a STATIC dump, where it
    // is invisible), and the session conf is restored afterwards.
    Tables.registerAll(spark, "/root/testdata/sf0.01")
    val before = spark.conf.getOption("spark.sql.join.preferSortMergeJoin")
    // Release in finally: a failed assertion must not leak the wedge
    // checkpoints into later suites on the shared session.
    try {
      val (_, wedgePlan) = Queries.trianglesAnchors(spark)
      assert(spark.conf.getOption("spark.sql.join.preferSortMergeJoin") == before,
        "entry-scoped join policy leaked out of trianglesAnchors")
      assert(wedgePlan.contains("isFinalPlan=true"),
        s"wedge plan must be the executed adaptive plan:\n$wedgePlan")
      // At sf0.01 test scale AQE's accurate sizes admit BROADCAST hash
      // joins (smaller still than SHJ); at bench scale the same policy
      // yields ShuffledHashJoin. Either way the Σdeg² wedge stream must
      // not be sorted: no SortMergeJoin in the final plan.
      val finalSection = finalPlan(wedgePlan)
      assert(finalSection.contains("ShuffledHashJoin") ||
        finalSection.contains("BroadcastHashJoin"),
        s"no hash join in the executed wedge enumeration:\n$wedgePlan")
      assert(!finalSection.contains("SortMergeJoin"),
        s"wedge enumeration still sort-merges at runtime:\n$wedgePlan")
    } finally graft.operators.OpCaches.releaseAll(spark)
  }

  test("wedge joins plan as hash equi-joins, never a cartesian product") {
    // Market basket, item CF, neighbor Jaccard, and the typo join all
    // enumerate pairs through a shared-key equi-join (order / customer /
    // neighbor / deletion-variant); a CartesianProduct in any of them
    // would be the all-pairs blowup the designs exist to avoid. (The
    // 1-row scalar CROSS JOINs plan as broadcast nested loops — benign.)
    for (name <- Seq("q_market_basket", "q_item_cf", "q_graph_jaccard",
        "q_typo_join",
        // r14: RA link prediction (wedge + anti-join on the edge set)
        // and assortativity (edge-degree equi-joins).
        "q_link_pred", "q_assortativity")) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"$name: expected hash/merge equi-joins in:\n$plan")
      graft.operators.OpCaches.releaseAll(spark)
    }
  }

  test("grid clustering joins adjacency on exact cell keys, never a theta/cross join") {
    // Audit the adjacency relation's OWN executed plan — inside the
    // entry the components loop checkpoints it away, so the entry's
    // final plan could not reveal a theta-join regression. The
    // 8-neighborhood relation must be the exploded-offset EQUI-join; an
    // |dx|<=1 theta-join would plan as a cartesian. sf0.01 so the
    // dense-cell set is non-empty and the join actually materializes.
    // (The 1-row threshold crossJoin broadcasts — benign.)
    val (_, edges) = PipelineQueries.gridDensityGraph(spark, "/root/testdata/sf0.01")
    edges.collect()
    val plan = edges.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"grid-cluster adjacency plans a cartesian product:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"grid-cluster adjacency: expected an equi-join in:\n$plan")
  }

  test("theil index: dims broadcast onto the fact scan, no cartesian beyond the 1-row total") {
    val plan = planOf("q_theil_index")
    assert(!plan.contains("CartesianProduct"),
      s"q_theil_index plans a cartesian product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q_theil_index: the 25-row nation dim must broadcast in:\n$plan")
  }

  test("semDedup pairs only within clusters: equi-join on centroid_id, never a cross product") {
    // The whole point of cluster-scoped dedup is that the pair space is
    // keyed — a plan that degrades to CartesianProduct/NestedLoop has
    // silently become corpus-wide all-pairs and cannot survive 100x.
    Tables.registerAll(spark, dir)
    val df = Queries.queryMap("q_semdedup")(spark, dir)
    df.collect()
    val plan = finalPlan(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_semdedup: unkeyed pair join:\n$plan")
    assert(plan.contains("centroid_id"), s"q_semdedup: centroid key missing:\n$plan")
    graft.operators.OpCaches.releaseAll(spark)
  }

  test("quantized retrieval re-ranks via a broadcast shortlist, never a corpus shuffle") {
    // The exact stage probes shortlist·|queries| rows against the
    // corpus — a SortMergeJoin there would shuffle the full corpus for
    // a ~500-row probe side and cannot survive 100x.
    Tables.registerAll(spark, dir)
    val df = Queries.queryMap("q_ann_quantized")(spark, dir)
    df.collect()
    val plan = finalPlan(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      s"q_ann_quantized: no broadcast on the re-rank join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q_ann_quantized: corpus-wide shuffle join:\n$plan")
    graft.operators.OpCaches.releaseAll(spark)
  }

  test("q_mixture_sample: grouped prefix windows carry _pid, caps broadcast, no single-partition stage") {
    // The grouped prefix sum must never fall back to a PARTITION BY lang
    // window (one task per language) — every WindowExec partitions by
    // (_pid, lang) and the per-group cap table joins as a broadcast.
    val plan = planWithCheckpoints("q_mixture_sample")
    val windowLines = plan.linesIterator
      .filter(l => l.contains("Window [") && l.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, s"expected grouped per-partition windows in:\n$plan")
    windowLines.foreach { l =>
      assert(l.contains("_pid"),
        s"per-language window without _pid (single task per domain):\n$l")
    }
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition exchange in the mixture plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"cap table did not broadcast:\n$plan")
  }

  test("shard output prunes partitions: a shard-filtered read scans one directory") {
    // The training-shard writer's partitionBy(shard) layout must pay off
    // on the read side: filtering one shard shows a partition filter and
    // touches a single partition directory, not the whole dataset.
    TempDirs.withTempDir("graft_shard_prune") { tmp =>
      val path = tmp.toString
      import spark.implicits._
      val docs = (1 to 40).map(i => (i.toLong, "w x y z")).toDF("doc_id", "text")
      graft.operators.Corpus.writeShards(docs, "doc_id", "text", path, tokensPerShard = 40L)
      val rd = spark.read.parquet(s"$path/data")
        .filter(org.apache.spark.sql.functions.col("shard") === 1L)
      assert(rd.count() == 10)
      val plan = rd.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("shard"),
        s"expected a shard partition filter in:\n$plan")
      def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum
      }
      val all = spark.read.parquet(s"$path/data")
      assert(filesScanned(rd) < filesScanned(all),
        "the pruned read must touch fewer files than the full read")
      val allDirs = new java.io.File(s"$path/data").listFiles()
        .count(f => f.getName.startsWith("shard="))
      assert(allDirs == 4, s"expected 4 shard dirs, got $allDirs")
      graft.operators.OpCaches.releaseAll(spark)
    }
  }

  test("top-k order-by-limit compiles to TakeOrderedAndProject (no full sort)") {
    val plan = planOf("q_orderby_limit")
    assert(plan.contains("TakeOrderedAndProject"), s"full sort for a top-k:\n$plan")
  }

  test("expensive projections are deferred past the top-k (DeferProjectPastTopK)") {
    // `SELECT exp(...) ... ORDER BY key LIMIT n` must evaluate the math on
    // the n survivors, not every input row: the rule hoists the projection
    // above the sort, and the planner folds it into TakeOrderedAndProject's
    // post-top-k projection — so no Project node may remain BELOW it.
    Tables.registerAll(spark, dir)
    val df = spark.sql(
      "SELECT l_orderkey, l_linenumber, round(exp(l_discount), 8) AS ex, " +
        "round(sin(l_quantity), 8) AS sn FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber LIMIT 7")
    val rows = df.collect()
    val plan = finalPlan(df.queryExecution.executedPlan.toString)
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    val top = plan.linesIterator.find(_.contains("TakeOrderedAndProject")).get
    assert(top.contains("ex#") || top.contains("EXP"),
      s"projection not folded into the top-k operator:\n$plan")
    assert(!plan.linesIterator.exists(l => l.contains("Project") && l.contains("EXP")),
      s"math still evaluated below the top-k:\n$plan")
    // Semantics unchanged: same rows as the undeferred formulation.
    val expected = spark.sql(
      "SELECT l_orderkey, l_linenumber, round(exp(l_discount), 8) AS ex, " +
        "round(sin(l_quantity), 8) AS sn FROM " +
        "(SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 7)" +
        " ORDER BY l_orderkey, l_linenumber").collect()
    assert(rows.toSeq == expected.toSeq)
  }

  test("deferral guards: ORDER BY a projected alias / non-deterministic exprs stay put") {
    Tables.registerAll(spark, dir)
    // Sort key IS the computed column — the projection cannot move above
    // its own sort; the result must still be correct.
    val byAlias = spark.sql(
      "SELECT l_orderkey, round(exp(l_discount), 8) AS ex FROM lineitem " +
        "ORDER BY ex DESC, l_orderkey LIMIT 5")
    val got = byAlias.collect().map(_.getDouble(1)).toSeq
    assert(got == got.sorted(Ordering[Double].reverse), "alias ordering broken")
    // Non-deterministic projection: the observed row set must be the
    // top-k of the SORT KEY — deferral would be harmless here, but the
    // guard keeps rand() evaluation count stable; assert keys are right.
    val nd = spark.sql(
      "SELECT l_orderkey, rand() AS r FROM lineitem ORDER BY l_orderkey LIMIT 5")
    val keys = nd.collect().map(_.getLong(0)).toSeq
    val expectedKeys = spark.sql(
      "SELECT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 5")
      .collect().map(_.getLong(0)).toSeq
    assert(keys == expectedKeys)
  }

  test("outlier fences broadcast to the fact scan (never a fact shuffle for 5 rows)") {
    val plan = planOf("q_outlier_iqr")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-group fences must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"joining 5 fence rows must not shuffle the fact table:\n$plan")
  }

  test("hopping windows aggregate partial+final (map-side combine before the exchange)") {
    val plan = planOf("q_events_hopping")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final HashAggregate pair:\n$plan")
  }

  test("embedding normalization is a shuffle-free map (only the output sort exchanges)") {
    val plan = planOf("q_embed_normalize")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"elementwise normalization must not hash-shuffle:\n$plan")
  }

  test("pii redaction and int8 quantization are shuffle-free scan-fused maps") {
    val docs = Tables.load(spark, dir, "documents")
    val pii = graft.operators.TextAnalysis.withPiiRedacted(docs, "text")
    pii.collect()
    val piiPlan = pii.queryExecution.executedPlan.toString
    assert(!piiPlan.contains("Exchange"),
      s"pii redaction must not shuffle:\n$piiPlan")
    val emb = Tables.load(spark, dir, "embeddings")
    val qz = graft.operators.Similarity.quantizeInt8(emb, "embedding")
    qz.collect()
    val qzPlan = qz.queryExecution.executedPlan.toString
    assert(!qzPlan.contains("Exchange"),
      s"quantization must not shuffle:\n$qzPlan")
  }

  test("weighted sample compiles to TakeOrderedAndProject (per-partition heaps, no sort)") {
    val plan = planOf("q_sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"),
      s"A-Res top-k must be a heap, not a global sort:\n$plan")
  }

  test("k-means assignment is joinless and shuffles nothing but the output sort") {
    // Centroids ride as broadcast literals in the projection
    // (assignToCentroids): the per-row argmax must plan with NO join
    // operator and NO hash exchange — at 100 TB the assignment pass is
    // exactly one scan. (The mean update's k-row agg shuffle lives in
    // the iteration loop, not this final pass.)
    val plan = planOf("q_kmeans")
    assert(!plan.contains("Join"), s"assignment must be joinless:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"assignment must not hash-shuffle:\n$plan")
  }

  test("dynamic-gap session windows: one session shuffle, no cartesian") {
    val plan = planOf("q_session_window_dynamic")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"session merge must never cross-join:\n$plan")
    // AdaptiveSparkPlan.toString prints Final AND Initial — count only
    // the final plan or the one real shuffle doubles.
    val finalSection = finalPlan(plan)
    assert(finalSection.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"expected at most one session-key shuffle:\n$finalSection")
  }

  test("streaming near-dup's batch collision relation: equi-joins on buckets, never all-pairs") {
    // The q_stream_neardup invariant harness self-joins the banded
    // relation on (band, hash) — the same never-cartesian contract as
    // the LSH operators themselves.
    val docs = Tables.load(spark, dir, "documents")
    import org.apache.spark.sql.functions.{col, posexplode}
    val banded = docs.select(col("doc_id"),
        posexplode(graft.operators.TextDedup.bandHashes(col("text"), 64, 16, 3)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bh"))
    val pairs = banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") =!= col("b.doc_id"))
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bucket self-join must stay an equi-join:\n$plan")
  }

  test("bounded-vocab surprisal broadcasts the vocab (the 100 TB join shape)") {
    val docs = Tables.load(spark, dir, "documents")
    val scored = graft.operators.TextAnalysis.withUnigramSurprisal(
      docs, "doc_id", "text", maxVocab = 1000)
    scored.collect()
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"token→prob join must broadcast the bounded vocab:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge token join would shuffle the whole exploded corpus:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB a selective dim filter must reach the FACT scan even when
    // the dim is too big to broadcast: Spark's runtime bloom filter builds
    // a bloom from the filtered creation side and injects might_contain
    // into the application side. Pin the mechanism ON for the shuffled
    // dim-fact shape so a config/optimizer regression fails here, not at
    // scale.
    Tables.registerAll(spark, dir)
    val conf = spark.conf
    val prevBloom = conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled")
    val prevScan = conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // The production default only arms the filter when the fact scan
    // exceeds 10GB — exactly the 100 TB case. Drop the threshold so the
    // sf0.001 replica exercises the same code path.
    conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = spark.sql(
        "SELECT l.l_orderkey, l.l_quantity, o.o_totalprice " +
          "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
          "WHERE o.o_orderpriority = '1-URGENT'")
      df.collect()
      val analyzed = df.queryExecution.optimizedPlan.toString
      assert(analyzed.contains("might_contain") || analyzed.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected into the fact side:\n$analyzed")
    } finally {
      prevBloom.fold(conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled"))(
        v => conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", v))
      prevScan.fold(conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))(
        v => conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", v))
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("point-in-polygon: edge test runs only on the grid-prefiltered relation") {
    // The 100 TB contract of Spatial.pointInPolygonCounts: points reach
    // the 18-edge parity test only through the bbox grid prefilter — an
    // EQUI-join on (cx, cy) against the broadcast covered-cell relation,
    // then a broadcast equi-join on pid for the edges. A plan audit on
    // the ENTRY would also pass if the prefilter silently degraded to a
    // cartesian, so assert both the builder's own executed plan and the
    // entry's: broadcast hash joins only, no CartesianProduct /
    // BroadcastNestedLoopJoin anywhere.
    import spark.implicits._
    val pts = Tables.load(spark, dir, "events")
      .select(org.apache.spark.sql.functions.col("event_id"),
        (org.apache.spark.sql.functions.col("event_id") * 48271L % 1000L).as("px"),
        (org.apache.spark.sql.functions.col("event_id") * 16807L % 1000L).as("py"))
    val edges = Seq(
      (1, 1, 100, 100, 400, 100), (1, 2, 400, 100, 400, 400),
      (1, 3, 400, 400, 100, 400), (1, 4, 100, 400, 100, 100)
    ).toDF("pid", "i", "x1", "y1", "x2", "y2")
    val cand = graft.operators.Spatial.bboxCandidates(pts, edges, "event_id", 250)
    cand.collect()
    val candPlan = cand.queryExecution.executedPlan.toString
    assert(candPlan.contains("BroadcastHashJoin"),
      s"bbox prefilter must be a broadcast EQUI-join on the cell keys:\n$candPlan")
    assert(!candPlan.contains("CartesianProduct") &&
      !candPlan.contains("BroadcastNestedLoopJoin"),
      s"bbox prefilter degraded to a cartesian:\n$candPlan")
    val plan = planOf("q_point_in_polygon")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_point_in_polygon must not cross-join points with edges:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected cell-prefilter AND edge joins as broadcast hash joins:\n$plan")
  }

  test("q_cusum engine plan is the window closed form, not the recursive frontier") {
    // r18 verdict #2: S_t = max(0, S_{t-1}+x_t−k) has the exact closed
    // form S_t = P_t − min_{0≤j≤t} P_j (prefix sum + running min), so
    // the engine side must run TWO window functions over one
    // (user_id, rn) sort — O(n), depth-independent — never the
    // recursive-CTE frontier (one join per sequence position: at 100×
    // per-user depth that is 100× driver-scheduled iterations). The
    // DuckDB oracle keeps the recursion, making the differential a
    // cross-formulation check.
    val plan = planOf("q_cusum")
    assert(plan.contains("Window"),
      s"expected window-function closed form in:\n$plan")
    assert(!plan.contains("UnionLoop") && !plan.contains("Recursive"),
      s"recursive frontier leaked back into the engine-side plan:\n$plan")
    // r19: the float recurrences (q_ewma_recursive / q_holt_linear)
    // also left the frontier (per-user fold, the recursion's exact IEEE
    // op order), so no depth-many joins remain anywhere but the
    // legitimately recursive digit-tree walk. r20 (hot-key safety,
    // r19 verdict #1): the fold must be the STREAMING shape — an
    // exchange hash-partitioned on the user key, a spill-safe sort
    // within partitions, and a MapPartitions scan carrying O(1) state —
    // never a per-group MapGroups (whose it.toArray buffers one user's
    // whole chain in task heap: a 10^8-event bot account OOMs there).
    Seq("q_ewma_recursive", "q_holt_linear").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("UnionLoop") && !p.contains("Recursive"),
        s"$name regressed to the recursive frontier:\n$p")
      assert(p.contains("MapPartitions"),
        s"$name no longer folds via a streaming per-partition scan:\n$p")
      assert(!p.contains("MapGroups"),
        s"$name regressed to the chain-buffering per-group fold:\n$p")
      assert(p.contains("hashpartitioning(u#") ||
        p.contains("hashpartitioning(u:"),
        s"$name lost the user-key co-locating exchange:\n$p")
      // r21 (ADVICE): the float recurrence is order-sensitive, so the
      // spill-safe in-partition Sort below the MapPartitions node is
      // load-bearing — a refactor dropping sortWithinPartitions must
      // fail HERE, not as a nondeterministic differential mismatch.
      assert(p.contains("Sort [u#"),
        s"$name lost the in-partition (u, ts, eid) sort below the fold:\n$p")
    }
    // The recursion machinery itself stays exercised engine-side by
    // q_recursive_cte (digit-tree walk: depth = #digits, log-bounded —
    // scale-safe recursion). This also keeps the "UnionLoop" token
    // honest: if Spark renames the node, THIS assertion fails loudly
    // instead of the absence checks above passing vacuously.
    val rec = planOf("q_recursive_cte")
    assert(rec.contains("UnionLoop") || rec.contains("Recursive"),
      s"q_recursive_cte no longer shows a recursive node — update the token:\n$rec")
  }
}
