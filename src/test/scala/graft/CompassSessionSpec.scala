package graft

import graft.planner.{CompassSession, KeptRows, SketchTemplateCache}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end COMPASS pipeline: extraction → sketch jobs → enumeration →
  * plan splice → execution, checked against vanilla Spark results
  * (VERDICT r1 next-step #5).
  */
class CompassSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val fiveWay =
    """SELECT n_name, count(*) AS n FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Spark jobs `cs.optimize` runs for `q` — its sketch builds (analysis
    * and the splice run none) — and the optimized frame.
    */
  private def optimizeCountingJobs(cs: CompassSession, q: String)
      : (org.apache.spark.sql.DataFrame, Int) = {
    val (df, work) = Work.measure(spark)(cs.optimize(spark.sql(q)))
    (df, work.jobs)
  }

  /** Leaves of `df`'s spliced plan that serve kept survivors. */
  private def keptLeaves(df: org.apache.spark.sql.DataFrame): Seq[KeptRows] =
    df.queryExecution.analyzed.collect { case r: KeptRows => r }

  private def cacheFiles(dir: java.nio.file.Path, prefix: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith(prefix))
    finally s.close()
  }

  test("optimized 5-way join returns identical results to vanilla Spark") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val optimized = cs.sql(fiveWay).collect().map(_.toSeq)
    val vanilla = spark.sql(fiveWay).collect().map(_.toSeq)
    assert(optimized.toSeq == vanilla.toSeq)
    val plan = cs.lastPlan.get
    assert(plan.order.toSet ==
      Set("lineitem", "orders", "customer", "nation", "region"))
    // region is filtered + tiny → its surviving count must reflect that
    assert(plan.sketchCounts("region") == 1)
  }

  test("cross-session seam: parent-analyzed frame through a child-session CompassSession") {
    // Since r17 the JOB entries build their CompassSession over a
    // driver-work-trimmed CHILD session while q_job_quality's compare()
    // still analyzes the query on the PARENT — optimize() then splices
    // parent-analyzed plans via Bridge.ofRows on the child, and the
    // sketch jobs execute parent-extracted instance plans on the child.
    // Pin that seam: identical results and a published plan, both ways.
    Tables.registerAll(spark, dir)
    val child = spark.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.codegen.wholeStage", "false")
    child.conf.set("spark.sql.constraintPropagation.enabled", "false")
    val cs = new CompassSession(child)
    val parentDf = spark.sql(fiveWay) // analyzed on the PARENT
    val viaChild = cs.optimize(parentDf).collect().map(_.toSeq)
    assert(cs.lastPlan.nonEmpty, "query must take the COMPASS path")
    val vanilla = spark.sql(fiveWay).collect().map(_.toSeq)
    assert(viaChild.toSeq == vanilla.toSeq)
    assert(cs.lastPlan.get.order.toSet ==
      Set("lineitem", "orders", "customer", "nation", "region"))
    cs.close()
  }

  test("flagship TPC-H Q5 analogue (cyclic 6-way, agg + sort) through compass") {
    // The realistic end-to-end shape a reference user actually runs:
    // filter + six joins with a cycle (s_nationkey = c_nationkey) +
    // aggregate + ORDER BY — through the optimizer, identical to vanilla.
    Tables.registerAll(spark, dir)
    val q =
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin
    val cs = new CompassSession(spark)
    val optimized = cs.sql(q).collect().map(_.toSeq)
    val vanilla = spark.sql(q).collect().map(_.toSeq)
    assert(optimized.toSeq == vanilla.toSeq)
    val plan = cs.lastPlan.get
    assert(plan.order.size == 6, s"all six instances ordered: ${plan.order}")
    assert(plan.sketchCounts("region") == 1) // the filter bit
  }

  test("cast-joined query keeps exact semantics through the compass path") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    // Three instances, two bare edges, one cast-wrapped equality: the
    // compass path must still fire on the bare edges while the cast
    // conjunct rides through as a residual filter — identical results to
    // vanilla Spark, whatever order is chosen.
    val q =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON CAST(c_nationkey AS STRING) = CAST(n_nationkey AS STRING)
        |WHERE o_totalprice > 300000 AND n_name LIKE 'A%'""".stripMargin
    val optimized = cs.sql(q).collect().map(_.toSeq)
    val vanilla = spark.sql(q).collect().map(_.toSeq)
    assert(optimized.toSeq == vanilla.toSeq,
      s"cast-join diverged: $optimized vs $vanilla")
    assert(cs.lastPlan.isDefined, "bare edges should still take the compass path")
  }

  test("sketch-informed order starts from the selective side") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    // Highly selective filter on orders; naive size-descending order would
    // start from lineitem (largest).
    cs.sql(
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin).collect()
    val plan = cs.lastPlan.get
    val naive = Seq("lineitem", "orders", "customer") // descending cardinality
    assert(plan.order != naive,
      s"sketches should divert from naive order, got ${plan.order}")
    assert(plan.order.head != "lineitem",
      s"with a selective orders filter, lineitem-first is the worst start: ${plan.order}")
  }

  test("fpd toggle off returns the vanilla frame") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    cs.fpdEnabled = false
    cs.sql(fiveWay).collect()
    assert(cs.lastPlan.isEmpty)
  }

  test("fpd toggle off clears the previous query's plan") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    cs.sql(fiveWay).collect()
    assert(cs.lastPlan.isDefined, "the 5-way query must take the COMPASS path")
    cs.fpdEnabled = false
    cs.sql(fiveWay).collect()
    assert(cs.lastPlan.isEmpty, "a vanilla run must not report the previous plan")
  }

  test("left join / two-table queries fall through untouched") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val q = "SELECT count(*) AS n FROM customer LEFT JOIN orders ON c_custkey = o_custkey"
    assert(cs.sql(q).collect().head.getLong(0) ==
      spark.sql(q).collect().head.getLong(0))
    assert(cs.lastPlan.isEmpty)
  }

  test("template cache: unfiltered tables served without a second scan") {
    Tables.registerAll(spark, dir)
    TempDirs.withTempDir("graft-cache-test") { cacheDir =>
      val cache = new SketchTemplateCache(cacheDir)
      val cs = new CompassSession(spark, templateCache = Some(cache))
      cs.sql(fiveWay).collect()
      val missesAfterFirst = cache.misses
      // 4 unfiltered instances (lineitem/orders/customer/nation); region is
      // filtered and must NOT be cached.
      assert(missesAfterFirst == 4, s"expected 4 cache builds, got $missesAfterFirst")
      cs.sql(fiveWay).collect()
      assert(cache.misses == missesAfterFirst, "second run must not rebuild")
      assert(cache.hits >= 4)
    }
  }

  test("filtered-sketch memo: repeated (table, filter-set) builds once per session") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val (first, firstJobs) = optimizeCountingJobs(cs, fiveWay)
    assert(firstJobs >= 1, "the first query must build its sketches")
    assert(keptLeaves(first).nonEmpty, "the builds' survivors must be spliced")
    val (again, secondJobs) = optimizeCountingJobs(cs, fiveWay)
    assert(secondJobs == 0,
      s"identical (table, filter-set) must be served from the memo, not rebuilt ($secondJobs jobs)")
    assert(cs.lastPlan.isDefined)
    // A memo hit on the filtered region reuses the rows the first build
    // kept; the unfiltered instances are template hits and scan.
    assert(cs.lastPlan.get.keptRows == Map("region" -> 1L))
    assert(cs.lastPlan.get.reusedRows == Set("region"))
    assert(keptLeaves(again).size == 1 &&
      keptLeaves(first).exists(_.rowSet eq keptLeaves(again).head.rowSet))
    // Memo-served sketches still yield a correct (vanilla-identical) result.
    val vanilla = spark.sql(fiveWay).collect().map(_.toSeq)
    assert(again.collect().map(_.toSeq).toSeq == vanilla.toSeq)
  }

  test("filtered-sketch disk tier: a COLD session with a warm cache dir " +
      "runs zero filtered sketch jobs and plans identically") {
    Tables.registerAll(spark, dir)
    TempDirs.withTempDir("graft-filtered-tier") { cacheDir =>
      // Session 1: cold everything — builds the filtered region sketch and
      // spills it to the disk tier.
      val cs1 = new CompassSession(spark,
        templateCache = Some(new SketchTemplateCache(cacheDir)))
      val (df1, coldJobs) = optimizeCountingJobs(cs1, fiveWay)
      val r1 = df1.collect().map(_.toSeq)
      val plan1 = cs1.lastPlan.get
      assert(coldJobs >= 1, "cold session must build the filtered sketch")
      assert(plan1.keptRows.contains("region"), "the cold build's survivors must be spliced")
      assert(cacheFiles(cacheDir, "filtered-").nonEmpty, "the filtered sketch must spill to disk")
      // Session 2: NEW CompassSession (memory memo empty — the r12 cold-start
      // cost) over the SAME cache dir: every sketch must come from disk, no
      // sketch job, and the plan + results must be identical (the persisted
      // bytes ARE the built sketch, so estimates cannot drift).
      val cs2 = new CompassSession(spark,
        templateCache = Some(new SketchTemplateCache(cacheDir)))
      val (df2, warmJobs) = optimizeCountingJobs(cs2, fiveWay)
      val r2 = df2.collect().map(_.toSeq)
      val plan2 = cs2.lastPlan.get
      assert(warmJobs == 0, s"warm disk tier must serve every sketch (ran $warmJobs jobs)")
      assert(plan2.keptRows.isEmpty && keptLeaves(df2).isEmpty,
        "a disk hit carries no rows: every instance is spliced as its scan")
      assert(plan2.order == plan1.order, "disk-served sketches must reproduce the plan")
      assert(plan2.sketchCounts == plan1.sketchCounts)
      assert(r2.toSeq == r1.toSeq)
      // And the result still equals vanilla.
      assert(r2.toSeq == spark.sql(fiveWay).collect().map(_.toSeq).toSeq)
    }
  }

  test("a corrupt template file is rebuilt, and the query stays on the COMPASS path") {
    Tables.registerAll(spark, dir)
    TempDirs.withTempDir("graft-corrupt-template") { cacheDir =>
      new CompassSession(spark, templateCache = Some(new SketchTemplateCache(cacheDir)))
        .warmTemplates(Seq(spark.sql(fiveWay)))
      val templates = cacheFiles(cacheDir, "sketch-")
      assert(templates.nonEmpty)
      templates.foreach(java.nio.file.Files.write(_, Array[Byte](1, 2, 3)))
      val cache = new SketchTemplateCache(cacheDir)
      val cs = new CompassSession(spark, templateCache = Some(cache))
      val r = cs.sql(fiveWay).collect().map(_.toSeq)
      assert(cs.lastPlan.isDefined, "a corrupt template must not knock the query off COMPASS")
      assert(r.toSeq == spark.sql(fiveWay).collect().map(_.toSeq).toSeq)
      assert(cache.misses > 0, "the corrupt templates must be rebuilt")
    }
  }

  test("PRE_PROCESSING warm-up: first compass query after warm() builds nothing") {
    Tables.registerAll(spark, dir)
    TempDirs.withTempDir("graft-warm-test") { cacheDir =>
      val cache = new SketchTemplateCache(cacheDir)
      val cs = new CompassSession(spark, templateCache = Some(cache))
      // Warm with the UNFILTERED workload shape (the filtered region instance
      // would never be template-served anyway).
      val warmed = cs.warmTemplates(Seq(spark.sql(
        """SELECT count(*) FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey""".stripMargin)))
      assert(warmed == 5, s"expected 5 warmed templates, got $warmed")
      val missesAfterWarm = cache.misses
      assert(missesAfterWarm == 5)
      // The live query (with its region filter) must be served entirely from
      // the warmed templates: zero new builds, and the filtered instance
      // takes the tiny-template shortcut rather than a sketch job.
      cs.sql(fiveWay).collect()
      assert(cache.misses == missesAfterWarm,
        s"live query rebuilt templates: ${cache.misses - missesAfterWarm} new misses")
      assert(cache.hits >= 4)
      assert(cs.lastPlan.isDefined, "query must stay on the COMPASS path")
    }
  }

  test("warm-up counts distinct templates: two queries over the same 5 warm 5") {
    Tables.registerAll(spark, dir)
    TempDirs.withTempDir("graft-warm-distinct") { cacheDir =>
      val cache = new SketchTemplateCache(cacheDir)
      val q = """SELECT count(*) FROM lineitem
                |JOIN orders ON l_orderkey = o_orderkey
                |JOIN customer ON o_custkey = c_custkey
                |JOIN nation ON c_nationkey = n_nationkey
                |JOIN region ON n_regionkey = r_regionkey""".stripMargin
      val warmed = new CompassSession(spark, templateCache = Some(cache))
        .warmTemplates(Seq(spark.sql(q), spark.sql(q.replace("count(*)", "max(r_name)"))))
      assert(warmed == 5, s"expected 5 distinct templates, got $warmed")
      assert(cache.misses == 5)
    }
  }

  test("BASELINE metric: chosen order's true intermediate size <= naive's") {
    // The reference's success criterion (BASELINE.md "Port target"): on
    // multi-join queries the sketch-chosen order's intermediate-result sum
    // must be <= the naive size-descending order's.
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    cs.sql(
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin).collect()
    val chosen = cs.lastPlan.get.order
    val naive = Seq("lineitem", "orders", "customer") // size-descending

    def trueIntermediate(order: Seq[String]): Long = {
      // only one intermediate for 3 tables: |t0 ⋈ t1| under the filters
      val pairSql = Map(
        Set("lineitem", "orders") ->
          "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_totalprice > 400000",
        Set("orders", "customer") ->
          "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > 400000",
        Set("lineitem", "customer") -> // no edge: cartesian
          "SELECT count(*) FROM lineitem CROSS JOIN customer")
      spark.sql(pairSql(order.take(2).toSet)).head().getLong(0)
    }
    val chosenSize = trueIntermediate(chosen)
    val naiveSize = trueIntermediate(naive)
    assert(chosenSize <= naiveSize,
      s"chosen $chosen -> $chosenSize vs naive $naive -> $naiveSize")
  }

  test("tiny-table shortcut: filtered small table served from its template") {
    Tables.registerAll(spark, dir)
    TempDirs.withTempDir("graft-tiny-test") { cacheDir =>
      val cache = new SketchTemplateCache(cacheDir)
      val cs = new CompassSession(spark, templateCache = Some(cache))
      // Seed the cache: same join graph, region UNFILTERED → template built.
      cs.sql(
        """SELECT count(*) AS n FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey""".stripMargin).collect()
      val missesAfterSeed = cache.misses
      // Now region is filtered, but its template shows 5 rows < 200 → the
      // filtered sketch job is skipped and the template served.
      cs.sql(fiveWay).collect()
      assert(cache.misses == missesAfterSeed,
        "tiny filtered table must not trigger a new sketch build")
      assert(cs.lastPlan.get.sketchCounts("region") == 5,
        s"expected the 5-row template count, got ${cs.lastPlan.get.sketchCounts}")
    }
  }

  test("chosen 4-table order is near-optimal among ALL connected orders by true cost") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    cs.sql(
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_totalprice > 300000 AND c_acctbal > 0""".stripMargin).collect()
    val chosen = cs.lastPlan.get.order

    // True size of every joinable subset (chain graph L-O-C-N).
    val tableFilters = Map(
      "orders" -> "o_totalprice > 300000", "customer" -> "c_acctbal > 0")
    def subsetCount(ts: Set[String]): Long = {
      val conds = Seq(
        ("lineitem", "orders") -> "l_orderkey = o_orderkey",
        ("orders", "customer") -> "o_custkey = c_custkey",
        ("customer", "nation") -> "c_nationkey = n_nationkey")
        .collect { case ((a, b), c) if ts(a) && ts(b) => c }
      val where = (conds ++ ts.toSeq.flatMap(tableFilters.get)).mkString(" AND ")
      spark.sql(s"SELECT count(*) FROM ${ts.mkString(", ")} WHERE $where").head().getLong(0)
    }
    val adjacency = Map(
      "lineitem" -> Set("orders"), "orders" -> Set("lineitem", "customer"),
      "customer" -> Set("orders", "nation"), "nation" -> Set("customer"))
    val all = Seq("lineitem", "orders", "customer", "nation")
    def connectedOrders(acc: Seq[String]): Seq[Seq[String]] =
      if (acc.size == 4) Seq(acc)
      else all.filterNot(acc.contains)
        .filter(t => acc.isEmpty || acc.exists(adjacency(_).contains(t)))
        .flatMap(t => connectedOrders(acc :+ t))
    val memo = scala.collection.mutable.Map.empty[Set[String], Long]
    def cost(order: Seq[String]): Long =
      (2 to 3).map(k => memo.getOrElseUpdate(order.take(k).toSet,
        subsetCount(order.take(k).toSet))).sum
    val costs = connectedOrders(Seq.empty).map(o => o -> cost(o))
    val best = costs.map(_._2).min
    val chosenCost = cost(chosen)
    // within 2x of the true-optimal connected order (and ~never the worst)
    assert(chosenCost <= best * 2,
      s"chosen $chosen cost $chosenCost vs optimal $best (all: ${costs.map(_._2).sorted})")
  }

  test("explainString reports order, survivors, and estimates") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    cs.sql(fiveWay).collect()
    val s = cs.lastPlan.get.explainString
    assert(s.contains("COMPASS plan:") && s.contains("surviving rows:"))
    assert(s.contains("region=1"))
    // A fresh session builds every sketch, so each instance is served
    // from the rows its build kept, region's one row among them.
    val kept = s.linesIterator.find(_.startsWith("  served from kept rows: ")).get
    assert(kept.contains("region=1"), kept)
  }

  test("scalar-subquery filters survive the pipeline (optimized or fallback)") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val q =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin
    assert(cs.sql(q).head().getLong(0) == spark.sql(q).head().getLong(0))
  }

  test("DataFrame-API-built joins go through the same pipeline") {
    import org.apache.spark.sql.functions.col
    val cs = new CompassSession(spark)
    val l = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 300000)
    val c = Tables.load(spark, dir, "customer")
    val df = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
    val n = cs.optimize(df).count()
    assert(n == df.count())
    assert(cs.lastPlan.nonEmpty, "DataFrame-built join should be optimizable")
  }

  test("template cache keys on data identity, not view/alias name") {
    TempDirs.withTempDir("graft-identity-test") { cacheDir =>
      val cache = new SketchTemplateCache(cacheDir)
      val cs = new CompassSession(spark, templateCache = Some(cache))
      Tables.registerAll(spark, dir) // sf0.001
      cs.sql(fiveWay).collect()
      val countSmall = cs.lastPlan.get.sketchCounts("customer")
      val missesAfterFirst = cache.misses
      // Same view names, same aliases, same columns — DIFFERENT data. An
      // alias-keyed cache (the r2 hazard) would serve the stale sf0.001
      // sketch; the data-identity key must rebuild.
      Tables.registerAll(spark, "/root/testdata/sf0.01")
      cs.sql(fiveWay).collect()
      assert(cache.misses > missesAfterFirst,
        "different data under the same view names must rebuild templates")
      val countBig = cs.lastPlan.get.sketchCounts("customer")
      assert(countBig > countSmall,
        s"sf0.01 customer template must not reuse sf0.001's ($countSmall vs $countBig)")
      Tables.registerAll(spark, dir) // restore
    }
  }

  test("the spliced plan reads base tables, never a push-down cache") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val q =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin
    val out = cs.sql(q)
    assert(cs.lastPlan.isDefined, "the query should take the COMPASS path")
    assert(out.head().getLong(0) == spark.sql(q).head().getLong(0))
    // The pre-pass persists nothing: the selective orders instance is
    // served from the rows its own sketch job returned, a leaf of the
    // spliced plan, never from a cached (InMemoryRelation) relation.
    assert(out.queryExecution.optimizedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]).isEmpty,
      "the spliced plan must not read a cached push-down relation")
    val orders = cs.lastPlan.get.keptRows.get("orders")
    assert(orders.exists(_ > 0), "orders must be served from its kept rows")
    assert(keptLeaves(out).exists(_.rowSet.rows.size == orders.get))
    // A different second query, then close(): the first frame still runs.
    val q2 = q.replace("400000", "450000")
    assert(cs.sql(q2).head().getLong(0) == spark.sql(q2).head().getLong(0))
    cs.close()
    assert(out.head().getLong(0) == spark.sql(q).head().getLong(0))
  }

  test("zero survivors splice an empty relation, and the count is plain Spark's") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val q =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice < 0""".stripMargin
    val out = cs.sql(q)
    assert(cs.lastPlan.get.keptRows.get("orders").contains(0L))
    assert(out.queryExecution.analyzed.exists {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r.data.isEmpty
      case _ => false
    }, "zero survivors must be an empty LocalRelation")
    assert(out.head().getLong(0) == spark.sql(q).head().getLong(0))
    assert(out.head().getLong(0) == 0L)
  }

  test("interleaved scopes keep their own lastPlan and correct results") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val s1 = cs.newScope()
    val s2 = cs.newScope()
    val qa =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000""".stripMargin
    val qb = qa.replace("400000", "430000")
    val outA = s1.sql(qa)
    val planA = s1.lastPlan
    assert(planA.isDefined, "scope 1 should take the COMPASS path")
    // Interleave: scope 2 optimizes BEFORE scope 1's query has run.
    val outB = s2.sql(qb)
    assert(s2.lastPlan.isDefined)
    assert(s1.lastPlan eq planA, "scope 2's optimize() must not touch scope 1's trace")
    // Both interleaved queries agree with plain SQL.
    assert(outA.head().getLong(0) == spark.sql(qa).head().getLong(0))
    assert(outB.head().getLong(0) == spark.sql(qb).head().getLong(0))
    // A scope's next query replaces only ITS trace.
    val planB = s2.lastPlan
    s1.sql(qa.replace("400000", "450000")).collect()
    assert(!s1.lastPlan.eq(planA))
    assert(s2.lastPlan eq planB, "scope 1's next optimize() must leave scope 2's trace")
    cs.dropScope(s1)
    assert(s1.lastPlan.isEmpty && (s2.lastPlan eq planB))
    cs.close()
  }

  test("two THREADS optimizing concurrently on one session both get correct results") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val qa =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 410000""".stripMargin
    val qb = qa.replace("410000", "440000")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // Each thread takes its own scope, optimizes, AND executes — overlapping
    // sketch jobs and main-query actions on one session.
    val fa = Future { cs.newScope().sql(qa).head().getLong(0) }
    val fb = Future { cs.newScope().sql(qb).head().getLong(0) }
    val (na, nb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(na == spark.sql(qa).head().getLong(0), "thread A result diverged")
    assert(nb == spark.sql(qb).head().getLong(0), "thread B result diverged")
    cs.close()
  }

  test("a failing sketch job falls back to the input frame") {
    import org.apache.spark.sql.functions.{col, udf}
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val boom = udf((x: Long) => {
      if (x >= 0) throw new RuntimeException("boom"); true
    })
    val l = Tables.load(spark, dir, "lineitem").filter(boom(col("l_orderkey")))
    val o = Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 400000)
    val c = Tables.load(spark, dir, "customer")
    val df = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
    // sketch job throws inside the UDF → fallback
    val (out, work) = Work.measure(spark)(cs.optimize(df))
    assert(cs.lastPlan.isEmpty, "failed sketch build must fall back to vanilla")
    assert(out eq df, "fallback must return the input frame")
    assert(work.records.compassFallbacks.map(_.exception) ==
      Seq("org.apache.spark.SparkException"), work.records.compassFallbacks)
    cs.close()
  }

  test("date-keyed joins go through the sketch pipeline, not silent fallback") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import java.sql.Date
    val days = (1 to 30).map(i => Date.valueOf(f"2024-01-$i%02d"))
    val a = days.flatMap(d => Seq.fill(4)(d)).zipWithIndex
      .map { case (d, i) => (d, i.toLong) }.toDF("da", "av")
    val b = days.map(d => (d, d.toString)).toDF("db", "bv")
    val c = days.take(10).map(d => (d, 1L)).toDF("dc", "cv")
    val df = a.join(b, col("da") === col("db")).join(c, col("db") === col("dc"))
    val cs = new CompassSession(spark)
    val n = cs.optimize(df).count()
    assert(n == df.count())
    assert(cs.lastPlan.nonEmpty,
      "date-keyed join must be optimized (r2's date->bigint cast threw at analysis)")
  }

  test("cyclic join graph: optimized, and every cycle edge survives the splice") {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    // 5-cycle: L-O-C-N-S closing back to L via the suppkey edge. The node
    // closing the cycle must join the prefix on MULTIPLE equi-edges AND'd
    // together (rebuildRegion's multi-edge path).
    val q =
      """SELECT count(*) AS n FROM lineitem, orders, customer, nation, supplier
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |AND c_nationkey = n_nationkey AND s_nationkey = n_nationkey
        |AND l_suppkey = s_suppkey AND o_totalprice > 150000""".stripMargin
    val out = cs.sql(q)
    assert(out.head().getLong(0) == spark.sql(q).head().getLong(0))
    assert(cs.lastPlan.nonEmpty, "cyclic graph must be optimized, not fallback")
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val pairs = out.queryExecution.analyzed.collect {
      case j: Join => j.condition.toSeq
      case f: Filter => Seq(f.condition)
    }.flatten.flatMap(conjuncts).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) => Set(a.name, b.name)
    }
    val expected = Seq(
      Set("l_orderkey", "o_orderkey"), Set("o_custkey", "c_custkey"),
      Set("c_nationkey", "n_nationkey"), Set("s_nationkey", "n_nationkey"),
      Set("l_suppkey", "s_suppkey"))
    expected.foreach(e => assert(pairs.contains(e), s"missing cycle edge $e in $pairs"))
    // The cycle-closing instance carries >1 edge: some Join node must AND
    // at least two equi-conditions.
    val multiEdgeJoin = out.queryExecution.analyzed.collect {
      case j: Join if j.condition.exists(c => conjuncts(c).size >= 2) => j
    }
    assert(multiEdgeJoin.nonEmpty, "no join carries the AND'd cycle edges")
  }

  test("disconnected graph goes THROUGH compass: fallback order + Cross splice") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    val q = "SELECT count(*) AS n FROM supplier, nation, region " +
      "WHERE s_nationkey = n_nationkey AND n_name LIKE 'B%'"
    val out = cs.sql(q)
    assert(out.head().getLong(0) == spark.sql(q).head().getLong(0))
    assert(cs.lastPlan.nonEmpty,
      "disconnected graphs must not silently fall back to the vanilla plan")
    // region is unreachable by equi-edges → some join in the spliced
    // region must be condition-free (Cross).
    val crossJoins = out.queryExecution.analyzed.collect {
      case j: Join if j.condition.isEmpty => j
    }
    assert(crossJoins.nonEmpty, "expected a Cross splice for the dangling instance")
  }

  test("estimates in lastPlan are monotone-sane and positive") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    cs.sql(fiveWay).collect()
    val ests = cs.lastPlan.get.intermediateEstimates
    assert(ests.nonEmpty && ests.forall(_ >= 0))
  }

  test("kept build sides reach their hash joins without a broadcast job") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    try {
      // A fresh session builds every instance, so every one is kept.
      val df = cs.sql(fiveWay)
      val plan = cs.lastPlan.get
      assert(plan.order.tail.forall(plan.keptRows.contains), plan.explainString)
      val (rows, work) = Work.measure(spark)(df.collect())
      assert(rows.map(_.toSeq).toSeq == spark.sql(fiveWay).collect().map(_.toSeq).toSeq)
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("BroadcastExchange") && executed.contains("KeptRows"), executed)
      assert(work.broadcastJobs == 0 && work.broadcastBytes == 0,
        s"${work.broadcastJobs} broadcast jobs, ${work.broadcastBytes} B:\n$executed")
    } finally cs.close()
  }

  test("a later query reuses a filtered instance's kept rows until they are released") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    // The same five instances and filters; only what the plan reads differs.
    val counted = fiveWay.replace("SELECT n_name, count(*) AS n", "SELECT count(*) AS n")
      .replace("GROUP BY n_name ORDER BY n_name", "")
    def regionLeaf(df: org.apache.spark.sql.DataFrame): Option[KeptRows] =
      keptLeaves(df).find(_.output.map(_.name) == Seq("r_regionkey"))
    try {
      val (first, _) = optimizeCountingJobs(cs, fiveWay)
      val built = regionLeaf(first).get
      assert(cs.lastPlan.get.reusedRows.isEmpty)
      val (second, jobs) = optimizeCountingJobs(cs, counted)
      assert(jobs == 0, s"a store-served query ran $jobs sketch jobs")
      assert(cs.lastPlan.get.reusedRows == Set("region"))
      assert(regionLeaf(second).exists(_.rowSet eq built.rowSet),
        "the reused leaf must read the first build's rows")
      assert(cs.lastPlan.get.explainString.contains("region=1 (reused)"))
      val vanilla = spark.sql(counted).head().getLong(0)
      assert(second.head().getLong(0) == vanilla)
      // Released: the store still serves the sketch, and region is scanned.
      cs.releaseKeptRows()
      val (third, thirdJobs) = optimizeCountingJobs(cs, counted)
      assert(thirdJobs == 0 && regionLeaf(third).isEmpty && cs.lastPlan.get.keptRows.isEmpty)
      assert(third.head().getLong(0) == vanilla)
      // Closed: the sketch is gone too, so region is built and kept afresh.
      cs.close()
      val (fourth, fourthJobs) = optimizeCountingJobs(cs, counted)
      assert(fourthJobs >= 1 && cs.lastPlan.get.reusedRows.isEmpty)
      assert(regionLeaf(fourth).exists(l => !(l.rowSet eq built.rowSet)))
      assert(fourth.head().getLong(0) == vanilla)
      // The released rows still serve the frames that read them.
      assert(second.head().getLong(0) == vanilla)
    } finally cs.close()
  }

  test("a self-join over two differently filtered instances keeps two row sets apart") {
    Tables.registerAll(spark, dir)
    val cs = new CompassSession(spark)
    // Both orders instances keep (o_orderkey, o_custkey): same layout,
    // different rows. A plan that took one for the other would reuse one
    // broadcast for both sides.
    val q =
      """SELECT o1.o_orderkey AS a, o2.o_orderkey AS b FROM orders o1
        |JOIN customer c ON o1.o_custkey = c.c_custkey
        |JOIN orders o2 ON o2.o_custkey = c.c_custkey
        |WHERE o1.o_totalprice > 300000 AND o2.o_totalprice < 50000""".stripMargin
    def multiset(rows: Array[org.apache.spark.sql.Row]) =
      rows.toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    try {
      val vanilla = multiset(spark.sql(q).collect())
      assert(vanilla.nonEmpty)
      Seq("built", "reused").foreach { pass =>
        val df = cs.sql(q)
        val orders = keptLeaves(df).filter(_.output.map(_.name) == Seq("o_orderkey", "o_custkey"))
        assert(orders.size == 2 && !(orders(0).rowSet eq orders(1).rowSet), s"$pass: $orders")
        assert(multiset(df.collect()) == vanilla, s"$pass rows differ")
      }
      assert(cs.lastPlan.get.reusedRows == Set("o1", "o2"))
    } finally cs.close()
  }

  test("kept rows over the session's bound are not kept, and results stay plain Spark's") {
    Tables.registerAll(spark, dir)
    val q =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 300000 AND c_acctbal > 9000""".stripMargin
    val vanilla = spark.sql(q).head().getLong(0)
    // The two filtered instances' row-set sizes, from an unbounded session.
    val free = new CompassSession(spark)
    val bytes = try {
      val df = free.sql(q)
      Seq("orders" -> "o_orderkey", "customer" -> "c_custkey").map { case (t, c) =>
        t -> keptLeaves(df).find(_.output.exists(_.name == c)).get.rowSet.bytes
      }
    } finally free.close()
    val (small, large) = (bytes.minBy(_._2), bytes.maxBy(_._2))
    assert(small._1 != large._1)
    // A bound that admits the smaller set alone, whichever build lands first.
    val cs = new CompassSession(spark, None, small._2)
    try {
      assert(cs.sql(q).head().getLong(0) == vanilla)
      val again = cs.sql(q)
      assert(cs.lastPlan.get.reusedRows == Set(small._1), cs.lastPlan.get.explainString)
      assert(again.head().getLong(0) == vanilla)
    } finally cs.close()
  }
}
