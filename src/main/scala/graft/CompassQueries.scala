package graft

import graft.planner.{CompassSession, SketchTemplateCache}
import org.apache.spark.sql.SparkSession

/** COMPASS optimizer-driven query entries: the same JOB-shaped workloads as
  * the plain SQL surface, but executed through the full sketch pipeline —
  * filtered sketch jobs → join-order enumeration → spliced left-deep plan.
  * The DuckDB oracle is the equivalent plain SQL, so a green row proves the
  * reordered plan is semantics-preserving end-to-end.
  */
object CompassQueries {
  import Queries._

  private val sessions = scala.collection.mutable.Map.empty[SparkSession, CompassSession]

  /** One CompassSession per session it wraps, so entries share its
    * sketch store's memory memo (a fresh wrapper per call would re-read
    * every sketch from disk). The plain entries wrap the harness session
    * itself; `JobEntries.compassFor` wraps the JOB corpus's x1 trim child.
    * NOT weakly keyed: a CompassSession strongly references its
    * SparkSession, so weak keys could never be collected (the WeakHashMap
    * self-reference trap the OpCaches doc spells out); instead, entries
    * whose session has STOPPED are swept on access. Entries run
    * sequentially (Verify/Bench/driver) in the session's default scope.
    */
  private[graft] def memo(s: SparkSession): CompassSession = sessions.synchronized {
    sessions.filterInPlace((sess, _) => !sess.sparkContext.isStopped)
    sessions.getOrElseUpdate(s,
      new CompassSession(s, templateCache = Some(SketchTemplateCache.default())))
  }

  /** PRE_PROCESSING for harnesses (reference: `PRE_PROCESSING`,
    * Catalog/COMPASS_init_variables.txt:6 — build every unfiltered
    * (table × join-col-set) template BEFORE the workload): warm the shared
    * session's template cache from the ACTUAL entry workload — template
    * keys are (resolved relation × exact join-column list in first-seen
    * order), so only the entries' own queries produce the right keys; a
    * representative subset leaves the uncovered entries paying their
    * template builds inside the timed window.
    */
  def warm(s: SparkSession, dir: String): Int = {
    entries: Unit // force the lazy val — workloadTexts fills as its side effect
    Tables.registerAll(s, dir)
    memo(s).warmTemplates(
      (workloadTexts.toSeq ++ graft.planner.OptimizerQuality.families.map(_._2))
        .map(s.sql))
  }

  private val workloadTexts = scala.collection.mutable.Buffer.empty[String]

  private def viaCompass(name: String, text: String): Entry = {
    workloadTexts += text
    dfq(name, text) { (s, dir) =>
      Tables.registerAll(s, dir)
      memo(s).sql(text)
    }
  }

  // lazy val (not def): viaCompass records each entry's SQL into
  // workloadTexts as a side effect — re-evaluation would duplicate them.
  lazy val entries: Seq[Entry] = Seq(
    // The headline COMPASS shape: 5-table chain + selective dim filter
    // (reference workload: /root/reference/queries/1a.sql.sq.cnt).
    viaCompass("q_compass_multiway",
      "SELECT n_name, count(*) AS n FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name"),

    // Filters on several fact/dim tables at once — the case where online
    // (post-filter) sketches beat static statistics.
    viaCompass("q_compass_filtered",
      "SELECT count(*) AS n FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE o_totalprice > 200000 AND c_mktsegment = 'BUILDING' " +
        "AND l_quantity > 10"),

    // Implicit-join JOB syntax through the same pipeline.
    viaCompass("q_compass_implicit",
      "SELECT count(*) AS n FROM lineitem, part, supplier " +
        "WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey " +
        "AND p_type = 'SMALL' AND s_acctbal > 0"),

    // Star shape: one fact joined to three dimensions on distinct keys
    // (multi-column sketch group on the fact instance).
    viaCompass("q_compass_star",
      "SELECT p_brand, count(*) AS n, round(sum(l_extendedprice), 2) AS rev " +
        "FROM lineitem, orders, part, supplier " +
        "WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey " +
        "AND l_suppkey = s_suppkey AND o_orderpriority = '1-URGENT' " +
        "AND p_size <= 10 GROUP BY p_brand ORDER BY p_brand"),

    // Snowflake: fact -> dim -> sub-dim chain with filters at both ends.
    viaCompass("q_compass_snowflake",
      "SELECT o_orderstatus, count(*) AS n " +
        "FROM orders, customer, nation, region " +
        "WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey " +
        "AND n_regionkey = r_regionkey AND r_name IN ('EUROPE', 'ASIA') " +
        "AND o_totalprice > 50000 GROUP BY o_orderstatus ORDER BY o_orderstatus"),

    // Self-join through the pipeline: two lineitem instances must keep
    // separate sketches/seeds (reference keys sketches by RA node id,
    // RelAlgExecutor.h:349-356).
    viaCompass("q_compass_selfjoin",
      "SELECT count(*) AS n FROM lineitem l1, lineitem l2, orders " +
        "WHERE l1.l_orderkey = l2.l_orderkey AND l1.l_orderkey = o_orderkey " +
        "AND l1.l_linenumber = 1 AND l2.l_quantity > 25 " +
        "AND o_totalprice > 100000"),

    // String join keys: sketch keys go through the xxhash64 path (the
    // reference joins on dictionary-encoded string ids — SURVEY §1.3;
    // a 64-bit hash preserves equality semantics the same way).
    viaCompass("q_compass_stringkey",
      "SELECT count(*) AS n FROM nation n1, nation n2, region " +
        "WHERE n1.n_name = n2.n_name AND n2.n_regionkey = r_regionkey " +
        "AND r_name LIKE 'A%'"),

    // Disconnected join graph: one equi-component plus a dangling
    // cartesian instance — the enumerator's connected-order search finds
    // no full order and falls back to size-descending, and rebuildRegion
    // must splice the unreachable instance with a Cross join (reference
    // stock ordering: RelAlgExecutor.cpp:2608-2621).
    viaCompass("q_compass_disconnected",
      "SELECT count(*) AS n FROM supplier, nation, region " +
        "WHERE s_nationkey = n_nationkey AND n_name LIKE 'B%'"),

    // Pure-SQL sketch pipeline through the extension-registered
    // functions. Bounded-soundness oracle: the sketch's survivor count
    // must EXACTLY equal DuckDB's count(*) (fagms_count is exact by
    // construction), and the pairwise join estimate must land within 2x
    // of the true join size (the GraftExtensionsSpec accuracy pin,
    // driver-checked) — either violation drops the row from the oracle
    // side and fails the compare.
    dfq("q_sketch_sql",
      "WITH res AS (SELECT n_orders, est_join FROM " +
        "read_parquet('{{VERIFY_OUT}}/q_sketch_sql/*.parquet')), " +
        "ex AS (SELECT (SELECT count(*) FROM orders) AS n_orders_e, " +
        "(SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey) AS join_e) " +
        "SELECT r.n_orders, r.est_join FROM res r, ex " +
        "WHERE r.n_orders = ex.n_orders_e " +
        "AND r.est_join * 2 >= ex.join_e AND r.est_join <= ex.join_e * 2") { (s, dir) =>
      graft.functions.GraftExtensions.register(s)
      Tables.registerAll(s, dir)
      s.sql(
        "SELECT fagms_count((SELECT fagms_sketch('qss', o_orderkey) FROM orders)) AS n_orders, " +
          "CAST(fagms_pairwise(" +
          "(SELECT fagms_sketch('qss', l_orderkey) FROM lineitem), " +
          "(SELECT fagms_sketch('qss', o_orderkey) FROM orders)) AS BIGINT) AS est_join")
    },

    // Six instances, mixed chain + branch (enumerator searches a deeper
    // space; JOB families go to 7+ instances — reference queries/).
    viaCompass("q_compass_6way",
      "SELECT r_name, count(*) AS n FROM lineitem, orders, customer, nation, region, supplier " +
        "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND l_suppkey = s_suppkey AND o_totalprice > 250000 AND s_acctbal > 2000 " +
        "GROUP BY r_name ORDER BY r_name"),

    // Seven instances: chain + two branches + a nationkey cycle — the full
    // JOB-family shape (reference queries go to 7+ relations with cycles).
    viaCompass("q_compass_job_shape",
      "SELECT count(*) AS n FROM lineitem, orders, customer, nation, region, supplier, part " +
        "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey " +
        "AND l_partkey = p_partkey " +
        "AND o_totalprice > 250000 AND p_size <= 25 AND r_name <> 'AFRICA'"),

    // ===== Cyclic join graphs (JOB's signature shape — e.g. reference
    // queries/6a.sql.sq.cnt closes cycles through shared keys). These
    // exercise rebuildRegion's multi-edge AND path: the instance that
    // closes a cycle joins the placed prefix on SEVERAL equi-edges at
    // once, and the enumerator estimates over multi-edge traversals.

    // Triangle: supplier-nation, customer-nation, supplier-customer all
    // on the nationkey hub.
    viaCompass("q_compass_cycle_tri",
      "SELECT count(*) AS n FROM supplier, customer, nation " +
        "WHERE s_nationkey = n_nationkey AND c_nationkey = n_nationkey " +
        "AND s_nationkey = c_nationkey AND n_name LIKE 'A%' AND s_acctbal > 0"),

    // 5-cycle: lineitem-orders-customer-nation-supplier closing back to
    // lineitem via l_suppkey = s_suppkey.
    viaCompass("q_compass_cycle_5",
      "SELECT count(*) AS n FROM lineitem, orders, customer, nation, supplier " +
        "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n_nationkey AND s_nationkey = n_nationkey " +
        "AND l_suppkey = s_suppkey AND o_totalprice > 150000"),

    // Self-join triangle (l1-l2-orders all on the orderkey) with a part
    // branch and a non-equi residual.
    viaCompass("q_compass_cycle_selfjoin",
      "SELECT count(*) AS n FROM lineitem l1, lineitem l2, orders, part " +
        "WHERE l1.l_orderkey = l2.l_orderkey AND l1.l_orderkey = o_orderkey " +
        "AND l2.l_orderkey = o_orderkey AND l1.l_partkey = p_partkey " +
        "AND l1.l_linenumber < l2.l_linenumber " +
        "AND o_totalprice > 200000 AND p_size <= 20"),

    // Eight instances, two nation instances closing a cycle through the
    // shared region — the 8-relation JOB-family shape where the 100-step
    // traversal bound and branch-and-bound genuinely bite (reference
    // workloads go to 8+ relations with cycles, queries/6a.sql.sq.cnt).
    viaCompass("q_compass_8way",
      "SELECT count(*) AS n FROM lineitem, orders, customer, " +
        "nation n1, supplier, nation n2, region, part " +
        "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n1.n_nationkey AND l_suppkey = s_suppkey " +
        "AND s_nationkey = n2.n_nationkey " +
        "AND n1.n_regionkey = r_regionkey AND n2.n_regionkey = r_regionkey " +
        "AND l_partkey = p_partkey " +
        "AND o_totalprice > 200000 AND p_size <= 15 AND r_name = 'ASIA'"),

    // Nine instances, two distinct cycles: the l1-l2-orders self-join
    // triangle plus the n1-region-n2 diamond, with a non-equi residual.
    viaCompass("q_compass_9way",
      "SELECT count(*) AS n FROM lineitem l1, lineitem l2, orders, customer, " +
        "nation n1, supplier, nation n2, region, part " +
        "WHERE l1.l_orderkey = l2.l_orderkey AND l1.l_orderkey = o_orderkey " +
        "AND l2.l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n1.n_nationkey AND l1.l_suppkey = s_suppkey " +
        "AND s_nationkey = n2.n_nationkey " +
        "AND n1.n_regionkey = r_regionkey AND n2.n_regionkey = r_regionkey " +
        "AND l1.l_partkey = p_partkey AND l1.l_linenumber < l2.l_linenumber " +
        "AND o_totalprice > 150000 AND p_size <= 25"),

    // Cross-instance DISJUNCTION: the OR references two different
    // instances, so it can neither become an equi-edge nor a pushed
    // per-instance filter — it rides the splice as a residual conjunct
    // applied above the reordered region (JoinGraphExtractorSpec pins the
    // classification; this entry pins the end-to-end semantics).
    viaCompass("q_compass_residual_or",
      "SELECT count(*) AS n FROM lineitem, orders, customer " +
        "WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND (o_totalprice > 250000 OR c_acctbal > 8000) " +
        "AND l_quantity > 5"),

    // Twelve instances — the l1-l2-o1-o2 orderkey quad cycle plus three
    // nation-region diamonds through ONE shared region instance (text +
    // rationale on OptimizerQuality.cycle12Text; also a quality family,
    // so the chosen order's true intermediates are measured, not assumed).
    viaCompass("q_compass_12way", graft.planner.OptimizerQuality.cycle12Text),

    // Seventeen instances — the reference workload's LARGEST family size
    // (queries/29a.sql.sq.cnt-class): lineitem self-join clique, two
    // orders, two customers, four nations, two parts, two suppliers, two
    // regions, three diamonds. The enumerator's 100-step bound and
    // branch-and-bound are doing real work here (17 starts over a
    // 19-edge cyclic graph); the oracle pins end-to-end semantics.
    viaCompass("q_compass_17way", graft.planner.OptimizerQuality.job17Text),

    // Optimizer QUALITY, differentially checked: for five JOB-shaped
    // families, execute both the COMPASS order and the stock
    // size-descending order prefix-by-prefix and compare TRUE intermediate
    // row sums. The oracle pins compass <= naive for every family, so this
    // row goes red if the sketch pipeline ever picks a worse order than
    // the baseline it exists to beat.
    // Family list and its rationale live on OptimizerQuality.families —
    // shared with OptimizerQualitySpec so the spec pins exactly this
    // workload.
    // The `measured` column pins the harness itself: every family's naive
    // order has non-empty true intermediates at oracle scale, so a dead
    // measurement (r7 found one: metrics read from a never-executed plan
    // report zeros and 0<=0 passes vacuously) turns the row red instead
    // of silently weakening the compass<=naive claim.
    dfq("q_compass_quality",
      "SELECT * FROM (" +
        "SELECT 'chain5' AS family, CAST(1 AS BIGINT) AS compass_le_naive, CAST(1 AS BIGINT) AS measured " +
        "UNION ALL SELECT 'cycle12', 1, 1 UNION ALL SELECT 'job17', 1, 1 " +
        "UNION ALL SELECT 'job7cycle', 1, 1 UNION ALL SELECT 'snowflake4', 1, 1" +
        ") t ORDER BY family") { (s, dir) =>
      Tables.registerAll(s, dir)
      val cs = memo(s)
      val reports = graft.planner.OptimizerQuality.families.map { case (fam, text) =>
        graft.planner.OptimizerQuality.compare(s, cs, fam, text)
      }
      import s.implicits._
      reports.map(r => (r.family, if (r.compassLeNaive) 1L else 0L,
          if (r.naiveSum > 0) 1L else 0L))
        .toDF("family", "compass_le_naive", "measured").orderBy("family")
    },

    // LEFT-joined lookup above an inner chain: the inner portion is
    // reordered, the outer join stays pinned (reference:
    // RelAlgExecutor.cpp:2635-2644 left_deep_join_types).
    viaCompass("q_compass_left_lookup",
      "SELECT count(*) AS n, count(n_name) AS matched FROM " +
        "(SELECT c_nationkey AS nk FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE o_totalprice > 200000) t " +
        "LEFT JOIN nation ON t.nk = n_nationkey"),
  )
}
