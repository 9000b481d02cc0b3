package graft

import graft.planner.{CompassSession, OptimizerQuality, SketchTemplateCache}
import graft.plans.JoinGraphExtractor
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Executed-plan guard: Spark must EXECUTE the join order the COMPASS
  * enumerator chose. The quality harness proves the chosen order is
  * good; this spec proves the chosen order is the one that actually
  * runs — a silent override by ReorderJoin, CostBasedJoinReorder,
  * star-schema detection, or an AQE re-plan would invalidate every
  * quality claim while all counts stay correct (reorders are
  * semantics-preserving, so no differential entry can catch one).
  *
  * Method: run each shape through the full COMPASS path, execute it,
  * then walk the EXECUTED physical plan's leaves left-to-right
  * (descending through AQE wrappers, query stages, and exchange reuse —
  * Bridge.leafOutputs). On a left-deep spine that traversal order IS
  * the executed join order; each leaf maps back to its graph instance
  * by output-attribute identity (exprIds survive from the analyzed
  * plan into the physical scans, and self-join instances carry
  * deduplicated exprIds, so same-table instances stay distinguishable).
  *
  * Config contract (asserted below): CompassSession pins
  * spark.sql.cbo.joinReorder.enabled=false and
  * spark.sql.cbo.starSchemaDetection=false on its session.
  */
class CompassOrderGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Instance-name sequence of the executed left-deep spine's leaves. */
  private def executedLeafOrder(text: String, cs: CompassSession): (Seq[String], Seq[String]) = {
    val df0 = spark.sql(text)
    val g = JoinGraphExtractor.extract(df0.queryExecution.analyzed)
      .getOrElse(sys.error("not an optimizable join region"))._1
    val opt = cs.optimize(df0)
    val plan = cs.lastPlan.getOrElse(sys.error("did not take the COMPASS path"))
    opt.collect(): Unit
    val exec = opt.queryExecution.executedPlan
    val leaves = Bridge.leafOutputs(exec)
    if (leaves.size != plan.order.size)
      info(s"leaf/order size mismatch — executed plan:\n$exec")
    val named = leaves.map { ls =>
      g.instances.find(i => i.plan.outputSet.intersect(ls).nonEmpty)
        .map(_.name)
    }
    // A count-only instance on the Cross side can be column-pruned to a
    // ZERO-attribute scan (no exprIds to match). With exactly one such
    // leaf and one unplaced instance, identity follows by elimination —
    // and a reordered spine still trips the comparison, because the
    // substitution happens at the leaf's POSITION.
    val missing = plan.order.filterNot(named.flatten.contains)
    val resolved =
      if (named.count(_.isEmpty) == 1 && missing.size == 1)
        named.map(_.getOrElse(missing.head))
      else named.map(_.getOrElse("?"))
    (resolved, plan.order)
  }

  private val shapes = Seq(
    "chain5" -> OptimizerQuality.families.toMap.apply("chain5"),
    "snowflake4" -> OptimizerQuality.families.toMap.apply("snowflake4"),
    "job7cycle" -> OptimizerQuality.families.toMap.apply("job7cycle"),
    "cycle12" -> OptimizerQuality.cycle12Text,
    "job17" -> OptimizerQuality.job17Text,
    // Self-join: two lineitem instances — the case where leaf identity
    // MUST come from exprIds, not table names.
    "selfjoin" -> ("SELECT count(*) AS n FROM lineitem l1, lineitem l2, orders " +
      "WHERE l1.l_orderkey = l2.l_orderkey AND l1.l_orderkey = o_orderkey " +
      "AND l1.l_linenumber < l2.l_linenumber AND o_totalprice > 150000"),
    // Disconnected graph: region joins nothing — the splice emits a
    // deliberate Cross join, the exact pattern ReorderJoin's
    // createOrderedJoin reorders (condition-less joins are pushed
    // last). The guard proves the enumerator's Cross placement SURVIVES.
    // The nation filter keeps every row ON PURPOSE: with a selective
    // filter the joined result can be empty at sf0.001, and AQE's
    // empty-relation propagation then races stage completion —
    // sometimes replacing the whole spine with EmptyRelation (observed
    // run-to-run). That collapse is result-driven plan REMOVAL, not a
    // reorder (OptimizerQuality.prefixRows documents the same
    // interaction); a non-empty result makes it impossible, so the
    // guard stays exact.
    "disconnected" -> ("SELECT count(*) AS n FROM supplier, nation, region " +
      "WHERE s_nationkey = n_nationkey AND n_name <> 'ZZZ'"))

  test("executed physical join order equals the enumerator's choice, every shape") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      shapes.foreach { case (shape, text) =>
        val (executed, chosen) = executedLeafOrder(text, cs)
        info(s"$shape: chosen=${chosen.mkString("->")} executed=${executed.mkString("->")}")
        assert(executed == chosen,
          s"$shape: executed order ${executed.mkString("->")} differs from " +
            s"COMPASS choice ${chosen.mkString("->")} — a Catalyst/AQE rule reordered the spine")
      }
    } finally cs.close()
  }

  test("the guard is live: it DOES detect a reordered spine") {
    // Negative control — a guard that cannot fail proves nothing. The
    // reversed order produces a different leaf sequence for any >=3-way
    // shape, which the same comparison must flag.
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val cs = new CompassSession(spark,
      templateCache = Some(SketchTemplateCache.default()))
    try {
      val (executed, chosen) = executedLeafOrder(shapes.toMap.apply("chain5"), cs)
      assert(executed == chosen)
      assert(executed.reverse != chosen,
        "reversed order unexpectedly equal — shape degenerate, control vacuous")
    } finally cs.close()
  }

  test("config contract: CompassSession pins the reorder rules off") {
    // Both rules ON first: the pins must override a user's setting, and
    // reading a key Spark does not define would fail, not pass.
    val keys = Seq("spark.sql.cbo.joinReorder.enabled", "spark.sql.cbo.starSchemaDetection")
    val child = spark.newSession()
    keys.foreach(child.conf.set(_, "true"))
    val cs = new CompassSession(child)
    try assert(keys.map(child.conf.get) == Seq("false", "false"))
    finally cs.close()
  }
}
