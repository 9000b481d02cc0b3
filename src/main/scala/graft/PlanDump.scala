package graft
import java.nio.file.{Files, Paths}

/** Optimization-round helper: write `.explain("formatted")` of named
  * entries to files (plans/<round>/<name>_<tag>.txt) so plan-shape claims
  * in OPTIMIZATION_r*.md are checkable without running Spark. Entries
  * whose bodies run driver-side actions (iterative loops, seed lookups)
  * dump the FINAL DataFrame's plan — loop internals checkpoint and are
  * documented in prose instead.
  *
  * `--adaptive` (r21 verdict #8): additionally EXECUTE the entry's final
  * DataFrame (full materialization, same action as Bench) and dump the
  * post-action `executedPlan` — with AQE this is the final re-optimized
  * plan (`isFinalPlan=true`), the only artifact that can witness a
  * runtime join-strategy conversion. The static `explain` cannot.
  *
  * usage: runMain graft.PlanDump <tag> [--adaptive] <entry...>
  * output dir: GRAFT_PLANS_DIR, default plans/r22
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <tag> [--adaptive] <entry...>")
    val tag = args(0)
    val adaptive = args.contains("--adaptive")
    val names = args.drop(1).filterNot(_ == "--adaptive").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bench's session policy, so dumped plans match the timed ones.
    val spark = graft.engine.LocalSession("graft-plandump")
    val outDir = Paths.get(sys.env.getOrElse("GRAFT_PLANS_DIR", "plans/r22"))
    Files.createDirectories(outDir)
    val byName = Queries.all.map(e => e.name -> e).toMap
    names.foreach { n =>
      // Pseudo-entry: q_triangles' wedge enumeration executes EAGERLY
      // inside the entry body (entry-scoped join policy + checkpoint),
      // so its adaptive plan never appears in the entry's final
      // DataFrame — the helper returns the executed plan directly.
      val plan = if (n == "q_triangles_anchors") {
        Tables.registerAll(spark, sfDir)
        Queries.trianglesAnchors(spark)._2
      } else {
        val e = byName.getOrElse(n, sys.error(s"unknown entry: $n"))
        val df = e.run(spark, sfDir)
        if (adaptive) {
          df.queryExecution.toRdd.count(): Unit // Bench's materialization
          df.queryExecution.executedPlan.toString
        } else df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      Files.writeString(outDir.resolve(s"${n}_$tag.txt"), plan)
      graft.operators.OpCaches.releaseAll(spark)
      println(s"dumped $n -> $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
