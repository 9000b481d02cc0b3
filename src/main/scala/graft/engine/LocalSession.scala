package graft.engine

import org.apache.spark.sql.SparkSession

/** The one builder for every engine session: the Bench/Verify/PlanDump
  * mains, the scale tools and the shared test session all start here, so
  * the plans a spec audits are the plans the bench times and the
  * differential gates.
  *
  * Join policy is Spark's default, deliberately:
  *  - `spark.sql.join.preferSortMergeJoin` stays `true`. The r21 static
  *    flip to `false` converted SMJ→SHJ from stats estimates with no
  *    runtime fallback and regressed 20/36 bench entries.
  *  - `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold` stays `0`
  *    (no runtime SHJ conversion). r22 measured `128m` OOM-ing
  *    q_triangles on unspillable hash builds.
  * `GraftSessionSpec` pins both, with the partition count and time zone.
  */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * timestamps, no UI and WARN logging. Returns the running session if
    * one exists (`getOrCreate`).
    */
  def apply(appName: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
