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

  // Strongly held, the OpCaches discipline: entries whose context has
  // STOPPED are swept on every call, so a stopped session cannot pin its
  // children for the JVM's life.
  private val children = scala.collection.mutable.Map.empty[(SparkSession, Any), SparkSession]

  /** The one home for derived sessions: the child of `parent` for `key`,
    * built once. `init` runs on a fresh `newSession` of `parent` (own
    * conf, temp views and functions; shared executors and cache) before any
    * caller sees it, and every later call with the same (parent, key)
    * returns that child, so its settings are applied at exactly one site
    * and never reach the parent. The key must name everything `init`
    * depends on.
    */
  def child(parent: SparkSession, key: Any)(init: SparkSession => Unit): SparkSession =
    children.synchronized {
      children.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      children.getOrElseUpdate((parent, key), {
        val c = parent.newSession()
        init(c)
        c
      })
    }
}
