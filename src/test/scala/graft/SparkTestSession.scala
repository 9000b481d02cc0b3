package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs (JVM-wide — Spark
  * sessions are expensive; specs must not stop() it). Built by
  * `LocalSession`, so specs audit the session policy Bench and Verify run.
  *
  * SEQUENTIAL-ONLY contract: several suites mutate JVM-global state of
  * this shared session — OpCaches tracked counts and releaseAll,
  * session confs (VectorOpsSpec's codegen factory mode, PlanAuditSpec's
  * broadcast threshold), registered SQL functions and temp views. The
  * sbt build runs suites sequentially in one forked JVM; enabling
  * testForkedParallel (or a parallel IDE runner) would race those
  * assertions. Parallelize only after giving each suite its own
  * session (newSession()) and session-scoped caches.
  */
object SparkTestSession {
  lazy val spark: SparkSession = graft.engine.LocalSession("graft-test")
}
