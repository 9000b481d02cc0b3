package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for DataFrames the pipeline operators persist internally
  * (shingle/signature relations, LSH bucket relations). The persists are
  * load-bearing — downstream fan-outs must read a materialized column, not
  * recompute interpreted higher-order expressions per branch — but a
  * long-lived session must be able to drop them once the query's action
  * has completed (r2 kept them pinned for the life of the SparkSession;
  * the reference frees its per-query temporaries).
  *
  * Tracking is PER SparkSession, so releasing one session's caches never
  * unpersists relations another live session is still computing with.
  * References are STRONG — a weak key could never be collected anyway
  * (a Dataset value strongly references its own SparkSession, the
  * self-reference WeakHashMap's javadoc warns about), and a weak VALUE
  * could let the wrapper be collected while its RDD stays cached,
  * making the cache unreleasable. Instead, entries for STOPPED sessions
  * (whose cached RDDs are already gone) are swept on every call, so an
  * abandoned-then-stopped session cannot leak for the JVM's life.
  * Harnesses (Verify/Bench/GraftSession) call [[releaseAll]] between
  * queries. An operator holds an intermediate in one of three ways, and
  * the release contract differs per kind:
  *  - a [[track]]ed `persist()` is only a cache: a DataFrame that reads
  *    it stays valid after release and recomputes from its lineage;
  *  - a [[trackCheckpoint]]ed checkpoint view (a [[materialize]]d
  *    relation registered as a temp view) is NOT: its local-checkpoint
  *    blocks are the only copy of the data, so that DataFrame (and any
  *    plan built on it) is invalid after release and fails when read.
  *    Finish with such results before releasing;
  *  - an untracked [[materialize]] is never touched by [[releaseAll]]:
  *    it stays valid for as long as the DataFrame (or a plan built on it)
  *    is reachable, and the ContextCleaner frees its blocks after that.
  */
object OpCaches {
  private val tracked = scala.collection.mutable.Map
    .empty[SparkSession, scala.collection.mutable.Buffer[DataFrame]]
  // Checkpointed relations (r22, ADVICE): Dataset.unpersist() is a
  // CacheManager no-op for a checkpoint-backed Dataset — its blocks
  // belong to the internal RDD behind the LogicalRDD leaf — and the temp
  // view it registers pins that RDD in the session catalog for the
  // session's life. Both are released here: dropTempView frees the
  // catalog reference, and the LogicalRDD's RDD is unpersisted directly
  // so the MEMORY_AND_DISK blocks go now, not at an eventual GC.
  private val checkpointed = scala.collection.mutable.Map
    .empty[SparkSession, scala.collection.mutable.Buffer[(Option[String], DataFrame)]]

  private def sweepStopped(): Unit = {
    tracked.filterInPlace((s, _) => !s.sparkContext.isStopped)
    checkpointed.filterInPlace((s, _) => !s.sparkContext.isStopped)
  }

  /** The one way an operator materializes an intermediate: a reliable
    * (dir-based) checkpoint when `sparkContext.setCheckpointDir` was
    * called, executor-local otherwise — set a checkpoint dir at cluster
    * scale so executor loss cannot orphan a long loop. Unlike `persist()`
    * it truncates the lineage, so an iterative loop's plan stays
    * constant-size, and the relation keeps the partitioning AQE chose
    * when it ran: Spark builds a persisted plan with AQE's final-stage
    * coalescing off, which freezes `spark.sql.shuffle.partitions` (200 by
    * default) into every relation read from the cache. Untracked: the
    * ContextCleaner frees the blocks once the DataFrame is unreachable
    * (`unpersist()` is a no-op on them). `eager = false` defers the
    * final stage to the relation's first action: right when that action
    * reads every partition (an aggregate), which then pays one job for
    * both; wrong before a `limit`/`isEmpty`, which reads only some.
    * (A reliable checkpoint's deferred write recomputes that stage once.)
    */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  def track(df: DataFrame): DataFrame = tracked.synchronized {
    sweepStopped()
    tracked.getOrElseUpdate(df.sparkSession,
      scala.collection.mutable.Buffer.empty[DataFrame]) += df
    df
  }

  /** Register a checkpoint-backed DataFrame (and the temp view that pins
    * it, if any) for release between entries — same discipline as
    * [[track]], different release mechanics (see `checkpointed` above).
    */
  def trackCheckpoint(df: DataFrame, viewName: Option[String] = None): DataFrame =
    tracked.synchronized {
      sweepStopped()
      checkpointed.getOrElseUpdate(df.sparkSession,
        scala.collection.mutable.Buffer.empty[(Option[String], DataFrame)]) +=
        ((viewName, df))
      df
    }

  def trackedCount(spark: SparkSession): Int = tracked.synchronized {
    tracked.get(spark).map(_.size).getOrElse(0) +
      checkpointed.get(spark).map(_.size).getOrElse(0)
  }

  /** Unpersist every cache the operators pinned under `spark`. */
  def releaseAll(spark: SparkSession): Unit = tracked.synchronized {
    sweepStopped()
    tracked.remove(spark).foreach(_.foreach(_.unpersist(false)))
    checkpointed.remove(spark).foreach(_.foreach { case (view, df) =>
      view.foreach(v => df.sparkSession.catalog.dropTempView(v): Unit)
      df.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(false): Unit
        case _ => () // not checkpoint-backed: no checkpoint blocks to drop
      }
    })
  }
}
