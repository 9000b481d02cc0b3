package graft

import graft.operators.OpCaches
import org.scalatest.funsuite.AnyFunSuite

/** The r22 checkpoint-release discipline (ADVICE): a
  * `Queries.checkpointedView` must not outlive its entry — the temp view
  * pins the localCheckpoint RDD's MEMORY_AND_DISK blocks in the session
  * catalog, and before r22 a full Bench/Verify lap accumulated ~14 such
  * relations for the JVM's life. Also pins the release contract
  * `OpCaches` documents.
  */
class OpCachesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  test("checkpointedView releases its view AND its checkpoint blocks on releaseAll") {
    OpCaches.releaseAll(spark) // start from a clean slate
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Queries.checkpointedView(spark, "graft_opcaches_probe",
      "SELECT id, id * 2 AS y FROM range(100)")
    assert(df.count() == 100)
    // The view resolves and the checkpoint's blocks are persisted.
    assert(spark.catalog.tableExists("graft_opcaches_probe"))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint must persist its internal RDD")
    assert(OpCaches.trackedCount(spark) > 0)

    OpCaches.releaseAll(spark)
    assert(!spark.catalog.tableExists("graft_opcaches_probe"),
      "the temp view must be dropped between entries")
    val remaining = spark.sparkContext.getPersistentRDDs.keySet intersect added
    assert(remaining.isEmpty,
      s"checkpoint blocks still pinned after releaseAll: $remaining")
    assert(OpCaches.trackedCount(spark) == 0)
  }

  test("releaseAll tolerates a view already dropped by the entry itself") {
    OpCaches.releaseAll(spark)
    Queries.checkpointedView(spark, "graft_opcaches_probe2",
      "SELECT id FROM range(10)")
    spark.catalog.dropTempView("graft_opcaches_probe2")
    OpCaches.releaseAll(spark) // must not throw
    assert(OpCaches.trackedCount(spark) == 0)
  }

  test("release contract: tracked persists recompute, checkpointed views are invalid after release") {
    OpCaches.releaseAll(spark)
    val persisted = OpCaches.track(
      spark.range(50).selectExpr("id", "id * 3 AS y").persist())
    val rows = persisted.collect().toSeq
    OpCaches.releaseAll(spark)
    assert(persisted.collect().toSeq == rows,
      "a released persist must recompute the same rows")

    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "checkpointedView takes the local-checkpoint path only without a checkpoint dir")
    val ck = Queries.checkpointedView(spark, "graft_opcaches_probe3",
      "SELECT id FROM range(20)")
    assert(ck.count() == 20)
    OpCaches.releaseAll(spark)
    // The local checkpoint's blocks were the only copy of its rows.
    val e = intercept[org.apache.spark.SparkException](ck.collect())
    assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), e.getMessage)
  }

  test("release contract: a materialized operator result stays valid after releaseAll") {
    OpCaches.releaseAll(spark)
    import spark.implicits._
    val df = graft.operators.Prefix.withRunningSums(
      (1 to 200).map(i => ((i * 37) % 211, i.toLong)).toDF("k", "v"),
      "k", Seq("v" -> "rv"))
    val rows = df.collect().toSeq
    OpCaches.releaseAll(spark)
    assert(df.collect().toSeq == rows,
      "an untracked materialize is not released: the result must still read")
  }
}
