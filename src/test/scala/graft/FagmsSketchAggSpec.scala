package graft

import graft.functions.SketchFunctions.fagms_sketch
import graft.planner.CompassSession
import graft.sketch.{SeedRegistry, SketchGroup, Xi}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Integration test: the fagms_sketch aggregate inside a real SparkSession
  * with multi-partition input — exercises update (map-side), serialize,
  * merge (partial aggregation), deserialize, eval. The resulting sketch
  * must be bit-identical to a driver-side sketch of the same rows
  * (sketches are linear, so partition order must not matter).
  *
  * COMPASS's own builder ([[CompassSession.buildSketch]]) must produce
  * exactly what this aggregate produces over the same keys, in one job
  * with no shuffle — whether its tasks ship their rows (sketched on the
  * driver) or, over their row cap, their own sketches.
  */
class FagmsSketchAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("distributed sketch equals driver-side sketch of the same rows") {
    import spark.implicits._
    val rows = 11; val buckets = 101
    val reg = new SeedRegistry(rows)
    val seeds = Seq(reg.seedsFor(("t", "k1")), reg.seedsFor(("t", "k2")))
    val data: Seq[(Long, Long)] =
      (0 until 5000).map(i => ((i % 700).toLong, (i % 350).toLong))

    val df = data.toDF("k1", "k2").repartition(13)
    val bytes = df
      .agg(fagms_sketch(rows, buckets, Seq("k1", "k2"), seeds, col("k1"), col("k2")))
      .head().getAs[Array[Byte]](0)
    val distributed = SketchGroup.deserialize(bytes)

    val local = new SketchGroup(rows, buckets, Array("k1", "k2"), seeds.toArray)
    data.foreach { case (a, b) => local.update(Array(Xi.fold64(a), Xi.fold64(b))) }

    assert(distributed.count == local.count)
    (0 until 2).foreach { c =>
      assert(distributed.planes(c).sameElements(local.planes(c)),
        s"plane $c differs between distributed and local build")
    }
  }

  test("IntegerType keys are accepted (no blind Long cast)") {
    import spark.implicits._
    val rows = 7; val buckets = 31
    val reg = new SeedRegistry(rows)
    val seeds = Seq(reg.seedsFor(("t", "k")))
    val df = (0 until 1000).map(i => i % 50).toDF("k").repartition(5)
    val bytes = df.agg(fagms_sketch(rows, buckets, Seq("k"), seeds, col("k")))
      .head().getAs[Array[Byte]](0)
    assert(SketchGroup.deserialize(bytes).count == 1000L)
  }

  test("NULL keys are skipped, not counted") {
    import spark.implicits._
    val rows = 7; val buckets = 31
    val reg = new SeedRegistry(rows)
    val seeds = Seq(reg.seedsFor(("t", "k")))
    val df = (0 until 100).map(i => if (i % 10 == 0) None else Some(i.toLong))
      .toDF("k").repartition(3)
    val bytes = df.agg(fagms_sketch(rows, buckets, Seq("k"), seeds, col("k")))
      .head().getAs[Array[Byte]](0)
    assert(SketchGroup.deserialize(bytes).count == 90L)
  }

  test("estimate on real TESTDATA join within 2x of truth") {
    import org.apache.spark.sql.functions.col
    val rows = 73; val buckets = 1021
    val reg = new SeedRegistry(rows)
    reg.addPredicate(("lineitem", "l_orderkey"), ("orders", "o_orderkey"))
    val dir = "/root/testdata/sf0.001"
    def sk(table: String, keyCol: String) = SketchGroup.deserialize(
      Tables.load(spark, dir, table)
        .agg(fagms_sketch(rows, buckets, Seq(keyCol),
          Seq(reg.seedsFor((table, keyCol))), col(keyCol)))
        .head().getAs[Array[Byte]](0))
    val sl = sk("lineitem", "l_orderkey")
    val so = sk("orders", "o_orderkey")
    val est = sketch.Estimator.pairwise(sl.planes(0), so.planes(0), rows, buckets)
    val truth = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(est > truth / 2.0 && est < truth * 2.0, s"est $est vs true $truth")
  }

  test("distributed pairwise estimate tracks true join size") {
    import spark.implicits._
    val rows = 73; val buckets = 1021
    val reg = new SeedRegistry(rows)
    reg.addPredicate(("a", "k"), ("b", "k"))
    val sa = Seq(reg.seedsFor(("a", "k")))
    val sb = Seq(reg.seedsFor(("b", "k")))
    val rng = new scala.util.Random(5)
    val da = Seq.fill(20000)(rng.nextInt(300).toLong)
    val db = Seq.fill(15000)(rng.nextInt(300).toLong)
    def build(d: Seq[Long], s: Seq[graft.sketch.ColumnSeeds]) =
      SketchGroup.deserialize(
        d.toDF("k").repartition(7)
          .agg(fagms_sketch(rows, buckets, Seq("k"), s, col("k")))
          .head().getAs[Array[Byte]](0))
    val ga = build(da, sa); val gb = build(db, sb)
    val trueSize = {
      val ca = da.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cb = db.groupBy(identity).view.mapValues(_.size.toLong).toMap
      ca.map { case (k, n) => n * cb.getOrElse(k, 0L) }.sum
    }
    val est = sketch.Estimator.pairwise(ga.planes(0), gb.planes(0), rows, buckets)
    assert(math.abs(est - trueSize) / trueSize < 0.15, s"est $est vs true $trueSize")
  }

  /** The COMPASS builder's result under `rowLimit` and the `fagms_sketch`
    * aggregate's group over every column of `df`, keys projected through
    * the same `keyExpr`.
    */
  private def bothBuilds(df: DataFrame, rowLimit: Long): (CompassSession.Built, SketchGroup) = {
    val rows = 11; val buckets = 101
    val plan = df.queryExecution.analyzed
    val attrs = plan.output
    val names = attrs.map(_.name)
    val reg = new SeedRegistry(rows)
    val seeds = names.map(n => reg.seedsFor(("t", n)))
    val built = CompassSession.buildSketch(
      spark, plan, attrs, attrs, rows, buckets, names, seeds, rowLimit)
    val keys = attrs.map(a => Bridge.column(CompassSession.keyExpr(a)))
    val aggregated = SketchGroup.deserialize(
      df.agg(fagms_sketch(rows, buckets, names, seeds, keys: _*)).head().getAs[Array[Byte]](0))
    (built, aggregated)
  }

  private def assertSameGroup(built: SketchGroup, aggregated: SketchGroup): Unit = {
    assert(built.count == aggregated.count)
    assert(built.columns.sameElements(aggregated.columns))
    built.planes.indices.foreach { c =>
      assert(built.planes(c).sameElements(aggregated.planes(c)),
        s"plane $c differs between the COMPASS builder and fagms_sketch")
    }
  }

  /** Both builder paths over `df`: every task ships its rows (the row
    * limit covers the data), and every task with a row to count ships its
    * sketch (limit 0). Each must equal the aggregate; only the first keeps
    * rows — exactly the ones it counted, those with no NULL key.
    */
  private def assertBothPaths(df: DataFrame): SketchGroup = {
    val (viaRows, aggregated) = bothBuilds(df, CompassSession.BroadcastRowLimit)
    assert(viaRows.survivors.map(_.size.toLong).contains(viaRows.sketch.count),
      "under the limit the builder must return every row it counted")
    assertSameGroup(viaRows.sketch, aggregated)
    val (viaSketches, _) = bothBuilds(df, 0L)
    assert(viaSketches.survivors.isEmpty,
      "over the cap a task ships its sketch, so no rows come back")
    assertSameGroup(viaSketches.sketch, aggregated)
    viaRows.sketch
  }

  test("COMPASS builder equals fagms_sketch: Int/Long keys with NULLs, 1 and 13 partitions") {
    import spark.implicits._
    val data = (0 until 3000).map { i =>
      (i % 97, if (i % 11 == 0) None else Some((i % 400).toLong * 1000003L))
    }
    Seq(1, 13).foreach { parts =>
      val df = data.toDF("ik", "lk").repartition(parts)
      assert(df.rdd.getNumPartitions == parts)
      val built = assertBothPaths(df)
      assert(built.count == data.count(_._2.isDefined), "a NULL-key row must be skipped")
    }
  }

  test("COMPASS builder over its row cap at 13 partitions: sketches, not rows, bit-identical") {
    import spark.implicits._
    val data = (0 until 3000).map(i => (i % 97, (i % 400).toLong * 1000003L))
    // Hash-partitioned, so partitions differ in size: at a per-task cap of
    // the median size some tasks fit and some do not.
    val df = data.toDF("ik", "lk").repartition(13, col("ik"))
    val sizes = df.rdd.glom().map(_.length).collect().sorted
    assert(sizes.length == 13 && sizes.head > 0 && sizes.head < sizes.last)
    Seq(sizes(6).toLong * 13, 13L).foreach { limit =>
      val (built, aggregated) = bothBuilds(df, limit)
      assert(built.survivors.isEmpty,
        s"a task over its cap (limit $limit) must leave the instance on its scan")
      assert(built.sketch.count == data.size)
      assertSameGroup(built.sketch, aggregated)
    }
  }

  test("COMPASS builder equals fagms_sketch: Date and String keys (hashed)") {
    import spark.implicits._
    val data = (0 until 2000).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 150)),
        if (i % 13 == 0) null else s"name-${i % 230}")
    }
    // keyExpr hashes these types but keeps a NULL key NULL, so both paths
    // skip such a row, as they do for integral keys.
    val built = assertBothPaths(data.toDF("dk", "sk").repartition(13))
    assert(built.count == data.count(_._2 != null), "a NULL-key row must be skipped")
  }

  test("COMPASS builder on zero survivors: count 0, all-zero planes") {
    import spark.implicits._
    val df = (0 until 500).map(i => (i.toLong, i)).toDF("lk", "ik").repartition(4)
    // A real filter that keeps nothing, and one Catalyst folds to an empty
    // relation (an RDD with no partitions).
    Seq(df.filter(col("lk") < 0), df.filter(lit(false))).foreach { empty =>
      Seq(0L, CompassSession.BroadcastRowLimit).foreach { limit =>
        val (built, aggregated) = bothBuilds(empty, limit)
        assert(built.survivors.contains(Seq.empty), "zero survivors are an empty row set")
        assert(built.sketch.count == 0L)
        assert(built.sketch.planes.forall(_.forall(_ == 0.0)))
        assertSameGroup(built.sketch, aggregated)
      }
    }
  }

  test("COMPASS builder runs one job with no shuffle write at one partition") {
    // Both paths: the task ships its rows, or (limit 0) its sketch.
    // A file scan: one partition, but not SinglePartition-partitioned, so
    // an aggregate over it would plan an exchange (spark.range(.., 1)
    // would not).
    val instance = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .filter(col("o_totalprice") > 100000).select("o_orderkey")
    assert(instance.rdd.getNumPartitions == 1)
    val survivors = instance.count()
    val plan = instance.queryExecution.analyzed
    val seeds = Seq(new SeedRegistry(73).seedsFor(("orders", "o_orderkey")))
    Seq(CompassSession.BroadcastRowLimit, 0L).foreach { limit =>
      val (b, work) = Work.measure(spark)(CompassSession.buildSketch(
        spark, plan, plan.output, plan.output, 73, 1021, Seq("o_orderkey"), seeds, limit))
      assert(b.sketch.count == survivors && survivors > 0)
      assert(b.survivors.map(_.size.toLong) == (if (limit > 0) Some(survivors) else None))
      assert(work.jobs == 1, s"expected one sketch job, saw ${work.jobs}")
      assert(work.shuffleWriteBytes == 0L,
        s"sketch build wrote ${work.shuffleWriteBytes} shuffle bytes")
      // The rows are the driver ingress when they fit: far less than one
      // 73 × 1021 plane of doubles (~596 KB).
      if (limit > 0) assert(work.resultBytes < 100000L, s"${work.resultBytes} result bytes")
    }
  }
}
