package graft

import graft.operators.Prefix
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.Prefix]] — the distributed two-pass prefix sum must
  * be bit-equal to the single-partition global-window formulation it
  * replaces, across real multi-partition inputs (the offset path must be
  * LIVE: a single-partition run would pass vacuously with offsets ≡ 0).
  */
class PrefixSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def sample = {
    import spark.implicits._
    // Unordered input, duplicate-free keys, long + double values.
    (1 to 400).map(i => ((i * 131) % 401, i.toLong % 7, (i % 13) * 0.5))
      .toDF("k", "cnt", "price")
  }

  test("withRunningSums equals the global-window running sum (long + double)") {
    val df = sample
    val got = Prefix.withRunningSums(df, "k",
        Seq("cnt" -> "run_cnt", "price" -> "run_price"), numPartitions = 8)
      .select("k", "_idx", "run_cnt", "run_price")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("_idx", row_number().over(Window.orderBy("k")).cast("long"))
      .withColumn("run_cnt", sum("cnt").over(w))
      .withColumn("run_price", sum("price").over(w))
      .select("k", "_idx", "run_cnt", "run_price")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.length == 400)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      expected.map(t => (t._1, t._2, t._3)).toSeq)
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-9, s"run_price at k=${g._1}: ${g._4} vs ${e._4}")
    }
  }

  test("totalCountCol rides the partition totals: global count on every row, no extra pass") {
    val df = sample
    val got = Prefix.withRunningSums(df, "k", Nil, numPartitions = 8,
      totalCountCol = "_n_total")
    assert(got.select("_n_total").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(400L), "every row must carry the exact global count")
    // Unsupported with grouped prefixes — must refuse loudly.
    intercept[IllegalArgumentException] {
      Prefix.withRunningSums(df, "k", Nil, groupCols = Seq("cnt"),
        totalCountCol = "_n_total")
    }
  }

  test("offset path is live: the input really spans multiple range partitions") {
    val df = sample
    val nPids = df.repartitionByRange(8, col("k"))
      .withColumn("_pid", spark_partition_id())
      .select("_pid").distinct().count()
    assert(nPids >= 4, s"sample collapsed to $nPids partitions — offsets untested")
  }

  test("withCenteredAvg equals ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING, edges clipped") {
    val df = Prefix.withRunningSums(sample, "k", Nil, numPartitions = 8)
    val got = Prefix.withCenteredAvg(df, "_idx", "price", "ma5")
      .select("k", "ma5").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    val expected = sample
      .withColumn("ma5", avg("price").over(Window.orderBy("k").rowsBetween(-2, 2)))
      .select("k", "ma5").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._2 - e._2) < 1e-9, s"ma5 at k=${g._1}: ${g._2} vs ${e._2}")
    }
  }

  test("duplicate order keys: ROWS semantics hold — each row adds exactly its own value") {
    import spark.implicits._
    // Heavy ties: only 20 distinct keys across 300 rows. Under the RANGE
    // default every tie peer would carry the full tie-group sum while
    // _idx keeps counting — the (idx, run) pairs would not chain.
    val df = (1 to 300).map(i => ((i * 7) % 20, (i % 5).toLong + 1)).toDF("k", "cnt")
    val rows = Prefix.withRunningSums(df, "k", Seq("cnt" -> "run"), numPartitions = 8)
      .select("k", "_idx", "cnt", "run")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._2)
    assert(rows.map(_._2).toSeq == (1L to 300L).toSeq, "gap-free global index")
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq, "idx respects key order")
    var prev = 0L
    rows.foreach { case (k, idx, cnt, run) =>
      assert(run - prev == cnt, s"row idx=$idx k=$k: run $run - prev $prev != own cnt $cnt")
      prev = run
    }
  }

  test("duplicate order keys + unique tieCols equals the global-window form exactly") {
    import spark.implicits._
    val df = (1 to 300).map(i => ((i * 7) % 20, i, (i % 9).toLong)).toDF("k", "tie", "cnt")
    val got = Prefix.withRunningSums(df, "k", Seq("cnt" -> "run"),
        numPartitions = 8, tieCols = Seq("tie"))
      .select("tie", "_idx", "run").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val w = Window.orderBy("k", "tie")
    val expected = df
      .withColumn("_idx", row_number().over(w).cast("long"))
      .withColumn("run", sum("cnt").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("tie", "_idx", "run").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
  }

  test("leading nulls stay NULL until the first non-null value (SQL sum semantics)") {
    import spark.implicits._
    // First 150 keys all-null — they span multiple range partitions, so
    // the NULL must survive the cross-partition offset combine, not just
    // the local window.
    val df = (1 to 400)
      .map(i => (i, if (i <= 150) None else Some((i % 7).toLong)))
      .toDF("k", "v")
    val got = Prefix.withRunningSums(df, "k", Seq("v" -> "rv"), numPartitions = 8)
      .select("k", "rv").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    val expected = df
      .withColumn("rv", sum("v").over(Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "rv").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    assert(got.take(150).forall(_._2.isEmpty), "prefix before any value must be NULL, not 0")
    assert(got.toSeq == expected.toSeq)
  }

  test("single-row and empty inputs") {
    import spark.implicits._
    val one = Seq((5, 3L)).toDF("k", "v")
    val r = Prefix.withRunningSums(one, "k", Seq("v" -> "rv")).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("_idx") == 1L && r.head.getAs[Long]("rv") == 3L)
    val empty = Seq.empty[(Int, Long)].toDF("k", "v")
    assert(Prefix.withRunningSums(empty, "k", Seq("v" -> "rv")).collect().isEmpty)
  }

  // ---- grouped form ----

  private def groupedSample = {
    import spark.implicits._
    // 3 uneven groups (one dominates, so it MUST span several range
    // partitions), unordered keys, long + double values.
    (1 to 600).map { i =>
      val g = if (i % 10 < 7) "en" else if (i % 10 < 9) "de" else "zh"
      (g, (i * 131) % 601, i.toLong % 7, (i % 13) * 0.5)
    }.toDF("g", "k", "cnt", "price")
  }

  test("grouped running sums equal the PARTITION BY window form (long + double)") {
    val df = groupedSample
    val got = Prefix.withRunningSums(df, "k",
        Seq("cnt" -> "rc", "price" -> "rp"),
        numPartitions = 8, groupCols = Seq("g"))
      .select("g", "k", "_idx", "rc", "rp").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    val w = Window.partitionBy("g").orderBy("k")
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df
      .withColumn("_idx", row_number().over(w).cast("long"))
      .withColumn("rc", sum("cnt").over(wr))
      .withColumn("rp", sum("price").over(wr))
      .select("g", "k", "_idx", "rc", "rp").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == 600)
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSeq ==
      expected.map(t => (t._1, t._2, t._3, t._4)).toSeq)
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._5 - e._5) < 1e-9, s"rp at (${g._1},${g._2}): ${g._5} vs ${e._5}")
    }
  }

  test("grouped offset path is live: the hot group spans multiple range partitions") {
    val nPids = groupedSample.filter(col("g") === "en")
      .repartitionByRange(8, col("g"), col("k"))
      .withColumn("_pid", spark_partition_id())
      .select("_pid").distinct().count()
    assert(nPids >= 2, s"hot group collapsed to $nPids partitions — group offsets untested")
  }

  test("grouped: _idx restarts at 1 in every group") {
    val firsts = Prefix.withRunningSums(groupedSample, "k", Nil,
        numPartitions = 8, groupCols = Seq("g"))
      .groupBy("g").agg(min("_idx").as("lo"), max("_idx").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(firsts.keySet == Set("en", "de", "zh"))
    assert(firsts.values.forall(_._1 == 1L), s"every group must restart at 1: $firsts")
    assert(firsts.values.map(_._2).sum == 600L, s"group sizes must partition the input: $firsts")
  }

  test("grouped: leading nulls stay NULL per group; a NULL group key is a real group") {
    import spark.implicits._
    // Group "a": first 80 of 200 rows null-valued (spanning partitions);
    // group null: all rows valued.
    val df = (1 to 200).map { i =>
      val g = if (i % 2 == 0) Some("a") else None
      val v = if (g.isDefined && i <= 160) None else Some((i % 5).toLong)
      (g, i, v)
    }.toDF("g", "k", "v")
    val got = Prefix.withRunningSums(df, "k", Seq("v" -> "rv"),
        numPartitions = 6, groupCols = Seq("g"))
      .select("g", "k", "rv").collect()
      .map(r => (Option(r.getString(0)), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(t => (t._1.getOrElse(""), t._2))
    val expected = df
      .withColumn("rv", sum("v").over(Window.partitionBy("g").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("g", "k", "rv").collect()
      .map(r => (Option(r.getString(0)), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(t => (t._1.getOrElse(""), t._2))
    assert(got.length == 200, "the NULL-keyed group must not be dropped by the offset join")
    assert(got.toSeq == expected.toSeq)
    // Liveness of the per-group NULL propagation: group "a" rows k<=160
    // must be NULL even though group null has summed values all along.
    assert(got.filter(t => t._1.contains("a") && t._2 <= 160).forall(_._3.isEmpty))
  }

  test("withRunningMinExclusive equals the 1-PRECEDING window (global + grouped)") {
    import spark.implicits._
    val df = (1 to 300)
      .map(i => (if (i % 3 == 0) "a" else "b", (i * 173) % 311, (i % 17).toLong))
      .toDF("g", "k", "v").repartition(11)
    // Global (no groups).
    val wantG = df.withColumn("m", min(col("v")).over(
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)))
      .select("k", "m").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val gotG = Prefix.withRunningMinExclusive(df, "k", "v", "m", numPartitions = 7)
      .select("k", "m").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    graft.operators.OpCaches.releaseAll(spark)
    assert(gotG == wantG)
    assert(wantG.values.exists(_.isEmpty) && wantG.values.exists(_.isDefined))
    // Grouped: each group's first row must be NULL regardless of the
    // other group's earlier values.
    val wantGr = df.withColumn("m", min(col("v")).over(
        Window.partitionBy("g").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("g", "k", "m").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val gotGr = Prefix.withRunningMinExclusive(df, "k", "v", "m",
        numPartitions = 7, groupCols = Seq("g"))
      .select("g", "k", "m").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    graft.operators.OpCaches.releaseAll(spark)
    assert(gotGr == wantGr)
    assert(wantGr.count(_._2.isEmpty) == 2, "one NULL head per group")
  }

  test("the AQE-sized default partitioning gives the same rows as numPartitions = 8") {
    // The cases above pass explicit counts, so they keep the offsets
    // crossing partitions; this one pins the default (AQE picks the count).
    // Keys are unique and the doubles are halves, so the rows are exact.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val g = groupedSample
    val sums = Seq("cnt" -> "rc", "price" -> "rp")
    assert(rows(Prefix.withRunningSums(g, "k", sums)) ==
      rows(Prefix.withRunningSums(g, "k", sums, numPartitions = 8)))
    assert(rows(Prefix.withRunningSums(g, "k", sums, groupCols = Seq("g"))) ==
      rows(Prefix.withRunningSums(g, "k", sums, groupCols = Seq("g"), numPartitions = 8)))
    assert(rows(Prefix.withRunningMinExclusive(g, "k", "cnt", "m", groupCols = Seq("g"))) ==
      rows(Prefix.withRunningMinExclusive(g, "k", "cnt", "m", numPartitions = 8,
        groupCols = Seq("g"))))
  }
}
