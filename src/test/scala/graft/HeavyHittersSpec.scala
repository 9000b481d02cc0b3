package graft

import graft.functions.MGSummary
import graft.operators.HeavyHitters
import org.scalatest.funsuite.AnyFunSuite

class HeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("MGSummary guarantee: every key with freq > n/(k+1) survives") {
    val rng = new scala.util.Random(11)
    // Zipf-ish stream: key i drawn with weight ~ 1/(i+1).
    val stream = Seq.fill(20000)(math.min(
      (1.0 / (rng.nextDouble() + 1e-9)).toLong % 500, 499L))
    val s = new MGSummary(50)
    stream.foreach(s.add)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = stream.size / 51.0
    exact.filter(_._2 > bound).keys.foreach { key =>
      assert(s.counts.containsKey(key), s"heavy key $key (freq ${exact(key)}) lost")
    }
    // Kept counters never overestimate.
    s.counts.forEach((key, c) => assert(c <= exact(key)))
  }

  test("merge preserves the (additive) guarantee across arbitrary splits") {
    val rng = new scala.util.Random(12)
    val stream = Seq.fill(30000)((rng.nextInt(40) * rng.nextInt(40)).toLong)
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // Split into 7 uneven partitions, summarize each, merge pairwise.
    val parts = stream.grouped(4500).toSeq
    val merged = parts.map { p =>
      val s = new MGSummary(64); p.foreach(s.add); s
    }.reduce { (a, b) => a.mergeIn(b); a }
    val bound = stream.size / 65.0 * 2 // merged error adds; stay conservative
    exact.filter(_._2 > bound).keys.foreach { key =>
      assert(merged.counts.containsKey(key), s"heavy key $key lost after merge")
    }
  }

  test("serialization round-trips") {
    val s = new MGSummary(8)
    Seq(1L, 1L, 2L, 3L, 1L, 2L).foreach(s.add)
    val back = MGSummary.deserialize(s.serialize())
    assert(back.k == 8 && back.counts == s.counts)
  }

  test("topK returns the exact deterministic top-k with tie-breaks") {
    // Genuine heavy hitters (the regime the MG bound covers): keys 1-20
    // each appear exactly 500 times (20-way tie → key-order tie-break);
    // 2000 background keys appear ≤ 3 times. n ≈ 14k, counters=256 ⇒
    // guarantee threshold ≈ 55 ≪ 500.
    val rng = new scala.util.Random(13)
    val rows = (1L to 20L).flatMap(i => Seq.fill(500)(i)) ++
      Seq.fill(4000)(100L + rng.nextInt(2000))
    val df = rng.shuffle(rows).toDF("k")
    val got = HeavyHitters.topK(df, "k", k = 20, counters = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (key, c) => (-c, key) }.take(20)
    assert(got == exact)
  }

  test("flat distribution trips the guarantee check and falls back to exact") {
    // 3000 distinct keys × 5 occurrences: decrements occur (3000 > 64
    // counters) so certificate (a) fails, and the k-th count (5) is far
    // below n/(counters+1) ≈ 230 so certificate (b) fails — the operator
    // must detect this and return the exact top-k via the fallback, never
    // a silently wrong candidate-limited set.
    val rows = (1L to 3000L).flatMap(i => Seq.fill(5)(i))
    val df = new scala.util.Random(7).shuffle(rows).toDF("k")
    val got = HeavyHitters.topK(df, "k", k = 10, counters = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (1L to 10L).map(i => (i, 5L)), s"fallback not exact: $got")
  }

  test("key space within the summary: exact even when counts are flat (no-decrement certificate)") {
    // 50 distinct keys ≤ 64 counters: MG never decrements, the summary IS
    // the exact count table, and the result is exact although the
    // frequency-bound certificate alone could not prove it.
    val rows = (1L to 50L).flatMap(i => Seq.fill(3)(i))
    val df = new scala.util.Random(8).shuffle(rows).toDF("k")
    val got = HeavyHitters.topK(df, "k", k = 10, counters = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (1L to 10L).map(i => (i, 3L)))
  }

  test("SQL misra_gries candidates contain the true heavy hitters") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val cand = spark.sql(
      "SELECT key AS k FROM (SELECT inline(mg) FROM " +
        "(SELECT misra_gries(CAST(o_custkey AS BIGINT), 512) AS mg FROM orders))")
      .collect().map(_.getLong(0)).toSet
    val top = spark.sql(
      "SELECT o_custkey FROM orders GROUP BY o_custkey ORDER BY count(*) DESC LIMIT 5")
      .collect().map(_.getLong(0)).toSet
    assert(top.subsetOf(cand))
  }

  test("plan shape: pass 1 aggregates without a shuffle of raw keys; pass 2 broadcasts") {
    val df = HeavyHitters.topK(
      Tables.load(spark, "/root/testdata/sf0.001", "orders"), "o_custkey", 10)
    df.collect()
    val plan = PlanText.finalPlan(df.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"candidate semi-join must broadcast:\n$plan")
  }
}
