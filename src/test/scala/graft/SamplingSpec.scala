package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val ids = (1L to 20000L).toDF("id")

  test("hex thresholds: boundaries and formatting") {
    assert(Sampling.hexThreshold(0.0).contains("0000")) // keeps nothing
    assert(Sampling.hexThreshold(0.1).contains("1999"))
    assert(Sampling.hexThreshold(0.05).contains("0ccc")) // zero-padded
    assert(Sampling.hexThreshold(0.2).contains("3333"))
    assert(Sampling.hexThreshold(1.0).isEmpty) // keeps everything
    intercept[IllegalArgumentException](Sampling.hexThreshold(1.5))
    intercept[IllegalArgumentException](Sampling.hexThreshold(-0.1))
  }

  test("sampled fraction lands near the target and is deterministic") {
    val n = Sampling.deterministicSample(ids, "id", 0.1).count()
    assert(math.abs(n / 20000.0 - 0.1) < 0.01, s"got $n of 20000")
    val again = Sampling.deterministicSample(ids, "id", 0.1).count()
    assert(n == again)
    assert(Sampling.deterministicSample(ids, "id", 0.0).count() == 0)
    assert(Sampling.deterministicSample(ids, "id", 1.0).count() == 20000)
  }

  test("selection is independent of partitioning (the RNG-sampling failure mode)") {
    val one = Sampling.deterministicSample(ids.repartition(1), "id", 0.07)
      .collect().map(_.getLong(0)).toSet
    val many = Sampling.deterministicSample(ids.repartition(13), "id", 0.07)
      .collect().map(_.getLong(0)).toSet
    assert(one == many)
  }

  test("nested fractions nest: the 5% sample is a subset of the 10% sample") {
    val small = Sampling.deterministicSample(ids, "id", 0.05)
      .collect().map(_.getLong(0)).toSet
    val big = Sampling.deterministicSample(ids, "id", 0.10)
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(big))
  }

  test("different salts draw (near-)independent samples") {
    val a = Sampling.deterministicSample(ids, "id", 0.1, salt = "a")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(ids, "id", 0.1, salt = "b")
      .collect().map(_.getLong(0)).toSet
    assert(a != b)
    // |a ∩ b| ≈ 0.01 · 20000 = 200 under independence; allow wide slack.
    val overlap = (a & b).size
    assert(overlap > 50 && overlap < 600, s"overlap $overlap")
  }

  test("null keys are always excluded — fraction 1.0 and 1.0-ε agree on the policy") {
    val df = ((1L to 900L).map(Option(_)) ++ Seq.fill(100)(Option.empty[Long]))
      .toDF("id")
    assert(Sampling.deterministicSample(df, "id", 1.0).count() == 900,
      "fraction=1.0 must apply the same null-exclusion rule as every other fraction")
    val near = Sampling.deterministicSample(df, "id", 0.9999).count()
    assert(near <= 900 && near > 880, s"got $near")
    // Stratified path follows the same policy.
    val strat = df.withColumn("s", lit("x"))
    assert(Sampling.stratifiedSample(strat, "s", "id",
      Map.empty[String, Double], defaultFraction = 1.0).count() == 900)
  }

  test("stratified rates apply per stratum; unknown strata get the default") {
    val df = (1L to 30000L).map(i => (i, (i % 3) match {
      case 0 => "x"; case 1 => "y"; case _ => "z"
    })).toDF("id", "s")
    val out = Sampling.stratifiedSample(df, "s", "id",
        Map("x" -> 0.2, "y" -> 0.02), defaultFraction = 0.5)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("x") / 10000.0 - 0.2) < 0.02, s"x: ${out("x")}")
    assert(math.abs(out("y") / 10000.0 - 0.02) < 0.01, s"y: ${out("y")}")
    assert(math.abs(out("z") / 10000.0 - 0.5) < 0.02, s"z: ${out("z")}")
  }

  test("weighted sample: weight-proportional, partition-invariant, weight guards") {
    import spark.implicits._
    // 100 rows at weight 10, 900 at weight 1 — A-Res puts roughly half
    // the 100 slots on the heavy tenth (exactly-proportional would be
    // ~52 of 100); uniform sampling would give ~10. Wide bands: the
    // assertion is "weights matter and u isn't degenerate", not a
    // tolerance on the exact expectation.
    val df = (0L until 1000L).map(i => (i, if (i < 100) 10.0 else 1.0))
      .toDF("id", "w")
    val s1 = Sampling.weightedSample(df, "id", "w", 100, "s")
      .collect().map(_.getLong(0)).toSet
    assert(s1.size == 100)
    val heavy = s1.count(_ < 100)
    assert(heavy > 30 && heavy < 95,
      s"heavy-weight representation $heavy/100 outside (30, 95)")
    // Public coins: identical selection at any parallelism.
    val s2 = Sampling.weightedSample(df.repartition(7), "id", "w", 100, "s")
      .collect().map(_.getLong(0)).toSet
    assert(s2 == s1)
    // Zero/negative weights can never win and must be excluded, not NaN.
    val s3 = Sampling.weightedSample(
      Seq((1L, 0.0), (2L, -1.0), (3L, 5.0)).toDF("id", "w"), "id", "w", 10)
      .collect().map(_.getLong(0)).toSeq
    assert(s3 == Seq(3L))
  }

  test("sampling plans as a pure filter: no shuffle, no extra stage") {
    val df = Sampling.deterministicSample(
      Tables.load(spark, "/root/testdata/sf0.001", "lineitem"), "l_orderkey", 0.25)
    df.collect()
    val plan = PlanText.finalPlan(df.queryExecution.executedPlan.toString)
    assert(!plan.contains("Exchange"), s"sample must not shuffle:\n$plan")
  }
}
