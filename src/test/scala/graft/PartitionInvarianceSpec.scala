package graft

import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition-count invariance: the r10 scoring operators claim their
  * float aggregations cannot drift with physical partitioning (per-item
  * 6-dp DECIMAL before every sum — decimal addition is exact and
  * order-free). A double-sum formulation would violate these asserts by
  * an ulp on some partitioning, which is exactly the drift that flips a
  * 6-dp round on a filter boundary at 100 TB. Pinned here bit-for-bit
  * across 1, 7, and 32 partitions.
  */
class PartitionInvarianceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def docs(n: Int = 200): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "the", "a", "of", "and", "to")
    (1L to n.toLong).map(i =>
      i -> Seq.fill(30)(vocab(rng.nextInt(vocab.size))).mkString(" "))
      .toDF("doc_id", "text")
  }

  private def embeddings(n: Int = 100): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    (1L to n.toLong).map(i =>
      i -> Seq.fill(16)(rng.nextFloat() * 2 - 1)).toDF("vec_id", "embedding")
  }

  private def pinned(mk: DataFrame => DataFrame, base: DataFrame): Unit = {
    val expected = mk(base.repartition(1)).collect().map(_.toString).sorted
    for (p <- Seq(7, 32)) {
      val got = mk(base.repartition(p)).collect().map(_.toString).sorted
      assert(got.sameElements(expected),
        s"result drifted between 1 and $p partitions")
    }
  }

  test("unigram surprisal is bit-identical across partitionings") {
    pinned(TextAnalysis.withUnigramSurprisal(_, "doc_id", "text"), docs())
  }

  test("bigram surprisal is bit-identical across partitionings") {
    pinned(TextAnalysis.withBigramSurprisal(_, "doc_id", "text"), docs())
  }

  test("tf-idf top-k is bit-identical across partitionings") {
    pinned(TextAnalysis.withTfIdfTopK(_, "doc_id", "text", k = 3), docs())
  }

  test("int8 quantization is bit-identical across partitionings") {
    pinned(Similarity.quantizeInt8(_, "embedding"), embeddings())
  }

  test("bpe merge learning is identical across partitionings") {
    // The per-round argmax is a global TakeOrdered over integer counts
    // with a total-order tie-break — no float anywhere, so the learned
    // table cannot depend on physical layout.
    pinned(graft.operators.Corpus.bpeMerges(_, "text", rounds = 4), docs())
  }

  test("per-user recurrence folds are bit-identical across shuffle partitionings") {
    // r19/r20: q_ewma_recursive / q_holt_linear fold each user's chain
    // via a streaming mapPartitions scan over repartition(user_id) +
    // sortWithinPartitions(user_id, ts, event_id). The float recurrence
    // is order-SENSITIVE, so the invariance claim rests on (a) the
    // in-partition sort key being TOTAL (ts, event_id canonicalize
    // order no matter how the shuffle delivered the rows) and (b) the
    // user-change reset firing exactly at key boundaries — either
    // breaking drifts by an ulp, then a fixed-point output digit.
    val dir = "/root/testdata/sf0.001"
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (name <- Seq("q_ewma_recursive", "q_holt_linear")) {
        def lap(p: String): Array[String] = {
          spark.conf.set("spark.sql.shuffle.partitions", p)
          Queries.queryMap(name)(spark, dir).collect().map(_.toString)
        }
        val a = lap("3")
        val b = lap("32")
        assert(a.sameElements(b),
          s"$name drifted between 3 and 32 shuffle partitions")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("recurrence folds survive a planted hot user and match the sequential reference") {
    // r20 (r19 verdict #1): the streaming fold claims a pathological hot
    // key costs sort spill, not task heap. This gate plants ONE user
    // owning a 60k-event chain amid 50 normal users, runs the real
    // query entries over the corpus, and checks the hot user's chain
    // against a strictly sequential in-memory fold (same IEEE op order)
    // AND partition-invariance of the full output. The 10^6-event ×1000
    // lap lives in tools/scale_battery.sh (GRAFT_HOT_USER); this keeps
    // the property in every `sbt test`.
    import spark.implicits._
    TempDirs.withTempDir("hotuser") { dir =>
      val tmp = dir.toFile
      val hotN = 60000
      val rng = new scala.util.Random(13)
      val hot = (1 to hotN).map { i =>
        (i.toLong, 1000000L + i.toLong * 1000L, 7L, "purchase",
          rng.nextInt(100000) / 100.0, "{}")
      }
      val cold = (1 to 50).flatMap { u =>
        (1 to 20).map { i =>
          ((100000 + u * 100 + i).toLong, 2000000L + i.toLong * 997L,
            (100 + u).toLong, "purchase", rng.nextInt(100000) / 100.0, "{}")
        }
      }
      (hot ++ cold)
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")

      val got = Queries.queryMap("q_ewma_recursive")(spark, tmp.toString)
        .filter($"user_id" === 7L).orderBy("rn")
        .select("ewma_u").as[Long].collect()
      assert(got.length == hotN, s"hot chain truncated: ${got.length}")
      // Sequential reference: exact same op order as the fold.
      val cents = hot.sortBy(r => (r._2, r._1))
        .map(r => math.floor(r._5 * 100 + 0.5).toLong)
      var st = 0.0
      val want = cents.zipWithIndex.map { case (c, i) =>
        st = if (i == 0) c.toDouble else 0.5 * c + 0.5 * st
        math.floor(st * 1000000 + 0.5).toLong
      }
      assert(got.sameElements(want), "hot-user EWMA chain diverged from the sequential reference")

      val holt = Queries.queryMap("q_holt_linear")(spark, tmp.toString)
      val one = holt.repartition(1).collect().map(_.toString).sorted
      val many = holt.repartition(32).collect().map(_.toString).sorted
      assert(one.sameElements(many), "q_holt_linear drifted under the hot-user layout")
    }
  }
}
