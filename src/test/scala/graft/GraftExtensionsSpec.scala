package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** SQL-facing sketch functions registered through the extensions path. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    GraftExtensions.register(s)
    s
  }

  test("fagms_sketch/fagms_pairwise in pure SQL estimate a real join size") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val est = spark.sql(
      """SELECT fagms_pairwise(
        |  (SELECT fagms_sketch('ok_class', l_orderkey) FROM lineitem),
        |  (SELECT fagms_sketch('ok_class', o_orderkey) FROM orders)) AS est""".stripMargin)
      .head().getDouble(0)
    val truth = spark.sql(
      "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .head().getLong(0)
    assert(est > truth / 2.0 && est < truth * 2.0, s"est $est vs true $truth")
  }

  test("fagms_count carries the surviving-row count") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      "SELECT fagms_count((SELECT fagms_sketch('c', o_orderkey) FROM orders WHERE o_totalprice > 100000)) AS n")
      .head().getLong(0)
    val truth = spark.sql(
      "SELECT count(*) FROM orders WHERE o_totalprice > 100000").head().getLong(0)
    assert(n == truth)
  }

  test("fagms_selfjoin estimates the self-join size in pure SQL") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val est = spark.sql(
      "SELECT fagms_selfjoin((SELECT fagms_sketch('sj', l_orderkey) FROM lineitem)) AS est")
      .head().getDouble(0)
    val truth = spark.sql(
      "SELECT count(*) FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey")
      .head().getLong(0)
    assert(est > truth / 2.0 && est < truth * 2.0, s"self-join est $est vs true $truth")
  }

  test("mismatched seed classes produce garbage estimates (contract matters)") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val matched = spark.sql(
      """SELECT fagms_pairwise(
        |  (SELECT fagms_sketch('same', l_orderkey) FROM lineitem),
        |  (SELECT fagms_sketch('same', o_orderkey) FROM orders)) AS est""".stripMargin)
      .head().getDouble(0)
    val mismatched = spark.sql(
      """SELECT fagms_pairwise(
        |  (SELECT fagms_sketch('classA', l_orderkey) FROM lineitem),
        |  (SELECT fagms_sketch('classB', o_orderkey) FROM orders)) AS est""".stripMargin)
      .head().getDouble(0)
    val truth = spark.sql(
      "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .head().getLong(0)
    // matched seeds track truth; mismatched seeds cannot
    assert(math.abs(matched - truth).toDouble / truth <
      math.abs(mismatched - truth).toDouble / truth)
  }

  test("SQL text-hash functions match the DataFrame kernels exactly") {
    graft.functions.GraftExtensions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text").limit(50)
    docs.createOrReplaceTempView("ext_docs")
    val sql = spark.sql(
      "SELECT doc_id, minhash_sig(shingle_hashes(text, 3), 64) AS sig, " +
        "simhash64(text) AS sim, ngram_hashes(text, 5) AS ng FROM ext_docs")
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2), r.getSeq[Long](3))).toMap
    val df = docs.select(col("doc_id"),
        graft.operators.TextDedup.minhashSignature(
          graft.operators.TextDedup.shingleHashes(col("text"), 3), 64).as("sig"),
        graft.operators.TextDedup.simhash64(col("text")).as("sim"),
        graft.functions.TextHashOps.ngramHashes(col("text"), 5).as("ng"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2), r.getSeq[Long](3))).toMap
    assert(sql == df, "SQL surface diverged from the DataFrame kernels")
    // Custom seed must change the signature OF THE SAME DOCUMENT (an
    // unpinned LIMIT 1 against an arbitrary map entry compared two
    // different docs — vacuously unequal whatever the seed did).
    val probeId = sql.keys.min
    val seeded = spark.sql(
      s"SELECT minhash_sig(shingle_hashes(text, 3), 64, 99) AS sig " +
        s"FROM ext_docs WHERE doc_id = $probeId")
      .collect().head.getSeq[Long](0)
    assert(seeded != sql(probeId)._1,
      "seed parameter must perturb the signature of the same document")
  }

  test("lsh_sigs in SQL matches the operator-side bucketing") {
    graft.functions.GraftExtensions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(50)
    emb.createOrReplaceTempView("ext_emb")
    val sql = spark.sql(
      "SELECT vec_id, lsh_sigs(embedding, 10, 8, 64) AS sigs FROM ext_emb")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val op = graft.operators.Similarity.lshBuckets(emb, "vec_id", "embedding",
        bits = 10, tables = 8)
      .groupBy("vec_id").agg(
        org.apache.spark.sql.functions.sort_array(
          org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct(col("tbl"), col("bucket")))).as("tb"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => x.getLong(1))).toMap
    graft.operators.OpCaches.releaseAll(spark)
    assert(sql.keySet == op.keySet)
    val bad = sql.keys.filter(k => sql(k) != op(k))
    assert(bad.isEmpty, s"SQL/operator LSH divergence on ${bad.take(3)}")
  }

  test("extensions class injects DeferProjectPastTopK pre-CBO (post-fixed-point), not into the operator batch") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val preCBO = org.apache.spark.sql.graftbridge.Bridge.preCBORules(ext, spark)
    assert(preCBO == Seq(graft.plans.DeferProjectPastTopK),
      s"expected exactly the defer rule pre-CBO, got $preCBO")
  }

  test("non-literal seed class is rejected") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val e = intercept[Exception] {
      spark.sql("SELECT fagms_sketch(o_orderstatus, o_orderkey) FROM orders").collect()
    }
    assert(e.getMessage.contains("string literal") || e.getMessage.contains("fagms_sketch"))
  }
}
