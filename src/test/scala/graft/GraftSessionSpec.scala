package graft

import graft.engine.{GraftSession, LocalSession}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("facade: sql through compass, explain trace, fpd toggle, pipeline calls") {
    val gs = new GraftSession(spark, "/root/testdata/sf0.001")
    val q =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 300000""".stripMargin
    val n1 = gs.sql(q).head().getLong(0)
    assert(gs.explainLast.exists(_.contains("COMPASS plan:")))
    // The session's sketch store is on disk, so whether the filtered
    // instance was served from kept rows depends on earlier runs; the
    // trace says which either way.
    assert(gs.explainLast.exists(_.contains("served from kept rows: ")))
    gs.fpd(false)
    assert(gs.sql(q).head().getLong(0) == n1)
    gs.fpd(true)
    assert(gs.table("region").count() == 5)
    assert(gs.topK(Seq(0L, 1L), k = 3).count() == 6)
    val curated = gs.curatedDocuments()
    assert(curated.columns.toSet.intersect(
      Set("lang_pred", "quality", "n_tokens_ws", "fp_rolling")).size == 4)
    assert(curated.count() == 500)
    // r6 conveniences: dedup groups cover the corpus; deterministic
    // sample is stable; heavy hitters return exact ordered counts.
    val groups = gs.dedupGroups()
    assert(groups.count() == 500)
    assert(groups.columns.toSeq == Seq("doc_id", "keep_id"))
    val s1 = gs.sample("orders", "o_orderkey", 0.1).count()
    assert(s1 == gs.sample("orders", "o_orderkey", 0.1).count() && s1 > 0)
    val hh = gs.heavyHitters("orders", "o_custkey", k = 3).collect()
    assert(hh.length == 3 && hh(0).getLong(1) >= hh(2).getLong(1))
    // r7 conveniences: query scopes, chunking, the persisted ANN index
    // lifecycle (build → query → append).
    val scope = gs.newQueryScope()
    assert(scope.sql(q).head().getLong(0) == n1)
    assert(gs.chunkedDocuments().count() >= 500)
    import spark.implicits._
    TempDirs.withTempDir("graft_gs_ivf") { tmp =>
      val idx = tmp.toString
      gs.buildAnnIndex(idx, nCentroids = 4)
      val hits = gs.annQuery(Seq(0L, 1L), idx, k = 3)
      assert(hits.count() == 6)
      gs.annAppend(Seq((100000L, Seq.fill(64)(0.5f))).toDF("vec_id", "embedding"), idx)
      assert(spark.read.parquet(s"$idx/lists")
        .filter($"neighbor_id" === 100000L).count() == 1)
    }
    // r10 conveniences: PII scrub, surprisal scores, int8 quantization,
    // deterministic split — shapes + key invariants.
    val pii = gs.piiRedactedDocuments()
    assert(pii.columns.contains("redacted") && pii.count() == 500)
    val lm = gs.surprisalScores(maxVocab = 500)
    assert(lm.columns.toSeq ==
      Seq("doc_id", "n_tokens", "sum_microbits", "bits_per_token")
      && lm.count() == 500)
    val qz = gs.quantizedEmbeddings().select("q_vec").head().getSeq[Int](0)
    assert(qz.forall(c => c >= -127 && c <= 127))
    val split = gs.trainSplit().groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(split.keySet == Set("train", "val", "test")
      && split.values.sum == 500)
    // late-r10 conveniences: mixture re-balance honors per-group caps;
    // span sharing returns a profile row per eligible doc.
    val mix = gs.mixtureSample(Seq("en" -> 0.5, "de" -> 0.5), budget = 2000L)
      .groupBy("lang").agg(org.apache.spark.sql.functions.max("cum_tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mix.keySet == Set("en", "de") && mix.values.forall(_ <= 1000L))
    assert(gs.repeatedSpans().columns.toSeq == Seq("span", "n_docs", "n_occ"))
    val shares = gs.spanShareStats()
    assert(shares.columns.toSeq ==
      Seq("doc_id", "n_spans", "n_shared", "shared_frac"))
    assert(shares.count() > 0)
    val cd = gs.dedupChunks()
    assert(cd.columns.toSeq == Seq("doc_id", "n_chunks", "n_kept", "kept_text"))
    assert(cd.count() == 500)
    val prof = gs.corpusProfile().collect()
    assert(prof.map(_.getLong(1)).sum == 500, "profile must cover every doc")
    // bloomSemiJoin ≡ the plain semi-join (no-false-negative contract).
    val dim = gs.table("supplier")
      .filter(org.apache.spark.sql.functions.col("s_nationkey") < 5)
      .select("s_suppkey")
    val viaBloom = gs.bloomSemiJoin(
      gs.table("lineitem"), "l_suppkey", dim, "s_suppkey").count()
    val exact = gs.table("lineitem")
      .join(dim, org.apache.spark.sql.functions.col("l_suppkey") ===
        org.apache.spark.sql.functions.col("s_suppkey"), "left_semi").count()
    assert(viaBloom == exact, s"bloom semi-join $viaBloom != exact $exact")
    // bfsHops + typoJoin pass-throughs return the operator shapes.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val hops = gs.bfsHops(edges, "a", "b", Seq(1L), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hops == Map(1L -> 0, 2L -> 1, 3L -> 2))
    assert(gs.typoJoin(Seq("abc", "abd").toDF("w"), "w").count() == 1)
    // kCore: a triangle is its own 2-core.
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    assert(gs.kCore(tri, "a", "b", k = 2).count() == 3)
    // pqQuery / ivfPqQuery: k neighbors per query through the PQ paths.
    assert(gs.pqQuery(Seq(0L, 1L), k = 3).count() == 6)
    assert(gs.ivfPqQuery(Seq(0L, 1L), k = 3).count() == 6)
    graft.operators.OpCaches.releaseAll(spark)
  }

  test("session policy: the shared builder resolves the values the docs cite") {
    // OPTIMIZATION_r22.md and SCALE.md cite these; Bench, Verify and the
    // specs all run on a LocalSession, so a drift turns this red.
    val conf = spark.sessionState.conf
    assert(conf.getConf(SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) == 0L)
    assert(conf.preferSortMergeJoin)
    val LocalN = """local\[(\d+)\]""".r
    val cores = spark.sparkContext.master match {
      case LocalN(n) => n.toInt
      case m => fail(s"unexpected master $m")
    }
    assert(cores == LocalSession.cpus)
    assert(conf.numShufflePartitions == cores)
    assert(conf.sessionLocalTimeZone == "UTC")
  }
}
