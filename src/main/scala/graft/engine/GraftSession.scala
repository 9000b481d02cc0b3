package graft.engine

import graft.Tables
import graft.operators.{Components, HeavyHitters, Sampling, Similarity, Temporal, TextAnalysis, TextDedup}
import graft.planner.{CompassSession, SketchTemplateCache}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user-facing session — what a reference user switches to.
  *
  * Mirrors the reference's mapdql surface: SQL in, results out, with the
  * COMPASS push-down toggled per session (`\fpd` ≙ [[fpd]]; reference:
  * mapd-core/SQLFrontend/mapdql.cpp:1313-1317) and the optimizer's chosen
  * plan introspectable ([[explainLast]] ≙ the engine's stdout traces).
  * Pipeline operators are exposed as one-call conveniences over the same
  * tables.
  */
final class GraftSession(val spark: SparkSession, dataDir: String,
    warmWorkload: Seq[String] = Nil) {
  Tables.registerAll(spark, dataDir)

  private val compass = new CompassSession(
    spark, templateCache = Some(SketchTemplateCache.default()))

  // PRE_PROCESSING analogue (reference COMPASS_init_variables.txt:6):
  // sessions constructed with representative workload queries pre-build
  // every unfiltered sketch template up front, so the first live query
  // pays no template builds.
  if (warmWorkload.nonEmpty) compass.warmTemplates(warmWorkload.map(spark.sql))

  /** Pre-build unfiltered sketch templates for a workload's join shapes. */
  def warm(workload: Seq[String]): Int =
    compass.warmTemplates(workload.map(spark.sql))

  /** Toggle sketch-based join reordering (default on). */
  def fpd(on: Boolean): Unit = compass.fpdEnabled = on

  /** Run SQL through the COMPASS pre-pass (falls back to vanilla Spark for
    * non-optimizable shapes).
    */
  def sql(query: String): DataFrame = compass.sql(query)

  /** The COMPASS plan trace of the last [[sql]] call, if it was optimized
    * (query scopes keep their own).
    */
  def explainLast: Option[String] = compass.lastPlan.map(_.explainString)

  def table(name: String): DataFrame = Tables.load(spark, dataDir, name)

  // ---- pipeline conveniences over the standard tables ----

  /** Near-duplicate pairs in `documents` via banded MinHash-LSH. */
  def nearDuplicates(threshold: Double = 0.8): DataFrame =
    TextDedup.minhashNearDups(table("documents"), "doc_id", "text", threshold)

  /** Exact top-k cosine neighbors for the given query vector ids. */
  def topK(queryIds: Seq[Long], k: Int = 5): DataFrame = {
    val emb = table("embeddings")
    Similarity.bruteForceTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id").isin(queryIds: _*)),
      "vec_id", "embedding", k)
  }

  /** Every document mapped to its dedup-group representative (min id;
    * singletons to themselves): near-dup pairs → connected components.
    */
  def dedupGroups(threshold: Double = 0.8): DataFrame =
    Components.dedupGroups(table("documents"), "doc_id",
      nearDuplicates(threshold), "id_a", "id_b")

  /** Reproducible Bernoulli sample of a table by key — same kept set on
    * any engine at any parallelism (see [[Sampling.deterministicSample]]).
    */
  def sample(tableName: String, keyCol: String, fraction: Double,
      salt: String = ""): DataFrame =
    Sampling.deterministicSample(table(tableName), keyCol, fraction, salt)

  /** Exact top-k hottest keys of a column (Misra-Gries candidates +
    * exact verify — see [[HeavyHitters.topK]]).
    */
  def heavyHitters(tableName: String, keyCol: String, k: Int = 10): DataFrame =
    HeavyHitters.topK(table(tableName), keyCol, k)

  /** Documents annotated with language, quality, tokens, fingerprints. */
  def curatedDocuments(): DataFrame =
    TextAnalysis.withFingerprints(
      TextAnalysis.withQualityScore(
        TextAnalysis.withTokenCounts(
          TextAnalysis.withLanguageId(table("documents"), "text"), "text"), "text"), "text")

  /** A dedicated scope for one concurrent query stream on this session:
    * its `lastPlan` is that stream's own COMPASS trace (see
    * [[CompassSession.QueryScope]]). Use `scope.sql(...)`.
    */
  def newQueryScope(): CompassSession#QueryScope = compass.newScope()

  /** Build (or rebuild) the persisted IVF ANN index for `embeddings` at
    * `path` — inverted lists parquet-partitioned by centroid, queries
    * read only probed directories (see [[Similarity.buildIvfIndex]]).
    */
  def buildAnnIndex(path: String, nCentroids: Int = 16): Unit = {
    Similarity.buildIvfIndex(table("embeddings"), "vec_id", "embedding",
      path, nCentroids)
    ()
  }

  /** Query a persisted IVF index built by [[buildAnnIndex]]. */
  def annQuery(queryIds: Seq[Long], path: String, k: Int = 5,
      nProbe: Int = 4): DataFrame =
    Similarity.ivfTopKIndexed(
      table("embeddings").filter(
        org.apache.spark.sql.functions.col("vec_id").isin(queryIds.map(Long.box): _*)),
      "vec_id", "embedding", path, k, nProbe)

  /** Append new embedding rows ((vec_id, embedding) columns) to a
    * persisted IVF index — assigned with the index's existing centroids
    * (see [[Similarity.appendToIvfIndex]]).
    */
  def annAppend(newRows: DataFrame, path: String): Unit =
    Similarity.appendToIvfIndex(newRows, "vec_id", "embedding", path)

  /** Overlapping token-window chunks of `documents` (pre-embedding step). */
  def chunkedDocuments(chunkTokens: Int = 64, overlap: Int = 16): DataFrame =
    TextAnalysis.chunk(table("documents"), "doc_id", "text", chunkTokens, overlap)

  /** Backward as-of join (point-in-time lookup) — see [[Temporal.asofJoin]]. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      carry: Seq[String]): DataFrame =
    Temporal.asofJoin(left, right, keyCol, tsCol, carry)

  /** Sliding-lookback interval join — see [[Temporal.rangeJoin]]. */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      lookbackSec: Long, carry: Seq[String]): DataFrame =
    Temporal.rangeJoin(left, right, keyCol, tsCol, lookbackSec, carry)

  /** Stream-stream attribution join (bounded state) — see
    * [[graft.streaming.EventStream.attributionJoin]].
    */
  def attributionJoin(impressions: DataFrame, clicks: DataFrame,
      attributionSec: Long = 3600): DataFrame =
    graft.streaming.EventStream.attributionJoin(impressions, clicks, attributionSec)

  /** Documents with PII match counts and a `redacted` text column —
    * see [[TextAnalysis.withPiiRedacted]].
    */
  def piiRedactedDocuments(): DataFrame =
    TextAnalysis.withPiiRedacted(table("documents"), "text")

  /** Per-document unigram-LM bits/token (perplexity-filter proxy);
    * `maxVocab > 0` is the bounded-vocabulary broadcast path — see
    * [[TextAnalysis.withUnigramSurprisal]].
    */
  def surprisalScores(maxVocab: Int = 0): DataFrame =
    TextAnalysis.withUnigramSurprisal(table("documents"), "doc_id", "text",
      maxVocab)

  /** Embeddings with int8 codes, per-vector scale and reconstruction
    * bound — see [[Similarity.quantizeInt8]].
    */
  def quantizedEmbeddings(): DataFrame =
    Similarity.quantizeInt8(table("embeddings"), "embedding")

  /** Deterministic disjoint split labels over `documents` — see
    * [[graft.operators.Corpus.splitAssign]].
    */
  def trainSplit(splits: Seq[(String, Double)] =
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame =
    graft.operators.Corpus.splitAssign(table("documents"), "doc_id", splits)

  /** Learn a BPE merge table on `documents` — see
    * [[graft.operators.Corpus.bpeMerges]]; feed the collected
    * (left, right) rows to [[graft.operators.Corpus.applyBpe]] to
    * tokenize.
    */
  def learnBpeMerges(rounds: Int = 16): DataFrame =
    graft.operators.Corpus.bpeMerges(table("documents"), "text", rounds)

  /** Re-balance `documents` to target per-language token weights — see
    * [[graft.operators.Corpus.sampleToMixture]].
    */
  def mixtureSample(weights: Seq[(String, Double)], budget: Long,
      groupCol: String = "lang"): DataFrame =
    graft.operators.Corpus.sampleToMixture(table("documents"),
      "doc_id", "text", groupCol, weights, budget)

  /** Cross-document repeated k-token spans over `documents` — see
    * [[graft.operators.TextDedup.repeatedSpans]].
    */
  def repeatedSpans(k: Int = 5, minDocs: Int = 2): DataFrame =
    TextDedup.repeatedSpans(table("documents"), "doc_id", "text", k, minDocs)

  /** Per-document span-sharing profile over `documents` — see
    * [[graft.operators.TextDedup.spanShareStats]].
    */
  def spanShareStats(k: Int = 5, minDocs: Int = 2): DataFrame =
    TextDedup.spanShareStats(table("documents"), "doc_id", "text", k, minDocs)

  /** Chunk-level exact dedup + reconstruction over `documents` — see
    * [[graft.operators.TextDedup.dedupChunksExact]].
    */
  def dedupChunks(chunkTokens: Int = 8): DataFrame =
    TextDedup.dedupChunksExact(table("documents"), "doc_id", "text", chunkTokens)

  /** Ordered event funnel over `events` — see
    * [[graft.operators.Temporal.funnel]].
    */
  def funnel(steps: Seq[String], withinSec: Long): DataFrame =
    Temporal.funnel(table("events"), "user_id", "ts", "event_type",
      steps, withinSec)

  /** Streaming funnel conversions — see
    * [[graft.streaming.EventStream.funnelStream]].
    */
  def funnelStream(events: org.apache.spark.sql.Dataset[
      graft.streaming.EventStream.FunnelEvent],
      steps: Seq[String], withinSec: Long): DataFrame =
    graft.streaming.EventStream.funnelStream(events, steps, withinSec).toDF()

  /** Weekly retention cohorts over `events` — see
    * [[graft.operators.Temporal.retention]].
    */
  def retention(anchorType: String = "signup"): DataFrame =
    Temporal.retention(table("events"), "user_id", "ts", "event_type",
      anchorType)

  /** Two-stage quantized retrieval over `embeddings` (int8 shortlist →
    * exact re-rank) — see [[Similarity.quantizedTopK]].
    */
  def quantizedTopK(queryIds: Seq[Long], k: Int = 5,
      shortlist: Int = 50): DataFrame = {
    val emb = table("embeddings")
    Similarity.quantizedTopK(emb,
      emb.filter(org.apache.spark.sql.functions.col("vec_id").isin(queryIds: _*)),
      "vec_id", "embedding", k, shortlist)
  }

  /** SemDeDup-style cluster-scoped semantic dedup over `embeddings` —
    * see [[Similarity.semDedup]].
    */
  def semDedup(threshold: Double = 0.95, nCentroids: Int = 16): DataFrame =
    Similarity.semDedup(table("embeddings"), "vec_id", "embedding",
      threshold, nCentroids)

  /** Deterministic epoch-shuffle positions for `documents` — see
    * [[graft.operators.Corpus.shuffleOrder]].
    */
  def shuffleOrder(seed: String): DataFrame =
    graft.operators.Corpus.shuffleOrder(table("documents"), "doc_id", seed)

  /** Write `documents` as token-bounded training shards + manifest —
    * see [[graft.operators.Corpus.writeShards]].
    */
  def writeShards(path: String, tokensPerShard: Long): DataFrame =
    graft.operators.Corpus.writeShards(table("documents"), "doc_id", "text",
      path, tokensPerShard)

  /** Exact shingle-Jaccard similarity self-join over `documents` with
    * sound PPJoin prefix filtering (no pair ≥ threshold can be missed —
    * unlike the probabilistic MinHash path; see
    * [[graft.operators.TextDedup.exactSimilarityJoin]]).
    */
  def similarityJoinExact(threshold: Double = 0.5, k: Int = 5): DataFrame =
    graft.operators.TextDedup.exactSimilarityJoin(
      table("documents"), "doc_id", "text", k, threshold)

  /** Write `df` z-order-clustered on two columns — tight parquet
    * row-group min/max on both, so 2-D box predicates skip at scan time
    * (see [[graft.operators.Layout.writeZOrdered]]).
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
                    path: String, numFiles: Int = 64): Unit =
    graft.operators.Layout.writeZOrdered(df, xCol, yCol, path, numFiles)

  /** Per-language corpus report card (docs, tokens, duplicate mass,
    * mean quality) — the `q_corpus_profile` composition.
    */
  def corpusProfile(): DataFrame = {
    val qual = graft.operators.TextAnalysis
      .withQualityScore(table("documents"), "text")
      .select(col("doc_id"), col("lang"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_toks"),
        col("quality").cast("decimal(18,6)").as("quality"),
        lower(trim(col("text"))).as("norm"))
    val dups = qual.groupBy("norm").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).select(col("norm"), lit(1L).as("_dup"))
    qual.join(dups, Seq("norm"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        count(col("_dup")).as("n_dup_docs"),
        round(sum("quality").cast("double") / count(lit(1)), 6).as("avg_quality"))
      .orderBy("lang")
  }

  /** Persisted dedup-index lifecycle over `documents` — see
    * [[graft.operators.TextDedup.buildDedupIndex]] /
    * [[graft.operators.TextDedup.appendDedupIndex]].
    */
  def buildDedupIndex(path: String): Unit =
    TextDedup.buildDedupIndex(table("documents"), "doc_id", "text", path)

  def appendDedupIndex(newDocs: DataFrame, path: String): Unit =
    TextDedup.appendDedupIndex(newDocs, "doc_id", "text", path)

  /** Streaming chunk-survivor stream — see
    * [[graft.streaming.EventStream.dedupChunkStream]].
    */
  def dedupChunkStream(docs: DataFrame, chunkTokens: Int = 8): DataFrame =
    graft.streaming.EventStream.dedupChunkStream(docs, "doc_id", "text",
      chunkTokens = chunkTokens)

  /** Bloom-filter semi-join: reduce `fact` to rows whose `factKey`
    * matches a key in `dim` — bloom pre-filter on the scan (codegen'd,
    * no false negatives) then exact verify, so the result EQUALS the
    * plain semi-join at a fraction of the shuffled rows (see
    * [[graft.functions.BloomOps]] and the `q_bloom_semijoin` proof).
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
                    dim: DataFrame, dimKey: String,
                    expectedItems: Long = 1000000L, fpp: Double = 0.03): DataFrame = {
    import graft.functions.BloomOps._
    // The dim key is re-aliased to a reserved name: with the common
    // shared-key-name shape (factKey == dimKey, or fact already has a
    // column named dimKey) an unqualified col(dimKey) === col(factKey)
    // join condition is ambiguous and throws AnalysisException.
    val keys = dim.select(col(dimKey).as("__graft_dim_key"))
    val bytes = keys.agg(bloom_agg(col("__graft_dim_key"), expectedItems, fpp))
      .head().getAs[Array[Byte]](0)
    fact.filter(bloom_might_contain(lit(bytes), col(factKey)))
      .join(keys.distinct(), col(factKey) === col("__graft_dim_key"), "left_semi")
  }

  /** Capped multi-source BFS hop counts over an undirected edge list —
    * see [[graft.operators.Components.bfsHops]].
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: Seq[Long], maxHops: Int = 12): DataFrame =
    graft.operators.Components.bfsHops(edges, srcCol, dstCol, sources, maxHops)

  /** Exact edit-distance-1 pair join over a string column (FastSS
    * deletion neighborhoods + levenshtein verify) — see
    * [[graft.operators.TextDedup.editDistanceOneJoin]].
    */
  def typoJoin(strings: DataFrame, strCol: String): DataFrame =
    TextDedup.editDistanceOneJoin(strings, strCol)

  /** PQ ANN over the embeddings table — see
    * [[graft.operators.Similarity.pqTopK]].
    */
  def pqQuery(queryIds: Seq[Long], k: Int = 5, m: Int = 8,
              seedIds: Seq[Long] = (0L until 16L)): DataFrame = {
    val emb = table("embeddings")
    graft.operators.Similarity.pqTopK(
      emb, emb.filter(col("vec_id").isin(queryIds: _*)),
      "vec_id", "embedding", k = k, m = m, seedIds = seedIds)
  }

  /** IVF-PQ composite query over the embeddings table — see
    * [[graft.operators.Similarity.ivfPqTopK]].
    */
  def ivfPqQuery(queryIds: Seq[Long], k: Int = 5, nProbe: Int = 8,
                 shortlist: Int = 50): DataFrame = {
    val emb = table("embeddings")
    graft.operators.Similarity.ivfPqTopK(
      emb, emb.filter(col("vec_id").isin(queryIds: _*)),
      "vec_id", "embedding", k = k, nProbe = nProbe, shortlist = shortlist)
  }

  /** k-core of an undirected edge list (synchronous peeling) — see
    * [[graft.operators.Components.kCore]].
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int = 16): DataFrame =
    graft.operators.Components.kCore(edges, srcCol, dstCol, k, rounds)

  /** Release every cache this session pinned: the pipeline operators'
    * internals and COMPASS's kept survivors (COMPASS persists nothing; a
    * frame it returned keeps the rows it reads). A DataFrame backed only
    * by released persists recomputes if re-run; one backed by a released
    * local checkpoint is invalid and fails when read (see
    * [[graft.operators.OpCaches]]).
    */
  def releaseCaches(): Unit = {
    graft.operators.OpCaches.releaseAll(spark)
    compass.releaseKeptRows()
  }

  def close(): Unit = releaseCaches()
}
