package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines.
  *
  * All variants are expressed as native Spark SQL functions (codegen'd, no
  * UDFs) and are bucketed so the only shuffles are on small keys:
  *
  *  - exact: one hash-aggregate on a digest of the normalized text — the
  *    exchange carries 8-byte hashes, never documents;
  *  - MinHash-LSH: shingle → minhash signature → band hashes; candidate
  *    pairs come from a self-equi-join on (band, band_hash) — the classic
  *    banding scheme. NEVER all-pairs: at 100 TB the cross join is
  *    impossible, while band buckets keep each join partition tiny.
  *    Skewed buckets (boilerplate docs, big near-dup families) are
  *    bounded by `maxBucket`: members of an oversized bucket pair only
  *    with the bucket's min id, at linear cost;
  *  - SimHash: 64-bit signature whose Hamming distance tracks cosine
  *    similarity of term sets — near-dup candidates = equal 16-bit chunks
  *    (Hamming ≤ 3 guarantee by pigeonhole over 4 chunks).
  *
  * The MinHash family reuses the same 2-universal hashing scheme as the
  * COMPASS sketches (graft.sketch.Xi) — one hash infrastructure for both
  * (VERDICT r1 noted the sketch seed/plane machinery generalizes here).
  */
object TextDedup {

  /** Word-shingle hashes: k-gram sliding windows over whitespace tokens,
    * each shingle folded to a 64-bit hash. Compiled kernel
    * ([[graft.functions.TextHashKernel.shingleHashes]]); bit-identical to
    * [[shingleHashesHof]], spec-enforced.
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    graft.functions.TextHashOps.shingleHashes(text, k)

  /** The HOF formulation [[shingleHashes]] compiles — kept as the
    * executable spec of the semantics (TextDedupSpec asserts bit-identity).
    */
  private[graft] def shingleHashesHof(text: Column, k: Int = 3): Column = {
    val tokens = split(text, "\\s+")
    val n = size(tokens)
    val idx = sequence(lit(1), greatest(n - (k - 1), lit(1)))
    array_distinct(transform(idx, i =>
      xxhash64(concat_ws(" ", slice(tokens, i, lit(k))))))
  }

  /** Deterministic minhash parameters, packed [a0,b0,a1,b1,…]. Mersenne
    * 2^31-1 keeps a·x + b < 2^62: overflow-free under ANSI mode (Spark 4
    * default) while staying 2-universal.
    */
  private[graft] def minhashParams(numHashes: Int, seed: Long): Array[Long] = {
    val p = 2147483647L
    val rng = new scala.util.Random(seed)
    val out = new Array[Long](numHashes * 2)
    // Non-negative fold WITHOUT math.abs: abs(Long.MinValue) is negative
    // (2^-64 per draw, but seed is caller-suppliable), and a negative
    // param breaks the kernel/HOF pmod identity.
    def fold(x: Long, m: Long): Long = ((x % m) + m) % m
    var i = 0
    while (i < numHashes) {
      out(2 * i) = fold(rng.nextLong(), p - 1) + 1
      out(2 * i + 1) = fold(rng.nextLong(), p)
      i += 1
    }
    out
  }

  /** MinHash signature of a shingle-hash array: for each of `numHashes`
    * independent permutations h_i(x) = (a_i·x + b_i) mod p, the minimum
    * over the set. Deterministic seeds. Compiled kernel
    * ([[graft.functions.TextHashKernel.minhashSig]]); bit-identical to
    * [[minhashSignatureHof]], spec-enforced.
    */
  def minhashSignature(shingles: Column, numHashes: Int = 64, seed: Long = 0x317EL): Column =
    graft.functions.TextHashOps.minhashSig(shingles, minhashParams(numHashes, seed))

  /** The HOF formulation [[minhashSignature]] compiles — ONE fold over the
    * shingles computes all `numHashes` minima at once. Kept as the
    * executable spec of the semantics (TextDedupSpec asserts bit-identity).
    */
  private[graft] def minhashSignatureHof(shingles: Column, numHashes: Int = 64, seed: Long = 0x317EL): Column = {
    val p = 2147483647L
    val ab = minhashParams(numHashes, seed)
    val aLit = typedlit(ab.grouped(2).map(_(0)).toSeq)
    val bLit = typedlit(ab.grouped(2).map(_(1)).toSeq)
    val init = typedlit(Seq.fill(numHashes)(p)) // p > any h(x) in [0, p)
    aggregate(shingles, init, (acc, x) => {
      val hashes = zip_with(aLit, bLit, (a, b) => pmod(pmod(x, lit(p)) * a + b, lit(p)))
      zip_with(acc, hashes, (m, h) => least(m, h))
    })
  }

  /** Materialized (id, shingle-hash array) relation. Scale guards:
    * repartition first — higher-order functions run interpreted (outside
    * codegen) and a small parquet input arrives as ONE partition, so the
    * per-row work must be spread across all cores; persist — downstream
    * fan-outs (64 minhash branches, candidate verify joins) must read a
    * materialized column, not recompute the expression per branch
    * (CollapseProject would inline it). Level spills; LRU-evictable.
    */
  private def shingleDF(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    OpCaches.track(
      TextAnalysis.widened(df)
        .select(col(idCol), shingleHashes(col(textCol), k).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** doc id → (band, band_hash) rows, the LSH bucketing relation, from a
    * materialized shingle relation. `bands` must divide `numHashes`.
    */
  private def bandsOf(sh: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Materialize signatures before the band fan-out (same reasoning as
    // shingleDF).
    val sigDF = OpCaches.track(
      sh.select(col(idCol), minhashSignature(col("sh"), numHashes).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    sigDF
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, lit(r)))))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  private val BandKey = Seq("band", "band_hash")

  /** Pure-expression band hashes of a text column: element b = xxhash64
    * of the b-th signature band — the same banding arithmetic
    * [[bandsOf]] materializes, as ONE column expression with no persist,
    * so streaming operators (where persist() does not exist) can bucket
    * with the identical scheme ([[graft.streaming.EventStream.dedupNearStream]]).
    * The signature is let-bound via a single-element transform so the
    * minhash kernel evaluates once per row, not once per band.
    */
  private[graft] def bandHashes(
      text: Column, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    element_at(
      transform(array(minhashSignature(shingleHashes(text, shingleK), numHashes)),
        sig => transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",", slice(sig, b * r + 1, lit(r)))))), 1)
  }

  /** The skew guard of the bucketed joins: split `rows` into the rows of
    * buckets (`keys`) with at most `maxBucket` members and the rows of the
    * oversized ones. The oversized set comes from a map-side-combined
    * aggregate and is routed with BROADCAST joins: it is tiny by
    * construction, while a window over the bucket key would shuffle AND
    * sort every row.
    */
  private def splitOversized(rows: DataFrame, keys: Seq[String],
      maxBucket: Int): (DataFrame, DataFrame) = {
    val oversized = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(keys.map(col): _*)
    (rows.join(broadcast(oversized), keys, "left_anti"),
      rows.join(broadcast(oversized), keys))
  }

  /** Exact verify of candidate pairs (columns `a`, `b`): shingle-set
    * Jaccard from the two-column (id, sh) relations `shA` and `shB`, kept
    * at ≥ `threshold`. Returns (a, b, jaccard rounded to 6 places).
    */
  private def verified(candidates: DataFrame, a: String, shA: DataFrame,
      b: String, shB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(shA.toDF(a, "sh_a"), a)
      .join(shB.toDF(b, "sh_b"), b)
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col(a), col(b), round(col("jaccard"), 6).as("jaccard"))

  /** Digest of the normalized text: the exact-duplicate key. */
  private def textDigest(text: Column): Column = xxhash64(lower(trim(text)))

  /** Near-duplicate candidate pairs via banded MinHash-LSH, verified with
    * exact shingle-set Jaccard ≥ `threshold`. Returns (id_a, id_b, jaccard)
    * with id_a < id_b. The only shuffles: the band self-join (small keys)
    * and the final distinct.
    *
    * Skew guard, hub form (×1000 campaign fix): buckets over `maxBucket`
    * members — boilerplate, or big near-dup families, the web-crawl
    * shape — are kept at LINEAR cost instead of being dropped: every
    * member pairs with the bucket's min id (the hub) instead of with every
    * other member. Dropping them lost every candidate of a family of ~100
    * near-identical (not equal) replicas, measured as 448 k survivors
    * where the construction says ~4.8 k (SCALE.md r18). The exact-Jaccard
    * verify rejects false positives, and keep-min dedup semantics
    * downstream are unchanged because the hub IS the minimum.
    *
    * Residual blind spot: in a MIXED oversized bucket, a member near-dup
    * to another member but not to the hub yields no pair from that
    * bucket. At the shipped 16 bands a family must land in a foreign
    * bucket in every band to be missed (P ≈ J^64 for sub-threshold J);
    * SkewGuardRecallSpec measures it. At low band counts only more bands
    * close it: no variant that pairs more of an oversized bucket did
    * (COVERAGE.md r19/r20).
    */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3, maxBucket: Int = 64): DataFrame = {
    val sh = shingleDF(df, idCol, textCol, shingleK)
    val (bounded, overRows) =
      splitOversized(bandsOf(sh, idCol, numHashes, bands), BandKey, maxBucket)
    val a = bounded.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val b = bounded.select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    val inBucket = a.join(b, BandKey)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val hubs = overRows.groupBy(col("band"), col("band_hash"))
      .agg(min(col(idCol)).as("anchor"))
    val hubPairs = overRows.join(broadcast(hubs), BandKey)
      .filter(col(idCol) =!= col("anchor"))
      .select(least(col("anchor"), col(idCol)).as("id_a"),
        greatest(col("anchor"), col(idCol)).as("id_b"))
    verified(inBucket.union(hubPairs).distinct(), "id_a", sh, "id_b", sh, threshold)
  }

  /** Incremental-ingestion near-dup check: which documents of a NEW
    * `batch` near-duplicate something already in `corpus`? The
    * daily-crawl shape — the corpus is never self-joined (its band
    * relation is an artifact a real deployment materializes once and
    * appends to, see [[buildDedupIndex]]), only batch buckets meet corpus
    * buckets, so per-day cost scales with the batch, not the corpus.
    * Returns (batch_id, corpus_id, jaccard) with exact shingle-Jaccard ≥
    * `threshold`, verified on candidates only.
    */
  def minhashNearDupsAgainst(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3, maxBucket: Int = 64): DataFrame = {
    val (sh, digests, banded) =
      corpusRelations(corpus, idCol, textCol, numHashes, bands, shingleK)
    nearDupsAgainstCorpus(sh, digests, banded, batch, idCol, textCol,
      threshold, numHashes, bands, shingleK, maxBucket)
  }

  /** Dedup an incoming batch against a [[buildDedupIndex]] index — the
    * semantics of [[minhashNearDupsAgainst]], with every corpus-side
    * relation read from the persisted artifact instead of re-derived from
    * text. The oversized-bucket set is recomputed from the stored bands (a
    * metadata-sized aggregate — it must see appended rows, so it cannot be
    * frozen at build time).
    */
  def nearDupsAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String, threshold: Double = 0.8, maxBucket: Int = 64): DataFrame = {
    val spark = batch.sparkSession
    val (numHashes, bands, shingleK) = indexMeta(spark, path)
    val sh = spark.read.parquet(s"$path/shingles")
    nearDupsAgainstCorpus(sh.select("id", "sh"), sh.select("id", "digest"),
      spark.read.parquet(s"$path/bands"), batch, idCol, textCol,
      threshold, numHashes, bands, shingleK, maxBucket)
  }

  /** The batch-vs-corpus body of [[minhashNearDupsAgainst]] and
    * [[nearDupsAgainstIndex]], over the corpus relations in the index
    * schema: shingles (id, sh), digests (id, digest) and bands (id, band,
    * band_hash). Candidates are the union of three passes:
    *  - LSH: batch buckets meet the corpus buckets of at most `maxBucket`
    *    members (the corpus-side skew guard; batch buckets are bounded by
    *    the batch size);
    *  - exact digest: catches identical boilerplate, whose buckets are
    *    all oversized;
    *  - hubs (×1000 campaign fix): a batch doc landing in an oversized
    *    corpus bucket pairs with that bucket's min corpus id at linear
    *    cost — the digest pass alone misses a batch doc that
    *    near-duplicates a big near-dup family.
    * Digest collisions are harmless: the exact-Jaccard verify rejects
    * them.
    */
  private def nearDupsAgainstCorpus(
      corpusSh: DataFrame, corpusDigests: DataFrame, corpusBands: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): DataFrame = {
    val shB = shingleDF(batch, idCol, textCol, shingleK)
    val bandedB = bandsOf(shB, idCol, numHashes, bands)
      .select(col("band"), col("band_hash"), col(idCol).as("batch_id"))
    val (boundedC, overC) = splitOversized(corpusBands, BandKey, maxBucket)
    val lshCandidates = boundedC
      .select(col("band"), col("band_hash"), col("id").as("corpus_id"))
      .join(bandedB, BandKey)
      .select("batch_id", "corpus_id")
    val exactCandidates = batch
      .select(col(idCol).as("batch_id"), textDigest(col(textCol)).as("digest"))
      .join(corpusDigests.toDF("corpus_id", "digest"), "digest")
      .select("batch_id", "corpus_id")
    val corpusHubs = overC.groupBy(col("band"), col("band_hash"))
      .agg(min(col("id")).as("corpus_id"))
    val hubCandidates = bandedB.join(broadcast(corpusHubs), BandKey)
      .select("batch_id", "corpus_id")
    verified(lshCandidates.union(exactCandidates).union(hubCandidates).distinct(),
      "batch_id", shB, "corpus_id", corpusSh, threshold)
  }

  /** A corpus's relations in the index schema: shingles (id, sh), text
    * digests (id, digest) and bands (id, band, band_hash) — canonical
    * column names, so the on-disk schema is independent of the caller's
    * id column.
    */
  private def corpusRelations(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleK: Int): (DataFrame, DataFrame, DataFrame) = {
    val sh = shingleDF(docs, idCol, textCol, shingleK)
    (sh.toDF("id", "sh"),
      docs.select(col(idCol).as("id"), textDigest(col(textCol)).as("digest")),
      bandsOf(sh, idCol, numHashes, bands)
        .select(col(idCol).as("id"), col("band"), col("band_hash")))
  }

  /** Build a PERSISTED dedup index — the materialized corpus-side
    * artifact the daily-ingest path needs (at 100 TB the corpus is
    * shingled ONCE and appended per ingest, never re-derived per day;
    * same lifecycle contract as the IVF index,
    * [[Similarity.buildIvfIndex]]). Layout at `path`:
    *
    *   - `shingles/` (id, sh array<long>, digest long) — exact-Jaccard
    *     verification + the exact-digest candidate pass;
    *   - `bands/` (id, band int, band_hash long) — LSH candidate
    *     generation;
    *   - `meta/` (num_hashes, bands, shingle_k) — parameters pinned at
    *     build so append/query cannot drift from the built relations.
    */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3): Unit = {
    val spark = corpus.sparkSession
    writeIndex(corpus, idCol, textCol, path, numHashes, bands, shingleK, "overwrite")
    import spark.implicits._
    Seq((numHashes, bands, shingleK)).toDF("num_hashes", "bands", "shingle_k")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append newly-ingested documents to a [[buildDedupIndex]] index:
    * shingle/band ONLY the new rows under the meta-pinned parameters and
    * append — per-ingest cost scales with the batch, the existing corpus
    * relations are untouched.
    */
  def appendDedupIndex(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val (numHashes, bands, shingleK) = indexMeta(newDocs.sparkSession, path)
    writeIndex(newDocs, idCol, textCol, path, numHashes, bands, shingleK, "append")
  }

  private def writeIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int, bands: Int, shingleK: Int, mode: String): Unit = {
    val (sh, digests, banded) =
      corpusRelations(docs, idCol, textCol, numHashes, bands, shingleK)
    sh.join(digests, "id").write.mode(mode).parquet(s"$path/shingles")
    banded.write.mode(mode).parquet(s"$path/bands")
  }

  /** (num_hashes, bands, shingle_k) pinned in an index's `meta/`. */
  private def indexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int) = {
    val m = spark.read.parquet(s"$path/meta").head()
    (m.getInt(0), m.getInt(1), m.getInt(2))
  }

  /** 64-bit SimHash over whitespace terms: bit j of the signature is the
    * sign of Σ_terms (±1 depending on bit j of xxhash64(term)). Compiled
    * kernel ([[graft.functions.TextHashKernel.simhash]]); bit-identical to
    * [[simhash64Hof]], spec-enforced.
    */
  def simhash64(text: Column): Column =
    graft.functions.TextHashOps.simhash64(text)

  /** The HOF formulation [[simhash64]] compiles — ONE fold over the terms
    * accumulates all 64 bit-sums at once. Kept as the executable spec of
    * the semantics (TextDedupSpec asserts bit-identity).
    */
  private[graft] def simhash64Hof(text: Column): Column = {
    val hashes = transform(split(text, "\\s+"), w => xxhash64(w))
    val zeros = typedlit(Seq.fill(64)(0L))
    val bitSums = aggregate(hashes, zeros, (acc, h) =>
      zip_with(acc, sequence(lit(0), lit(63)), (s, j) =>
        s + when(call_function("shiftright", h, j).bitwiseAND(lit(1L)) === 1, 1L)
          .otherwise(-1L)))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, j) => when(s > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup candidates: pigeonhole on 4 × 16-bit chunks — docs
    * within Hamming distance 3 share at least one exact chunk, so the
    * join key is (chunk index, chunk value). Returns pairs with their
    * Hamming distance ≤ `maxHamming`.
    *
    * Skew guard: short/boilerplate corpora collapse onto few signatures,
    * and one popular 16-bit chunk value would make an O(n²) bucket at
    * scale — oversized buckets (the split [[minhashNearDups]] uses) are
    * dropped here (the exact-dup pass catches identical docs far more
    * cheaply).
    */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    // Materialize signatures once (widened first): the oversized-bucket
    // aggregate and BOTH sides of the self-join read this relation —
    // unpersisted lineage would recompute the corpus-wide simhash three
    // times (the same fan-out rule shingleDF/bandsOf document).
    val sigs = OpCaches.track(
      TextAnalysis.widened(df)
        .select(col(idCol), simhash64(col(textCol)).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val chunked = sigs.select(col(idCol), col("sig"), posexplode(
      transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("sig"), c * 16).bitwiseAND(lit(0xFFFFL)))))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
    val (bounded, _) = splitOversized(chunked, Seq("chunk", "chunk_val"), maxBucket)
    val a = bounded.select(col("chunk"), col("chunk_val"),
      col(idCol).as("id_a"), col("sig").as("sig_a"))
    val b = bounded.select(col("chunk"), col("chunk_val"),
      col(idCol).as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** N-gram (character) Jaccard similarity of two text columns — the
    * exact verifier used standalone when candidates come from elsewhere.
    * Gram hashing runs in the compiled kernel
    * ([[graft.functions.TextHashKernel.ngramHashes]]); bit-identical to
    * [[ngramJaccardHof]], spec-enforced.
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 5): Column = {
    val ga = graft.functions.TextHashOps.ngramHashes(a, n)
    val gb = graft.functions.TextHashOps.ngramHashes(b, n)
    size(array_intersect(ga, gb)).cast("double") / size(array_union(ga, gb))
  }

  /** The HOF formulation [[ngramJaccard]] compiles — kept as the
    * executable spec of the semantics (TextDedupSpec asserts equality).
    */
  private[graft] def ngramJaccardHof(a: Column, b: Column, n: Int = 5): Column = {
    def grams(c: Column) = array_distinct(transform(
      sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
      i => xxhash64(c.substr(i, lit(n)))))
    val ga = grams(a); val gb = grams(b)
    size(array_intersect(ga, gb)).cast("double") / size(array_union(ga, gb))
  }

  /** Materialized (id, k-token span strings) relation shared by the
    * span-dedup passes. Persisted as compact per-document ARRAYS (one
    * row per document, the [[shingleDF]] pattern) — the EXPLODED span
    * relation is deliberately never cached: it is a k× row blow-up
    * larger than re-deriving from these arrays. Spans exist only where
    * the document has ≥ k tokens (short documents contribute nothing —
    * unlike [[shingleHashes]]' clamped short-doc shingle, a "span" below
    * k tokens is not a span).
    */
  private def spanDF(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    OpCaches.track(
      TextAnalysis.widened(df)
        .select(col(idCol), split(lower(col(textCol)), "\\s+").as("_w"))
        .select(col(idCol), Corpus.gramStrings(col("_w"), k).as("_spans"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Cross-document repeated spans — the exact-substring dedup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022) at word-shingle granularity: every k-token
    * window that appears in at least `minDocs` DISTINCT documents, with
    * its document count and total occurrence count. These are the
    * boilerplate strings (licenses, navigation chrome, templated
    * paragraphs) an exact-hash doc-level pass can never see, because the
    * surrounding document differs.
    *
    * Shape: explode → one partial-aggregated count shuffle keyed on the
    * span. `countDistinct` is Spark's standard two-phase expand — no
    * per-span state grows with occurrence count, so a boilerplate span
    * in millions of documents is just a hot-but-mergeable key (AQE skew
    * handling applies); the exchange carries (span, partial counts),
    * never documents.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    spanDF(df, idCol, textCol, k)
      .select(col(idCol), explode(col("_spans")).as("span"))
      .groupBy("span")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Non-overlapping `c`-token chunk strings of a projected token-array
    * column (last chunk may be shorter — ceil split, so every token
    * belongs to exactly one chunk). Shared by the batch dedup and its
    * streaming face so the two cannot drift.
    */
  private[graft] def chunkStrings(w: Column, c: Int): Column =
    transform(
      sequence(lit(0), ceil(size(w) / lit(c.toDouble)).cast("int") - 1),
      i => concat_ws(" ", slice(w, i * c + 1, lit(c))))

  /** Sub-document exact dedup with reconstruction — the REMOVAL step
    * that [[repeatedSpans]] only detects: split every document into
    * non-overlapping `chunkTokens`-token chunks, keep each distinct
    * chunk's globally FIRST occurrence (min (doc_id, chunk_idx) — so the
    * kept set is reproducible in any engine), drop every later
    * occurrence (including intra-document repeats), and rebuild each
    * document from its surviving chunks in order. Returns
    * (id, n_chunks, n_kept, kept_text); a document that is entirely
    * boilerplate keeps nothing and comes back with an empty string.
    *
    * Shape: chunking is a map-side explode at 1/chunkTokens of token
    * granularity; the keeper election is ONE partial-aggregated
    * `min(struct(doc, idx))` shuffle keyed on the chunk (a boilerplate
    * chunk in millions of documents is a hot-but-mergeable key — the
    * min-struct carries 16 bytes per partial, no grow-with-key state);
    * the survivor filter is a (doc, idx)-keyed LEFT SEMI join — chunk
    * text never rides the join; reconstruction aggregates each
    * document's OWN chunks (state bounded by the document itself, the
    * same bound as the input row).
    */
  def dedupChunksExact(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val c = chunkTokens
    val toks = TextAnalysis.widened(df)
      .select(col(idCol), split(lower(col(textCol)), "\\s+").as("_w"))
    val chunkArr = chunkStrings(col("_w"), c)
    val chunks = OpCaches.track(
      toks.select(col(idCol), posexplode(chunkArr).as(Seq("chunk_idx", "chunk")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val keep = chunks.groupBy("chunk")
      .agg(min(struct(col(idCol).as("d"), col("chunk_idx").as("i"))).as("_k"))
      .select(col("_k.d").as(idCol), col("_k.i").as("chunk_idx"))
    val kept = chunks.join(keep, Seq(idCol, "chunk_idx"), "left_semi")
    val stats = chunks.groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"))
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk"))).as("kept_text"))
    stats.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Per-document span-sharing profile: of the document's DISTINCT
    * k-token spans, how many also occur in ≥ `minDocs` documents
    * (itself included) — `n_spans`, `n_shared`, and their ratio. The
    * per-document `shared_frac` is the removal criterion real pipelines
    * threshold on (a document that is mostly shared spans is boilerplate
    * even if no single whole-document duplicate exists). Documents
    * shorter than k tokens have no spans and are absent.
    *
    * Shape: two span-keyed shuffles off the one persisted array
    * relation — the shared-span set derives from the same distinct
    * relation it joins back to, so Spark reuses the exchange; the join
    * is span-keyed equi (AQE may broadcast a small shared set). The
    * ratio is elementwise double math on two exact longs — deterministic
    * in any engine — rounded to 6 dp on both sides.
    */
  def spanShareStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val docSpan = spanDF(df, idCol, textCol, k)
      .select(col(idCol), explode(array_distinct(col("_spans"))).as("span"))
    val shared = docSpan.groupBy("span")
      .agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("span"), lit(1L).as("_shared"))
    docSpan.join(shared, Seq("span"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"), count(col("_shared")).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_spans"), 6))
  }

  /** Distinct word-k-gram shingle STRINGS per document: (_id, _tok). */
  private def shingleSet(docs: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    val words = docs.select(col(idCol).as("_id"),
      split(lower(col(textCol)), " ").as("_w"))
    words
      .select(col("_id"), col("_w"), explode(
        sequence(lit(1), greatest(size(col("_w")) - (k - 1), lit(1)))).as("_i"))
      .select(col("_id"),
        array_join(slice(col("_w"), col("_i"), lit(k)), " ").as("_tok"))
      .distinct()
  }

  /** EXACT set-similarity self-join at word-k-gram-shingle Jaccard ≥
    * `threshold`, with PPJoin-style prefix filtering (Chaudhuri et al.
    * ICDE'06; Xiao et al. WWW'08). Unlike the MinHash path, pruning here
    * is SOUND — no pair at or above the threshold can be missed:
    * candidates are pairs sharing a shingle among each document's first
    * |S| − ⌈t·|S|⌉ + 1 shingles in the global (df, shingle) order
    * (the prefix-filter lemma: an overlap of ⌈t·|S|⌉ elements must
    * touch that prefix), then every candidate is verified by exact
    * intersection counting.
    *
    * Scale shape: the shuffles key on shingle strings (df join, prefix
    * candidate join) and doc-id pairs (verification) — never an
    * all-pairs product; rarest-first prefix ordering keeps candidate
    * buckets small exactly where documents are distinctive. The shingle
    * and prefix relations are persisted (tracked in [[OpCaches]]) since
    * both feed multiple joins.
    *
    * Returns (d1, d2, inter, uni, jaccard) with d1 < d2.
    */
  def exactSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 5, threshold: Double = 0.5): DataFrame = {
    require(k >= 1, s"shingle length k must be >= 1, got $k")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = OpCaches.track(shingleSet(docs, idCol, textCol, k))
    val sz = sh.groupBy("_id").agg(count(lit(1)).as("_s"))
    val dfc = sh.groupBy("_tok").agg(count(lit(1)).as("_dfc"))
    val ranked = sh.join(dfc, "_tok")
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("_id").orderBy(col("_dfc"), col("_tok"))))
    val pref = OpCaches.track(ranked.join(sz, "_id")
      .filter(col("_rn") <=
        col("_s") - ceil(lit(threshold) * col("_s")).cast("long") + 1)
      .select("_id", "_tok"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a._tok") === col("b._tok") && col("a._id") < col("b._id"))
      .select(col("a._id").as("d1"), col("b._id").as("d2")).distinct()
    val inter = cand
      .join(sh.select(col("_id").as("d1"), col("_tok")), "d1")
      .join(sh.select(col("_id").as("d2"), col("_tok")), Seq("d2", "_tok"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("_id").as("d1"), col("_s").as("_sa")), "d1")
      .join(sz.select(col("_id").as("d2"), col("_s").as("_sb")), "d2")
      .withColumn("uni", col("_sa") + col("_sb") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= threshold)
      .select(col("d1"), col("d2"), col("inter"), col("uni"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** CONTAINMENT join: directed pairs (d1, d2) where at least `threshold`
    * of d1's shingle set also appears in d2 — quote/plagiarism/subset
    * detection, where Jaccard fails (a short quote inside a long document
    * has tiny Jaccard but full containment). Only the CONTAINED side
    * needs a prefix (overlap ≥ ⌈t·|S₁|⌉ must touch d1's
    * |S₁| − ⌈t·|S₁|⌉ + 1 rarest shingles); the containing side is probed
    * in full, inverted-index style — so the candidate join is
    * prefix × postings, never all-pairs, and rarest-first ordering keeps
    * the probed posting lists short.
    *
    * Returns (d1, d2, inter, s1, containment) with d1 ≠ d2, where
    * containment = inter / |S₁|.
    */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, threshold: Double = 0.8): DataFrame = {
    require(k >= 1, s"shingle length k must be >= 1, got $k")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = OpCaches.track(shingleSet(docs, idCol, textCol, k))
    val sz = sh.groupBy("_id").agg(count(lit(1)).as("_s"))
    val dfc = sh.groupBy("_tok").agg(count(lit(1)).as("_dfc"))
    val pref = sh.join(dfc, "_tok")
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("_id").orderBy(col("_dfc"), col("_tok"))))
      .join(sz, "_id")
      .filter(col("_rn") <=
        col("_s") - ceil(lit(threshold) * col("_s")).cast("long") + 1)
      .select("_id", "_tok")
    val cand = pref.as("a").join(sh.as("b"),
        col("a._tok") === col("b._tok") && col("a._id") =!= col("b._id"))
      .select(col("a._id").as("d1"), col("b._id").as("d2")).distinct()
    val inter = cand
      .join(sh.select(col("_id").as("d1"), col("_tok")), "d1")
      .join(sh.select(col("_id").as("d2"), col("_tok")), Seq("d2", "_tok"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("_id").as("d1"), col("_s").as("s1")), "d1")
      .filter(col("inter").cast("double") / col("s1") >= threshold)
      .select(col("d1"), col("d2"), col("inter"), col("s1"),
        round(col("inter").cast("double") / col("s1"), 6).as("containment"))
  }

  /** ASYMMETRIC exact similarity join: every (corpus, batch) pair at
    * shingle Jaccard ≥ `threshold` — the daily-ingest face of
    * [[exactSimilarityJoin]] (≙ [[minhashNearDupsAgainst]] for the
    * probabilistic path, but with the SOUND prefix-filter guarantee).
    * The global shingle order comes from CORPUS document frequencies
    * (batch-only shingles rank rarest at df 0 — any consistent order is
    * sound; corpus df is the one known ahead of ingest). The cross-prefix
    * lemma: the smallest-ranked common shingle of a qualifying pair lies
    * in BOTH sides' prefixes, so the prefix⋈prefix equi-join misses
    * nothing. The corpus never self-joins; per-ingest cost scales with
    * the batch.
    *
    * Returns (corpus_id, batch_id, inter, uni, jaccard).
    */
  def exactSimilarityJoinAgainst(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      k: Int = 5, threshold: Double = 0.5): DataFrame = {
    require(k >= 1, s"shingle length k must be >= 1, got $k")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val shC = OpCaches.track(shingleSet(corpus, idCol, textCol, k))
    val shB = OpCaches.track(shingleSet(batch, idCol, textCol, k))
    val dfc = shC.groupBy("_tok").agg(count(lit(1)).as("_dfc"))
    def prefixOf(sh: DataFrame): DataFrame = {
      val sz = sh.groupBy("_id").agg(count(lit(1)).as("_s"))
      sh.join(dfc, Seq("_tok"), "left")
        .withColumn("_d", coalesce(col("_dfc"), lit(0L)))
        .withColumn("_rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("_id").orderBy(col("_d"), col("_tok"))))
        .join(sz, "_id")
        .filter(col("_rn") <=
          col("_s") - ceil(lit(threshold) * col("_s")).cast("long") + 1)
        .select("_id", "_tok")
    }
    val cand = prefixOf(shC).as("a").join(prefixOf(shB).as("b"),
        col("a._tok") === col("b._tok"))
      .select(col("a._id").as("corpus_id"), col("b._id").as("batch_id"))
      .distinct()
    val inter = cand
      .join(shC.select(col("_id").as("corpus_id"), col("_tok")), "corpus_id")
      .join(shB.select(col("_id").as("batch_id"), col("_tok")),
        Seq("batch_id", "_tok"))
      .groupBy("corpus_id", "batch_id").agg(count(lit(1)).as("inter"))
    val szC = shC.groupBy("_id").agg(count(lit(1)).as("_sa"))
    val szB = shB.groupBy("_id").agg(count(lit(1)).as("_sb"))
    inter
      .join(szC.withColumnRenamed("_id", "corpus_id"), "corpus_id")
      .join(szB.withColumnRenamed("_id", "batch_id"), "batch_id")
      .withColumn("uni", col("_sa") + col("_sb") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= threshold)
      .select(col("corpus_id"), col("batch_id"), col("inter"), col("uni"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
  }

  /** EXACT edit-distance-1 string pair join (FastSS, k=1 — Bocek et al.,
    * "Fast Similarity Search in Large Dictionaries"): each string's
    * candidate neighborhood is itself plus its single-character
    * deletions, and any two strings at distance ≤ 1 NECESSARILY share a
    * neighborhood key (substitution at i ⇒ both i-deletions equal;
    * insertion/deletion ⇒ one string IS the other's deletion) — so the
    * bucketed join is sound AND complete, never all-pairs. Candidates
    * are then verified with the real levenshtein, so there are no false
    * positives either. Returns distinct (u, v) pairs with u < v and
    * distance exactly 1.
    *
    * Scale shape: (len+1) keys per distinct string — the join is keyed
    * on short deletion variants, the verify is per candidate pair; cost
    * ∝ Σ bucket² over variant buckets (typo clusters), never |vocab|².
    * All expressions are built-in HOFs + `levenshtein` — fully codegen'd.
    */
  def editDistanceOneJoin(strings: DataFrame, strCol: String): DataFrame = {
    val w = strings.select(col(strCol).cast("string").as("w"))
      .filter(col("w").isNotNull).distinct()
    // PERSISTED: the deletion-variant explode feeds BOTH sides of the
    // self-join and Catalyst does not reuse the exchange across the
    // a/b aliases (measured sf0.1: ReusedExchange absent, the explode
    // ran twice; persisting cut the entry 15.8 → 9.8 s cold). The
    // relation is (len+1)·|vocab| short strings — executor-cache-sized
    // at any sane vocabulary, and released with the query's OpCaches.
    val keyed = OpCaches.track(w.select(col("w"),
      explode(array_union(
        expr("transform(sequence(1, length(w)), " +
          "i -> concat(substring(w, 1, i - 1), substring(w, i + 1, length(w))))"),
        array(col("w")))).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    keyed.as("a").join(keyed.as("b"),
        col("a.k") === col("b.k") && col("a.w") < col("b.w"))
      .select(col("a.w").as("u"), col("b.w").as("v")).distinct()
      .filter(levenshtein(col("u"), col("v")) === 1)
  }
}
