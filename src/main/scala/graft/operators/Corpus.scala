package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-preparation operators a large-scale pretraining pipeline needs
  * beyond per-document scoring: repetition-based quality signals, test-set
  * decontamination, and sequence packing. All three are declarative
  * DataFrame plans — map-side token work, partial-aggregated shuffles on
  * bounded keys, and the distributed prefix sum — so each survives a
  * 100× scale-up without a single-task stage.
  */
object Corpus {

  private def words(textCol: String): Column =
    split(lower(col(textCol)), "\\s+")

  /** Word n-gram strings of `w` (1-based `element_at`); empty array when
    * the document is shorter than `n` tokens.
    *
    * `w` MUST be a projected column reference, never the inline
    * `words(...)` expression: the `transform` lambda is interpreted
    * (higher-order functions skip codegen and subexpression
    * elimination), so an inline split would be re-evaluated for every
    * `element_at` of every gram — O(grams × n) regex splits per
    * document, measured 30× slower on the documents table.
    */
  private[operators] def gramStrings(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Repetition-based quality signals (the Gopher/C4-style rules):
    * duplicate-word mass and the hottest 2-gram's count per document.
    * Exact integer outputs — the filter thresholds (fractions) derive
    * trivially and stay engine-portable.
    *
    * Shape: word stats are map-side expressions; the top-gram pass is
    * explode → partial-aggregated count on (doc, gram) → per-doc max —
    * exchange traffic is bounded by distinct grams per doc, never the
    * token stream.
    */
  def withRepetitionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = df
      .select(col(idCol), words(textCol).as("_w"))
      .withColumn("_nw", size(col("_w")).cast("long"))
      .withColumn("_nd", size(array_distinct(col("_w"))).cast("long"))
    val grams = base.select(col(idCol),
      explode(gramStrings(col("_w"), 2)).as("_g"))
    val top = grams
      .groupBy(col(idCol), col("_g")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol)).agg(max(col("_c")).as("_tc"))
    base.join(top, Seq(idCol), "left")
      .select(col(idCol), col("_nw").as("n_words"),
        (col("_nw") - col("_nd")).as("n_dup_words"),
        coalesce(col("_tc"), lit(0L)).as("top_gram_count"))
  }

  /** Test-set decontamination: per document, how many of its distinct
    * word `n`-grams appear anywhere in `benchmark` (the held-out eval
    * texts), plus the 0/1 contamination flag. Benchmark shingles are
    * deduplicated and BROADCAST — eval sets are kilobytes-to-megabytes
    * against a corpus of terabytes, so the corpus-side scan stays
    * shuffle-free; drop the broadcast hint if a benchmark ever rivals
    * the corpus.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 4): DataFrame = {
    val docSh = docs
      .select(col(idCol), words(textCol).as("_w"))
      .select(col(idCol), explode(gramStrings(col("_w"), n)).as("_s"))
    val benchSh = benchmark
      .select(words(benchTextCol).as("_w"))
      .select(explode(gramStrings(col("_w"), n)).as("_s"))
      .distinct()
    val overlaps = docSh.join(broadcast(benchSh), "_s")
      .groupBy(col(idCol)).agg(countDistinct(col("_s")).as("_ov"))
    docs.select(col(idCol)).join(overlaps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_ov"), lit(0L)).as("n_overlap"),
        (coalesce(col("_ov"), lit(0L)) > 0).cast("long").as("contaminated"))
  }

  /** Concat-then-chunk sequence packing (the GPT-style pretraining
    * batcher): documents ordered by `idCol` are conceptually concatenated
    * and cut into `capacity`-token context windows; each document gets
    * its global token start offset and the first/last window it lands
    * in. The offsets come from [[Prefix.withRunningSums]] — the
    * distributed two-pass prefix sum — so packing a 100 TB corpus is two
    * balanced shuffles, never a single-task global window.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val toks = df.select(col(idCol),
      size(words(textCol)).cast("long").as("n_tokens"))
    Prefix.withRunningSums(toks, idCol, Seq("n_tokens" -> "_cum"))
      .select(col(idCol), col("n_tokens"),
        (col("_cum") - col("n_tokens")).as("start_off"))
      .withColumn("first_window",
        floor(col("start_off") / capacity).cast("long"))
      .withColumn("last_window",
        floor((col("start_off") + col("n_tokens") - 1) / capacity).cast("long"))
  }

  /** Token-budget selection (the "take the best N billion tokens" cut):
    * rank documents by `priorityCol` ascending (ties broken by `idCol`,
    * so the kept set is reproducible across engines and reruns) and keep
    * the maximal prefix whose cumulative token count fits `budget`.
    * Greedy-prefix semantics: the first document that overflows the
    * budget is dropped and NO later document is considered — later
    * smaller docs backfilling the gap would make the kept set depend on
    * the whole tail, not a prefix.
    *
    * The cumulative count comes from [[Prefix.withRunningSums]], so the
    * cut is two balanced shuffles at any corpus size — never a
    * single-task global window.
    */
  def selectToBudget(df: DataFrame, idCol: String, textCol: String,
      budget: Long, priorityCol: String): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    // Null-text rows are excluded (same policy as splitAssign's null
    // keys): a null token count would ride the previous row's running
    // sum through the filter and appear "selected" while consuming no
    // budget.
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(priorityCol),
        size(words(textCol)).cast("long").as("n_tokens"))
    Prefix.withRunningSums(toks, priorityCol,
        Seq("n_tokens" -> "_cum"), tieCols = Seq(idCol))
      .filter(col("_cum") <= budget)
      .select(col(idCol), col("n_tokens"), col("_cum").as("cum_tokens"))
  }

  /** Byte-pair-encoding merge learning, the core loop of tokenizer
    * training: start from characters, repeatedly count adjacent symbol
    * pairs across every word occurrence in the corpus and merge the most
    * frequent pair (ties broken by pair text, so the learned table is
    * deterministic). Returns the merge table — one row per round:
    * (round, left, right, n) — which IS the tokenizer artifact a real
    * pipeline ships.
    *
    * Training runs on the word-frequency table — one row per DISTINCT
    * word carrying its occurrence count, pair counts as weighted sums —
    * holding the DOUBLE-space-joined symbol
    * string `"  c1  c2  …  ck  "`; a merge is a literal `replace` of
    * `" l  r "` with `" lr "`. The double-space separator is what makes
    * one literal replace EXACTLY the canonical greedy left-to-right
    * non-overlapping BPE pass: each match consumes one of the two
    * boundary spaces on each side, leaving one for the adjacent
    * occurrence — with single spaces, back-to-back occurrences share a
    * delimiter and every second one is skipped (`xyxy` would tokenize
    * [xy, x, y] instead of [xy, xy]). Identical `replace` semantics in
    * every engine. Each round is one partial-aggregated count shuffle
    * over (pair) plus a driver argmax of ONE row (the contractually-tiny
    * collect pattern); the corpus never leaves the cluster, and each
    * round's vocabulary is [[OpCaches.materialize]]d (a checkpoint, so
    * the round's plan stays one leaf deep and the superseded round's
    * blocks go with the ContextCleaner) — at 100 TB the counts shuffle
    * carries distinct pairs, not occurrences.
    */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds > 0, s"bpeMerges: rounds must be positive, got $rounds")
    val spark = df.sparkSession
    var corpus = df
      .select(explode(words(textCol)).as("w"))
      .filter(col("w") =!= "")
      // Train on the WORD-FREQUENCY TABLE, not occurrences (the textbook
      // BPE shape): identical words merge identically, so one weighted
      // row per distinct word gives bit-identical pair counts while
      // every round's scan, replace and shuffle run on the VOCABULARY
      // relation — at 100 TB that is ~10M rows instead of ~10T word
      // occurrences (measured 4.0 s → sub-second at sf0.1). Costs one
      // extra count shuffle up front.
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      // split(w, "") keeps one trailing "" (Java split limit -1) — remove
      // it or every word ends with a phantom empty symbol.
      .select(concat(lit("  "),
        concat_ws("  ", array_remove(split(col("w"), ""), "")),
        lit("  ")).as("s"), col("cnt"))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // Lazy: the round's first read is its pair count, which computes it.
      val cached = OpCaches.materialize(corpus, eager = false)
      val t = split(trim(col("s")), "  ")
      val top = cached
        .select(col("cnt"), explode(arrays_zip(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1))).as("p"))
        .select(col("p.0").as("l"), col("p.1").as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        val (l, rt, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((r, l, rt, n))
        corpus = cached.select(replace(col("s"),
          lit(s" $l  $rt "), lit(s" $l$rt ")).as("s"), col("cnt"))
        r += 1
      }
    }
    import spark.implicits._
    merges.result().toDF("round", "left", "right", "n")
      .select(col("round").cast("long"), col("left"), col("right"), col("n"))
  }

  /** Apply a learned merge table (from [[bpeMerges]], or any
    * (left, right) sequence in merge order) to tokenize documents:
    * every word is decomposed to characters and the merges replayed in
    * training order — the standard BPE inference rule. Adds
    * `n_bpe_tokens` (symbols after merging, summed over words) and
    * `n_chars_alpha` (symbols before merging = non-space chars), so the
    * compression the tokenizer bought is measurable per document. The
    * merge table is driver-side (tokenizer artifacts are KBs); the
    * per-document work is a pure expression chain — shuffle-free,
    * scan-fused at any corpus size.
    */
  def applyBpe(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // Same double-space separator scheme as [[bpeMerges]] — one literal
    // replace per merge IS the canonical greedy non-overlapping pass.
    val decomposed = transform(words(textCol), w =>
      concat(lit("  "), concat_ws("  ", array_remove(split(w, ""), "")),
        lit("  ")))
    val merged = merges.foldLeft(decomposed) { case (c, (l, r)) =>
      transform(c, s => replace(s, lit(s" $l  $r "), lit(s" $l$r ")))
    }
    df.withColumn("n_bpe_tokens",
        aggregate(merged, lit(0L),
          (acc, s) => acc + size(split(trim(s), "  "))))
      .withColumn("n_chars_alpha",
        aggregate(words(textCol), lit(0L), (acc, w) => acc + length(w)))
  }

  /** Disjoint train/validation/test assignment: each row gets a `split`
    * label, decided only by `md5(key || '|' || salt)` against the
    * cumulative-fraction boundaries — the same engine-portable hash rule
    * as [[Sampling]] (see its scaladoc for determinism and granularity),
    * so the partition is stable across engines, partitionings and
    * reruns, and any SQL oracle re-derives it. Pure map-side projection:
    * no shuffle, fuses into the scan at any scale. Fractions must sum to
    * 1 (the last split absorbs the 1/65536-granularity remainder);
    * null-key rows are excluded per the Sampling null policy.
    */
  def splitAssign(df: DataFrame, keyCol: String,
      splits: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "splitAssign: need at least one split")
    require(splits.map(_._1).distinct.size == splits.size,
      s"splitAssign: duplicate split names in ${splits.map(_._1)}")
    splits.foreach { case (name, f) =>
      require(f > 0.0 && f <= 1.0, s"split '$name' fraction $f not in (0, 1]") }
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"splitAssign: fractions sum to $total, expected 1.0")
    val hex = Sampling.hexOf(col(keyCol), salt)
    // Boundaries at cumulative fractions; the final split is the
    // otherwise-branch, so every hash value lands somewhere.
    val bounds = splits.init.scanLeft(0.0) { case (acc, (_, f)) => acc + f }
      .tail.map(c => f"${math.floor(c * 65536).toInt}%04x")
    val assigned = splits.init.zip(bounds)
      .foldLeft(when(lit(false), lit(""))) {
        case (acc, ((name, _), b)) => acc.when(hex < lit(b), name)
      }.otherwise(splits.last._1)
    df.filter(col(keyCol).isNotNull).withColumn("split", assigned)
  }

  /** Deterministic epoch shuffle: a seeded md5 draw per row defines a
    * reproducible pseudo-random TOTAL order (the training-epoch shuffle
    * every loader needs), and the distributed prefix index densifies it
    * into a 1-based `shuffle_pos`. Same engine-portable draw rule as
    * [[Sampling.deterministicSample]] (md5 of key + salt — identical hex
    * on any engine), but over the FULL 32-hex digest so the permutation
    * is uniform; md5 ties (astronomically rare) break on `idCol`. A new
    * `seed` is a fresh independent permutation (one per epoch); the same
    * seed reproduces the same order at any parallelism on any cluster.
    *
    * Scale: the global position rides [[Prefix.withRunningSums]] — two
    * balanced shuffles and an O(#partitions) driver prefix, never the
    * partition-less `row_number()` window that funnels the corpus into
    * one task. Downstream writes that need the physical layout to match
    * the logical order sort by `shuffle_pos` range-partitioned, which
    * Spark plans as one more balanced range exchange.
    */
  def shuffleOrder(df: DataFrame, idCol: String, seed: String): DataFrame = {
    val drawn = df.withColumn("_draw",
      md5(concat(col(idCol).cast("string"), lit("|"), lit(seed))))
    Prefix.withRunningSums(drawn, "_draw", Nil,
        idxCol = "shuffle_pos", tieCols = Seq(idCol))
      .drop("_draw")
  }

  /** Write the corpus as token-bounded TRAINING SHARDS plus a manifest —
    * the sink step after curation: documents (in `idCol` order) are
    * assigned to the shard containing their FIRST token
    * (floor(start_offset / tokensPerShard), document-atomic — a shard
    * may overrun by one document's tail, the standard contract when
    * documents are not split), written as one partition directory per
    * shard, and the returned manifest carries per-shard document and
    * token totals.
    *
    * Scale: the start offsets ride [[Prefix.withRunningSums]] (two
    * balanced shuffles, no single-task stage); the write is a dynamic
    * `partitionBy(shard)` append-shape — each task touches only the
    * shard directories its rows land in; the manifest aggregate is one
    * partial-aggregated shuffle on the shard id.
    */
  def writeShards(df: DataFrame, idCol: String, textCol: String,
      path: String, tokensPerShard: Long): DataFrame = {
    require(tokensPerShard > 0,
      s"tokensPerShard must be positive, got $tokensPerShard")
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol),
        size(words(textCol)).cast("long").as("n_tokens"))
    val sharded = Prefix.withRunningSums(toks, idCol, Seq("n_tokens" -> "_cum"))
      .withColumn("shard",
        floor((col("_cum") - col("n_tokens")) / tokensPerShard).cast("long"))
    sharded.select(col(idCol), col(textCol), col("n_tokens"), col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$path/data")
    val manifest = sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("shard")
    manifest.write.mode("overwrite").parquet(s"$path/manifest")
    manifest
  }

  /** Domain-mixture sampling — "re-balance the corpus to the target
    * per-domain token weights": for each group g (language, source
    * domain) with weight w_g, keep the greedy prefix of g's documents —
    * ordered by a deterministic per-document md5 draw (salted, ties by
    * `idCol`), i.e. a reproducible shuffle — whose cumulative token
    * count fits `floor(w_g * budget)`. Same greedy-prefix semantics as
    * [[selectToBudget]] (the first overflowing document is dropped and
    * nothing backfills), applied independently per group; groups absent
    * from `weights` are excluded entirely.
    *
    * Scale: the per-group cumulative count comes from the GROUPED
    * [[Prefix.withRunningSums]] — a `PARTITION BY group` window would
    * funnel each domain into one task (five languages at 100 TB = five
    * straggler tasks); the grouped prefix sum keeps both shuffles
    * balanced because hot groups span many range partitions. The weight
    * table joins in as a broadcast literal.
    */
  def sampleToMixture(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, weights: Seq[(String, Double)], budget: Long,
      salt: String = "mix"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(weights.nonEmpty, "sampleToMixture: need at least one weight")
    require(weights.map(_._1).distinct.size == weights.size,
      s"sampleToMixture: duplicate groups in ${weights.map(_._1)}")
    weights.foreach { case (g, w) =>
      require(w > 0.0, s"group '$g' weight $w must be positive") }
    val caps = weights.map { case (g, w) =>
      (g, math.floor(w * budget).toLong) }
    val capDf = df.sparkSession.createDataFrame(caps)
      .toDF(groupCol, "_cap")
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol), col(groupCol),
        substring(md5(concat(col(idCol).cast("string"), lit("|"), lit(salt))),
          1, 8).as("_draw"),
        size(words(textCol)).cast("long").as("n_tokens"))
    Prefix.withRunningSums(toks, "_draw", Seq("n_tokens" -> "_cum"),
        tieCols = Seq(idCol), groupCols = Seq(groupCol))
      .join(broadcast(capDf), groupCol)
      .filter(col("_cum") <= col("_cap"))
      .select(col(idCol), col(groupCol), col("n_tokens"),
        col("_cum").as("cum_tokens"))
  }
}
