package graft

import graft.operators.{TextAnalysis, TextDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Corpus with planted near-duplicates: (1,2) differ by one word,
    * (3,4) identical, 5..N unrelated random docs.
    */
  private def corpus(n: Int = 60) = {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "pi")
    val base = Seq.fill(40)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val nearDup = base.replaceFirst("alpha|beta|gamma|delta", "omega")
    val docs = Seq((1L, base), (2L, nearDup), (3L, "copy me twice exactly now " * 8),
      (4L, "copy me twice exactly now " * 8)) ++
      (5L to n.toLong).map(i =>
        i -> Seq.fill(40)(vocab(rng.nextInt(vocab.size)) + i).mkString(" "))
    docs.toDF("doc_id", "text").repartition(7)
  }

  test("minhash LSH finds planted near-dups and nothing random") {
    val pairs = TextDedup.minhashNearDups(corpus(), "doc_id", "text",
        threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"missed the planted near-dup: $pairs")
    assert(pairs.contains((3L, 4L)), s"missed the exact dup: $pairs")
    assert(pairs.size == 2, s"false positives: $pairs")
  }

  test("minhash jaccard estimate is faithful to exact jaccard") {
    val out = TextDedup.minhashNearDups(corpus(), "doc_id", "text", threshold = 0.5)
      .filter(col("id_a") === 3 && col("id_b") === 4).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 1.0)
  }

  test("simhash: identical docs share signatures; near-dups within hamming 3") {
    val sigs = corpus().select(col("doc_id"), TextDedup.simhash64(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(3L) == sigs(4L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 6,
      "one-word edit must stay hamming-close")
    val pairs = TextDedup.simhashNearDups(corpus(), "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 4L)))
  }

  test("ngram jaccard: identity 1.0, unrelated near 0") {
    import spark.implicits._
    val df = Seq(("same text here", "same text here"),
      ("completely different words", "nothing in common at all xyz"))
      .toDF("a", "b")
    val out = df.select(TextDedup.ngramJaccard(col("a"), col("b"), 3)).collect()
    assert(out(0).getDouble(0) == 1.0)
    assert(out(1).getDouble(0) < 0.2)
  }

  test("compiled kernels are bit-identical to the HOF formulas") {
    import spark.implicits._
    // Edge shapes alongside real docs: leading/trailing/multi whitespace
    // (split() produces empty leading tokens), text shorter than k/n,
    // unicode multi-byte chars, single token, repeated shingles.
    val edges = Seq(
      (9001L, "  leading space"), (9002L, "trailing tab\t"), (9003L, "x"),
      (9004L, "héllo wörld héllo wörld héllo wörld"), (9005L, "a a a a a a"),
      (9006L, "短 文 中 文"), (9007L, "one two"), (9008L, "tabs\t\tand  runs"))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text").limit(200).unionByName(edges)
    val fpFast = TextAnalysis.withFingerprints(docs, "text")
      .select("doc_id", "fp_rolling", "fp_set").collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fpHof = TextAnalysis.withFingerprintsHof(docs, "text")
      .select("doc_id", "fp_rolling", "fp_set").collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fpFast == fpHof, "fingerprint kernel/HOF divergence")
    val cmp = docs.select(
      TextDedup.shingleHashes(col("text"), 3).as("sh_fast"),
      TextDedup.shingleHashesHof(col("text"), 3).as("sh_hof"),
      TextDedup.simhash64(col("text")).as("sim_fast"),
      TextDedup.simhash64Hof(col("text")).as("sim_hof"),
      TextDedup.ngramJaccard(col("text"), reverse(col("text")), 5).as("jac_fast"),
      TextDedup.ngramJaccardHof(col("text"), reverse(col("text")), 5).as("jac_hof"))
      .withColumn("sig_fast", TextDedup.minhashSignature(col("sh_fast"), 64))
      .withColumn("sig_hof", TextDedup.minhashSignatureHof(col("sh_hof"), 64))
    val bad = cmp.filter(
      col("sh_fast") =!= col("sh_hof") || col("sim_fast") =!= col("sim_hof") ||
        col("sig_fast") =!= col("sig_hof") ||
        !(col("jac_fast") === col("jac_hof") ||
          (isnan(col("jac_fast")) && isnan(col("jac_hof")))))
    assert(bad.count() == 0, s"kernel/HOF divergence: ${bad.head(3).mkString("; ")}")
    // And with an odd numHashes/seed so params beyond the default are covered.
    val bad2 = docs.select(TextDedup.shingleHashes(col("text"), 2).as("sh"))
      .select(TextDedup.minhashSignature(col("sh"), 48, seed = 99L).as("f"),
        TextDedup.minhashSignatureHof(col("sh"), 48, seed = 99L).as("h"))
      .filter(col("f") =!= col("h"))
    assert(bad2.count() == 0)
  }

  test("MinhashSigExpr: structural equality and null-element skipping") {
    import spark.implicits._
    import graft.functions.{MinhashSigExpr, TextHashOps}
    import org.apache.spark.sql.graftbridge.Bridge
    // Same params must compare equal (Seq, not Array, so canonicalization /
    // semanticEquals / CSE see repeated minhash calls as one expression).
    val c = Bridge.expr(col("sh"))
    val e1 = MinhashSigExpr(c, IndexedSeq(3L, 5L, 7L, 11L))
    val e2 = MinhashSigExpr(c, IndexedSeq(3L, 5L, 7L, 11L))
    assert(e1 == e2 && e1.semanticEquals(e2),
      "identical-param MinhashSigExpr instances must be structurally equal")
    // A null element behaves like the HOF formulation: pmod(null)·a+b → null,
    // which least() ignores — so nulls must not perturb the signature.
    val withNull = Seq(Tuple1(Seq[java.lang.Long](17L, null, 23L)))
      .toDF("sh")
    val without = Seq(Tuple1(Seq[java.lang.Long](17L, 23L))).toDF("sh")
    val ab = Array(3L, 5L, 7L, 11L)
    val sigN = withNull.select(TextHashOps.minhashSig(col("sh"), ab)).head().getSeq[Long](0)
    val sig0 = without.select(TextHashOps.minhashSig(col("sh"), ab)).head().getSeq[Long](0)
    assert(sigN == sig0, "null shingle elements must be skipped, not hashed as 0")
  }

  test("skew guard: oversized buckets yield HUB pairs, never the quadratic join") {
    import spark.implicits._
    // 300 identical docs → every band bucket has 300 members; with
    // maxBucket=64 the hub guard (r18 — the pre-r18 guard DROPPED these
    // buckets and lost every near-identical-family pair at ×1000) must
    // emit exactly the linear hub pairs (min id 1 vs each other member),
    // never 300²/2, and must still catch the small planted pair.
    val boiler = (1L to 300L).map(i => i -> "the same boilerplate text repeated everywhere")
    val planted = Seq(400L -> "unique snowflake document alpha beta gamma delta epsilon zeta eta",
      401L -> "unique snowflake document alpha beta gamma delta epsilon zeta omega")
    val df = (boiler ++ planted).toDF("doc_id", "text").repartition(5)
    val pairs = TextDedup.minhashNearDups(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (2L to 300L).map(i => (1L, i)).toSet + ((400L, 401L))
    assert(pairs == expected,
      s"hub guard failed: ${pairs.size} pairs (expected ${expected.size})")
    // Keep-min dedup over these pairs still keeps exactly {1, 400}.
    val dropped = pairs.map(_._2)
    assert(!dropped.contains(1L) && !dropped.contains(400L))
    assert((2L to 300L).forall(dropped.contains) && dropped.contains(401L))
  }

  test("simhash skew guard drops pathological chunk buckets, keeps small pairs") {
    import spark.implicits._
    // 300 identical docs → every (chunk, value) bucket holds 300 members;
    // with maxBucket=64 the LSH pass must return no boilerplate pairs
    // (exact dedup covers them) but still catch a planted 2-doc bucket.
    val boiler = (1L to 300L).map(i => i -> "the same boilerplate text repeated everywhere")
    val planted = Seq(
      400L -> "unique snowflake document alpha beta gamma delta epsilon",
      401L -> "unique snowflake document alpha beta gamma delta epsilon")
    val df = (boiler ++ planted).toDF("doc_id", "text").repartition(5)
    val pairs = TextDedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((400L, 401L)), s"skew guard failed: ${pairs.size} pairs")
  }

  test("language id picks the profile language on clear text") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat of the mat and it is that for a reason"),
      (2L, "le chat est dans la maison et il est pour que un jour"),
      (3L, "qqq www eee rrr")).toDF("doc_id", "text")
    val out = TextAnalysis.withLanguageId(df, "text")
      .select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "fr")
    assert(out(3L) == "und")
  }

  test("language id kernel is bit-identical to the HOF formulation") {
    import spark.implicits._
    // Edge shapes where the kernel's merged-gram-namespace and short-text
    // window handling must mirror the HOF exactly: empty text, 1-2 char
    // texts (the "trigram" window IS the unigram — must count once), CJK,
    // mixed case (lowering), repeated tokens (raw vs distinct counting),
    // plus real documents.
    val edges = Seq(
      (9001L, ""), (9002L, "的"), (9003L, "ab"), (9004L, "的是"),
      (9005L, "THE The the"), (9006L, "le the el der 的"),
      (9007L, "  spaces   everywhere  "), (9008L, "短文中文的是不在人有我他这中"))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text").limit(200).unionByName(edges)
    val langs = TextAnalysis.stopwordProfiles.keys.toSeq.sorted
    val cols = "lang_pred" +: langs.map(l => s"score_$l")
    val fast = TextAnalysis.withLanguageId(docs, "text")
      .select("doc_id", cols: _*).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val hof = TextAnalysis.withLanguageIdHof(docs, "text")
      .select("doc_id", cols: _*).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(fast.keySet == hof.keySet)
    val bad = fast.keys.filter(k => fast(k) != hof(k)).toSeq.sorted
    assert(bad.isEmpty,
      s"kernel/HOF divergence on ${bad.take(3).map(k => s"$k: ${fast(k)} vs ${hof(k)}")}")
  }

  test("gram arrays: no empty unigram; lengths pinned") {
    import spark.implicits._
    val df = Seq("abc", "aab", "的是", "x", "a b", "abcdabcd").toDF("t")
      .select(size(TextAnalysis.unigrams(col("t"))).as("u"),
        size(TextAnalysis.trigrams(col("t"))).as("g"),
        array_contains(TextAnalysis.unigrams(col("t")), "").as("has_empty"))
      .collect()
    // distinct chars: abc→3, aab→2, 的是→2, x→1, "a b"→3 (space is a char),
    // abcdabcd→4
    assert(df.map(_.getInt(0)).toSeq == Seq(3, 2, 2, 1, 3, 4))
    // trigram windows max(len-2,1), then distinct: abcdabcd has 6 windows
    // but only 4 distinct (abc,bcd,cda,dab repeat)
    assert(df.map(_.getInt(1)).toSeq == Seq(1, 1, 1, 1, 1, 4))
    assert(df.forall(!_.getBoolean(2)), "empty-string gram must be removed")
  }

  test("gram profiles are length-consistent and zh fires on unsegmented CJK") {
    import spark.implicits._
    TextAnalysis.gramProfiles.foreach { case (lang, (n, grams)) =>
      grams.foreach(g => assert(g.length == n, s"$lang gram '$g' not length $n"))
    }
    val df = Seq((1L, "我有他的这是不在人中")).toDF("doc_id", "text")
    val pred = TextAnalysis.withLanguageId(df, "text")
      .select("lang_pred").head().getString(0)
    assert(pred == "zh")
  }

  test("operator caches are tracked and releasable; results unchanged after release") {
    import graft.operators.OpCaches
    OpCaches.releaseAll(spark)
    val before = TextDedup.minhashNearDups(corpus(), "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(OpCaches.trackedCount(spark) > 0, "minhash must register its persists")
    OpCaches.releaseAll(spark)
    assert(OpCaches.trackedCount(spark) == 0)
    val after = TextDedup.minhashNearDups(corpus(), "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    OpCaches.releaseAll(spark)
    assert(after == before)
  }

  test("fingerprints: whitespace-insensitive rolling hash, order-free set hash") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha  beta   gamma"),
      (3L, "gamma beta alpha")).toDF("doc_id", "text")
    val out = TextAnalysis.withFingerprints(df, "text")
      .select("doc_id", "fp_rolling", "fp_set").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._1 == out(2L)._1, "rolling fp must ignore extra whitespace")
    assert(out(1L)._1 != out(3L)._1, "rolling fp is order-sensitive")
    assert(out(1L)._2 == out(3L)._2, "set fp is order-free")
  }

  test("pii redaction: planted email/ip/phone hit, clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to jane.doe+x@corp.example.co from 192.168.0.1 or call +44 123-4567 today"),
      (2L, "no pii here 1.2.3 not an ip 12345"),
      (3L, "a@b.io c@d.org 10.0.0.1 8.8.8.8")).toDF("doc_id", "text")
    val out = TextAnalysis.withPiiRedacted(df, "text")
      .select("doc_id", "n_email", "n_ipv4", "n_phone", "redacted")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getString(4))).toMap
    assert(out(1L)._1 == ((1L, 1L, 1L)))
    assert(out(1L)._2 ==
      "write to <EMAIL> from <IP> or call <PHONE> today")
    assert(out(2L)._1 == ((0L, 0L, 0L)))
    assert(out(2L)._2 == "no pii here 1.2.3 not an ip 12345")
    assert(out(3L)._1 == ((2L, 2L, 0L)))
    assert(out(3L)._2 == "<EMAIL> <EMAIL> <IP> <IP>")
  }

  // The operators' fixed-point unit: floor(log2(k)·1e6 + 0.5) micro-bits
  // of an integer count (TextAnalysis.microLog2).
  private def mb(k: Long): Long =
    math.floor(math.log(k.toDouble) / math.log(2.0) * 1e6 + 0.5).toLong

  test("unigram surprisal: corpus-frequency micro-bits; maxVocab OOV fallback") {
    import spark.implicits._
    // Counts: a:2, b:2, c:2, N=6 → common tokens cost mb(6)-mb(2),
    // OOV fallback (count 1) costs mb(6)-mb(1) = full log2(N).
    val df = Seq((1L, "a a b"), (2L, "b c c")).toDF("doc_id", "text")
    val common = mb(6) - mb(2)
    val oov = mb(6) - mb(1)
    def grab(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val full = grab(TextAnalysis.withUnigramSurprisal(df, "doc_id", "text"))
    assert(full(1L) == ((3L, 3 * common, 3 * common / 3e6)))
    assert(full(2L) == ((3L, 3 * common, 3 * common / 3e6)))
    // maxVocab=2 keeps {a, b} (count desc, token asc); c becomes OOV.
    val bounded = grab(TextAnalysis.withUnigramSurprisal(df, "doc_id", "text",
      maxVocab = 2))
    assert(bounded(1L) == ((3L, 3 * common, 3 * common / 3e6)))
    assert(bounded(2L) == ((3L, common + 2 * oov, (common + 2 * oov) / 3e6)))
  }

  test("incremental near-dup: cross pairs only, batch-internal dups ignored") {
    import spark.implicits._
    val base = corpus()  // docs 1..60: (1,2) near-dup, (3,4) identical
    val old = base.filter($"doc_id" <= 2 || $"doc_id" >= 5)
    val batchDocs = base.filter($"doc_id" === 3 || $"doc_id" === 4)
      // doc 61: near-dup of corpus doc 1 (one word changed).
      .union(Seq((61L, base.filter($"doc_id" === 1).head().getString(1)
        .replaceFirst("\\w+", "changed"))).toDF("doc_id", "text"))
    val got = TextDedup.minhashNearDupsAgainst(old, batchDocs,
        "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((61L, 1L)), s"planted cross near-dup missed: $got")
    // 3 and 4 are identical but BOTH in the batch → never reported.
    assert(!got.exists(p => p._1 == 3L || p._1 == 4L),
      s"batch-internal pair leaked into cross results: $got")
    graft.operators.OpCaches.releaseAll(spark)
  }

  test("incremental near-dup: exact dup of oversized-bucket boilerplate still caught") {
    import spark.implicits._
    // 80 identical corpus docs -> every band bucket holds 80 > maxBucket=16,
    // so the LSH path drops them all; the exact-digest pass must still
    // surface the batch doc that equals the boilerplate.
    val boiler = "terms of service apply to all users of this site " +
      "please read carefully before proceeding with registration today"
    val old = (1L to 80L).map(i => i -> boiler).toDF("doc_id", "text")
    val batchDocs = Seq(200L -> boiler, 201L -> "something genuinely new here")
      .toDF("doc_id", "text")
    val got = TextDedup.minhashNearDupsAgainst(old, batchDocs,
        "doc_id", "text", threshold = 0.8, maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size == 80 && got.forall(_._1 == 200L),
      s"exact-digest pass must pair doc 200 with all 80 boilerplate docs: ${got.size}")
    graft.operators.OpCaches.releaseAll(spark)
  }

  test("bigram surprisal: conditional bits; sub-2-token docs drop out") {
    import spark.implicits._
    // Bigrams: doc1 (a,b)(b,a)(a,c), doc2 (c,a); prev counts a:2 b:1 c:1
    // → P(b|a)=P(c|a)=1/2 cost 1 bit = mb(2) micro-bits, P(a|b)=P(a|c)=1
    // cost 0.
    val df = Seq((1L, "a b a c"), (2L, "c a"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.withBigramSurprisal(df, "doc_id", "text")
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L), "single-token doc must drop out")
    assert(out(1L) == ((3L, 2 * mb(2), 2 * mb(2) / 3e6)))
    assert(out(2L) == ((1L, 0L, 0.0)))
  }

  test("tf-idf top-k: exact-integer micro-score ranking with deterministic tie-break") {
    import spark.implicits._
    val df = Seq((1L, "x x y"), (2L, "y z"), (3L, "z z z w"))
      .toDF("doc_id", "text")
    val idf1 = mb(3) - mb(1)  // idf of df=1 terms: log2(3/1) micro-bits
    val idf2 = mb(3) - mb(2)  // idf of df=2 terms: log2(3/2) micro-bits
    val out = TextAnalysis.withTfIdfTopK(df, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getDouble(3)))
      .toMap
    assert(out((1L, 1L)) == (("x", 2 * idf1 / 1e6)))
    assert(out((1L, 2L)) == (("y", idf2 / 1e6)))
    // doc2: y and z tie exactly (same tf, same df) → term asc breaks it.
    assert(out((2L, 1L)) == (("y", idf2 / 1e6)))
    assert(out((2L, 2L)) == (("z", idf2 / 1e6)))
    assert(out((3L, 1L)) == (("z", 3 * idf2 / 1e6)))
    assert(out((3L, 2L)) == (("w", idf1 / 1e6)))
  }

  test("repeatedSpans: planted cross-doc span, occurrence counts, short docs absent") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "one TWO three four five six"),          // span x1 (case-folded)
      (2L, "one two three four five x"),            // span x1
      (3L, "one two three four five one two three four five"), // span x2
      (4L, "r r r r r r"),   // intra-doc repeat only: 1 distinct doc
      (5L, "too short")      // < 5 tokens: no spans at all
    ).toDF("doc_id", "text")
    val got = TextDedup.repeatedSpans(docs, "doc_id", "text", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // Only the planted span crosses documents; doc 4's self-repeat and
    // every other window stay below minDocs.
    assert(got.toSeq == Seq(("one two three four five", 3L, 4L)))
    assert(TextDedup.repeatedSpans(docs, "doc_id", "text", k = 5, minDocs = 4)
      .collect().isEmpty)
    intercept[IllegalArgumentException] {
      TextDedup.repeatedSpans(docs, "doc_id", "text", k = 1) }
  }

  test("spanShareStats: hand-computed sharing profile; distinct within doc") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six"),  // spans: planted + 1 unique
      (2L, "one two three four five x"),    // spans: planted + 1 unique
      (3L, "zz yy xx ww vv"),               // 1 span, unshared
      (4L, "r r r r r r"),                  // 2 occurrences, 1 DISTINCT span
      (5L, "tiny")                          // no spans: absent
    ).toDF("doc_id", "text")
    val got = TextDedup.spanShareStats(docs, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 0L, 0.0)))
    // doc 4: its only DISTINCT span lives in one document → unshared.
    assert(got(4L) == ((1L, 0L, 0.0)))
  }

  test("dedup index lifecycle: build + append equals the recompute path; meta pins params") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val mk = (id: Long, t: String) => (id, t)
    val corpusA = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog near the old mill"),
      mk(2L, "completely unrelated words about columnar engines and shuffles")
    ).toDF("doc_id", "text")
    val corpusB = Seq(
      mk(3L, "a third corpus document with its own distinctive word stream here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      mk(10L, "the quick brown fox jumps over the lazy dog near the old mill"), // exact dup of 1
      mk(11L, "a third corpus document with its own distinctive word stream there"), // near-dup of 3 (appended!)
      mk(12L, "nothing like anything stored in the index at all whatsoever today")
    ).toDF("doc_id", "text")
    TempDirs.withTempDir("graft_dedup_idx_spec") { tmp =>
      val path = tmp.toString
      TextDedup.buildDedupIndex(corpusA, "doc_id", "text", path)
      TextDedup.appendDedupIndex(corpusB, "doc_id", "text", path)
      val viaIndex = TextDedup.nearDupsAgainstIndex(batch, "doc_id", "text", path)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val recompute = TextDedup.minhashNearDupsAgainst(
          corpusA.union(corpusB), batch, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaIndex == recompute, s"index path diverged: $viaIndex vs $recompute")
      assert(viaIndex.map(p => (p._1, p._2)).contains((10L, 1L)),
        "exact dup of a BUILT doc must surface")
      assert(viaIndex.map(p => (p._1, p._2)).contains((11L, 3L)),
        "near-dup of an APPENDED doc must surface")
      assert(!viaIndex.exists(_._1 == 12L), "the fresh doc must not match")
      // meta pins the build parameters for append/query.
      val meta = spark.read.parquet(s"$path/meta").head()
      assert((meta.getInt(0), meta.getInt(1), meta.getInt(2)) == ((64, 16, 3)))
    }
  }

  test("dedupChunksExact: first occurrence wins, docs rebuilt, full dups vanish") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // chunkTokens = 2. doc 1 owns both chunks; doc 2 repeats doc 1's
    // first chunk then adds its own; doc 3 is entirely doc 1 (case-
    // folded) → fully dropped; doc 4 repeats a chunk WITHIN itself.
    val docs = Seq(
      (1L, "a b c d"),        // chunks: "a b", "c d"
      (2L, "a b x y"),        // "a b" dropped, "x y" kept
      (3L, "A B C D"),        // both chunks seen at doc 1 → empty
      (4L, "p q p q p"),      // "p q", "p q", "p" → intra-doc repeat drops
      (5L, "c d")             // doc 1 already owns "c d" → empty
    ).toDF("doc_id", "text")
    val got = TextDedup.dedupChunksExact(docs, "doc_id", "text", chunkTokens = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((2L, 2L, "a b c d")))
    assert(got(2L) == ((2L, 1L, "x y")))
    assert(got(3L) == ((2L, 0L, "")))
    assert(got(4L) == ((3L, 2L, "p q p")))
    assert(got(5L) == ((1L, 0L, "")))
    intercept[IllegalArgumentException] {
      TextDedup.dedupChunksExact(docs, "doc_id", "text", chunkTokens = 0) }
  }

  test("exact similarity join equals brute force (prefix filter loses nothing)") {
    val docs = corpus(40)
    val got = TextDedup
      .exactSimilarityJoin(docs, "doc_id", "text", k = 3, threshold = 0.4)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("uni")))
      .toMap
    // brute force over the same shingle sets, computed locally
    val rows = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    def shingles(t: String): Set[String] = {
      val w = t.toLowerCase.split(" ", -1)
      if (w.length <= 3) Set(w.mkString(" "))
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> shingles(t) }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      uni = (sets(a) | sets(b)).size
      if uni > 0 && inter.toDouble / uni >= 0.4
    } yield (a, b) -> (inter.toLong, uni.toLong)).toMap
    assert(got === want, s"got=${got.keySet} want=${want.keySet}")
    assert(want.contains((1L, 2L)) && want.contains((3L, 4L)),
      "fixture must contain the planted pairs")
    intercept[IllegalArgumentException] {
      TextDedup.exactSimilarityJoin(docs, "doc_id", "text", threshold = 0.0) }
  }

  test("asymmetric exact similarity join equals brute-force cross pairs") {
    val docs = corpus(40)
    // split so the planted pairs (1,2) and (3,4) STRADDLE corpus/batch
    val corpusSide = docs.filter(col("doc_id") % 2 === 1) // 1, 3, 5...
    val batchSide = docs.filter(col("doc_id") % 2 === 0)  // 2, 4, 6...
    val got = TextDedup
      .exactSimilarityJoinAgainst(corpusSide, batchSide, "doc_id", "text",
        k = 3, threshold = 0.4)
      .collect()
      .map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("batch_id")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("uni")))
      .toMap
    val rows = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    def shingles(t: String): Set[String] = {
      val w = t.toLowerCase.split(" ", -1)
      if (w.length <= 3) Set(w.mkString(" "))
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> shingles(t) }.toMap
    val want = (for {
      a <- sets.keys if a % 2 == 1
      b <- sets.keys if b % 2 == 0
      inter = (sets(a) & sets(b)).size
      uni = (sets(a) | sets(b)).size
      if uni > 0 && inter.toDouble / uni >= 0.4
    } yield (a, b) -> (inter.toLong, uni.toLong)).toMap
    assert(got === want, s"got=${got.keySet} want=${want.keySet}")
    assert(want.contains((1L, 2L)) && want.contains((3L, 4L)),
      "fixture must plant straddling pairs")
  }

  test("containment join equals brute force; catches a quote Jaccard misses") {
    import spark.implicits._
    // doc 100 is a verbatim QUOTE of doc 1's first ten words inside
    // unrelated text: high containment of 100 in 1 — and low Jaccard.
    val base = corpus(30).collect().map(r => r.getLong(0) -> r.getString(1))
    val quote = base.find(_._1 == 1L).get._2.split(" ").take(10).mkString(" ")
    val docs = (base :+ (100L -> quote)).toSeq
      .toDF("doc_id", "text").repartition(5)
    val got = TextDedup.containmentJoin(docs, "doc_id", "text",
        k = 3, threshold = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        r.getAs[Long]("inter"))
      .toMap
    def shingles(t: String): Set[String] = {
      val w = t.toLowerCase.split(" ", -1)
      if (w.length <= 3) Set(w.mkString(" "))
      else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = (base :+ (100L -> quote)).map { case (id, t) => id -> shingles(t) }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a != b
      inter = (sets(a) & sets(b)).size
      if inter.toDouble / sets(a).size >= 0.8
    } yield (a, b) -> inter.toLong).toMap
    assert(got === want, s"got=${got.keySet} want=${want.keySet}")
    assert(want.contains((100L, 1L)), "the planted quote must be contained in doc 1")
    assert(!want.contains((1L, 100L)), "containment is directed")
  }

  test("editDistanceOneJoin: hand fixture covers sub/ins/del; none across") {
    import spark.implicits._
    val got = TextDedup.editDistanceOneJoin(
        Seq("cat", "cut", "cats", "ca", "dog", "dog").toDF("w"), "w")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // cat~cut (substitution), cat~cats (insertion), ca~cat (deletion);
    // ca~cut is distance 2, dog pairs with nothing, the duplicate "dog"
    // collapses (distinct strings, not occurrences).
    assert(got == Set(("cat", "cut"), ("cat", "cats"), ("ca", "cat")), got)
  }

  test("editDistanceOneJoin ≡ brute-force levenshtein on random strings") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val vocab = Seq.fill(120)(
      (0 until 3 + rng.nextInt(4)).map(_ => ('a' + rng.nextInt(3)).toChar).mkString
    ).distinct
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- vocab; b <- vocab if a < b && lev(a, b) == 1
    } yield (a, b)).toSet
    val got = TextDedup.editDistanceOneJoin(vocab.toDF("w").repartition(5), "w")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want,
      s"missed=${want -- got} spurious=${got -- want}")
    assert(want.nonEmpty, "fixture must exercise real pairs")
  }
}
