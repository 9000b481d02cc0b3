package graft

import graft.operators.Corpus
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.operators.Corpus]] — repetition signals, decontamination, and
  * sequence packing on planted fixtures where the right answer is known
  * by construction.
  */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("repetition signals: planted duplicate mass and hottest 2-gram") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a a"),              // 5 words, 1 distinct; '1 1' gram x4
      (2L, "w x y z"),                // all distinct; every gram unique
      (3L, "p q p q p q"),            // 'p q' x3, 'q p' x2
      (4L, "solo")                    // single word: no grams
    ).toDF("doc_id", "text")
    val got = Corpus.withRepetitionSignals(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got(0) == ((1L, 5L, 4L, 4L)))
    assert(got(1) == ((2L, 4L, 0L, 1L)))
    assert(got(2) == ((3L, 6L, 4L, 3L)))
    assert(got(3) == ((4L, 1L, 0L, 0L)))
  }

  test("decontamination: planted overlap, zero for clean docs, short docs safe") {
    import spark.implicits._
    val bench = Seq((0L, "the quick brown fox jumps high")).toDF("id", "text")
    val docs = Seq(
      (1L, "nothing shared here at all today"),
      (2L, "xx the quick brown fox yy"),            // one 4-gram overlaps
      (3L, "the quick brown fox jumps"),            // two 4-grams overlap
      (4L, "too short")                             // < n tokens
    ).toDF("doc_id", "text")
    val got = Corpus.decontaminate(docs, "doc_id", "text", bench, "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got(0) == ((1L, 0L, 0L)))
    assert(got(1) == ((2L, 1L, 1L)))
    assert(got(2) == ((3L, 2L, 1L)))
    assert(got(3) == ((4L, 0L, 0L)))
  }

  test("packing: offsets equal the global-window form; window invariants hold") {
    import spark.implicits._
    val docs = (1 to 300)
      .map(i => (i.toLong, Seq.fill(i % 17 + 1)("tok").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Corpus.packSequences(docs, "doc_id", "text", capacity = 32)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val expected = docs
      .select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n"))
      .withColumn("cum", sum("n").over(Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2) - r.getLong(1)))
      .sortBy(_._1)
    got.zip(expected).foreach { case ((id, n, off, fw, lw), (eid, en, eoff)) =>
      assert(id == eid && n == en && off == eoff, s"doc $id offset")
      assert(fw == off / 32 && lw == (off + n - 1) / 32, s"doc $id windows")
      assert(fw <= lw, s"doc $id window order")
    }
    // Offsets are gap-free: each doc starts where the previous ended.
    got.sliding(2).foreach {
      case Array((_, n, off, _, _), (id2, _, off2, _, _)) =>
        assert(off2 == off + n, s"doc $id2 not contiguous")
      case _ =>
    }
  }

  test("selectToBudget: greedy prefix keeps order, drops overflow tail") {
    import spark.implicits._
    // Priority order (prio, id): (0,1)=4 tok, (0,3)=3 tok, (1,2)=5 tok,
    // (2,4)=1 tok. Budget 9: keeps docs 1,3 (cum 4,7); doc 2 overflows
    // (cum 12) and doc 4 (cum 13) stays dropped even though its 1 token
    // alone would fit — greedy-prefix, not knapsack.
    val docs = Seq(
      (1L, 0, "a b c d"), (2L, 1, "e f g h i"),
      (3L, 0, "j k l"), (4L, 2, "m")
    ).toDF("doc_id", "prio", "text")
    val got = Corpus.selectToBudget(docs, "doc_id", "text", 9L, "prio")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 4L, 4L), (3L, 3L, 7L)))
  }

  test("shuffleOrder: dense permutation, seed-reproducible, window-form equal") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .repartition(7)
    val out = Corpus.shuffleOrder(docs, "doc_id", "ep1")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_pos")))
    // A permutation: positions are exactly 1..n, every doc present once.
    assert(out.map(_._2).sorted.toSeq == (1L to 500L))
    assert(out.map(_._1).toSet.size == 500)
    // Equals the textbook single-window formulation (what the oracle runs).
    val window = docs.withColumn("_d",
        md5(concat($"doc_id".cast("string"), lit("|ep1"))))
      .withColumn("want", row_number().over(
        Window.orderBy(col("_d"), col("doc_id"))).cast("long"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("want"))).toMap
    out.foreach { case (id, pos) =>
      assert(pos == window(id), s"doc $id: prefix pos $pos != window ${window(id)}")
    }
    // Same seed reproduces at a different parallelism; a new seed is a
    // genuinely different permutation.
    val again = Corpus.shuffleOrder(docs.repartition(3), "doc_id", "ep1")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_pos"))).toSet
    assert(again == out.toSet)
    val ep2 = Corpus.shuffleOrder(docs, "doc_id", "ep2")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_pos"))).toSet
    assert(ep2 != out.toSet, "different seeds must permute differently")
  }

  test("splitAssign: disjoint total cover, null policy, validation") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
      .union(Seq((null.asInstanceOf[java.lang.Long], "nullkey"))
        .toDF("doc_id", "text"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Corpus.splitAssign(df, "doc_id", splits)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // Every non-null key labeled exactly once; null key excluded.
    assert(got.length == 200 && got.map(_._1).distinct.length == 200)
    val byName = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > byName("val") && byName("train") > byName("test"))
    // Same rule as the Sampling scaladoc: first 4 md5 hex digits of
    // "key|" against the cumulative boundaries.
    got.foreach { case (id, name) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id|".getBytes("UTF-8"))
        .take(2).map(b => f"$b%02x").mkString
      val expect = if (h < "cccc") "train" else if (h < "e666") "val" else "test"
      assert(name == expect, s"doc $id: $name vs $expect (h=$h)")
    }
    intercept[IllegalArgumentException] {
      Corpus.splitAssign(df, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      Corpus.splitAssign(df, "doc_id", Seq("a" -> 0.5, "a" -> 0.5))
    }
  }

  test("bpe merges: greedy overlap counting, deterministic argmax, exhaustion") {
    import spark.implicits._
    // ' a a a ' contributes TWO (a,a) pairs (overlap counts, greedy merge
    // later collapses left-to-right): round 1 merges (a,a) n=5 →
    // ' aa a ' / ' aa ' / ' a b '; round 2 (aa,a) n=2; round 3 (a,b) n=1;
    // round 4 finds no pairs → exhausted, table stays 3 rows.
    val docs = Seq((1L, "aaa aa"), (2L, "ab aaa")).toDF("doc_id", "text")
    val got = Corpus.bpeMerges(docs, "text", rounds = 4)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(got == Seq((1L, "a", "a", 5L), (2L, "aa", "a", 2L),
      (3L, "a", "b", 1L)))
    graft.operators.OpCaches.releaseAll(spark)
  }

  test("applyBpe: merge order matters; counts match a hand tokenization") {
    import spark.implicits._
    val docs = Seq((1L, "aaa aa"), (2L, "ab aaa")).toDF("doc_id", "text")
    // Merges learned above: (a,a) then (aa,a) then (a,b).
    // doc1: 'aaa'→[aaa], 'aa'→[aa] → 2 tokens, 5 chars.
    // doc2: 'ab'→[ab], 'aaa'→[aaa] → 2 tokens, 5 chars.
    val got = Corpus.applyBpe(docs, "text",
        Seq(("a", "a"), ("aa", "a"), ("a", "b")))
      .select("doc_id", "n_bpe_tokens", "n_chars_alpha")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 5L), (2L, 2L, 5L)))
    // Without the (aa,a) merge, 'aaa' stays [aa, a] → 3 tokens for doc1.
    val partial = Corpus.applyBpe(docs, "text", Seq(("a", "a")))
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(partial(1L) == 3L && partial(2L) == 4L)
    // Canonical greedy: back-to-back disjoint occurrences BOTH merge —
    // 'xyxy' → [xy, xy], not [xy, x, y]. (The double-space separator
    // scheme exists exactly for this case: with single-space joins the
    // two ' x y ' matches share a delimiter and the second is skipped.)
    val adjacent = Corpus.applyBpe(
        Seq((1L, "xyxy xyxyxy")).toDF("doc_id", "text"), "text",
        Seq(("x", "y")))
      .select("n_bpe_tokens").head().getLong(0)
    assert(adjacent == 2L + 3L, s"greedy adjacent merges broken: $adjacent")
    intercept[IllegalArgumentException] {
      Corpus.bpeMerges(docs, "text", rounds = 0)
    }
  }

  test("sampleToMixture: per-group caps, window-form equality, excluded groups") {
    import spark.implicits._
    // 3 groups of docs with varied token counts; group "xx" has no
    // weight and must vanish entirely.
    val docs = (1 to 90).map { i =>
      val g = if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"
      (i.toLong, Seq.fill(1 + i % 9)("w").mkString(" "), g)
    }.toDF("doc_id", "text", "grp")
    val weights = Seq("en" -> 0.6, "de" -> 0.4)
    val budget = 60L // caps: en 36, de 24
    val got = Corpus.sampleToMixture(docs, "doc_id", "text", "grp", weights, budget)
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.forall(_._2 != "xx"))
    // Exact equality with the textbook PARTITION BY window formulation,
    // same draw expression — the scale-safe plan changes nothing.
    val caps = Map("en" -> 36L, "de" -> 24L)
    val toks = docs.filter(col("grp").isin("en", "de"))
      .select(col("doc_id"), col("grp"),
        substring(md5(concat(col("doc_id").cast("string"), lit("|mix"))), 1, 8).as("draw"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("grp").orderBy("draw", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = toks.withColumn("cum", sum("n_tokens").over(w))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
      .filter { case (_, g, _, cum) => cum <= caps(g) }
    assert(rows.sortBy(_._1).toSeq == expected.sortBy(_._1).toSeq)
    // Greedy maximality: per group, the kept token mass plus the FIRST
    // dropped document (in draw order) overflows the cap.
    val keptIds = rows.map(_._1).toSet
    val dropped = toks.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .filterNot(t => keptIds(t._1))
    for ((g, cap) <- caps) {
      val keptToks = rows.filter(_._2 == g).map(_._3).sum
      dropped.filter(_._2 == g).sortBy(t => (t._3, t._1)).headOption.foreach {
        case (_, _, _, n) => assert(keptToks + n > cap,
          s"group $g kept $keptToks of $cap but first dropped doc ($n toks) would fit")
      }
    }
    // Validation: bad weights rejected.
    intercept[IllegalArgumentException] {
      Corpus.sampleToMixture(docs, "doc_id", "text", "grp", Nil, 10L) }
    intercept[IllegalArgumentException] {
      Corpus.sampleToMixture(docs, "doc_id", "text", "grp", Seq("en" -> 0.0), 10L) }
    intercept[IllegalArgumentException] {
      Corpus.sampleToMixture(docs, "doc_id", "text", "grp",
        Seq("en" -> 0.5, "en" -> 0.5), 10L) }
  }

  test("writeShards: document-atomic assignment, readable shards, manifest totals") {
    import spark.implicits._
    // 6 docs × 4 tokens, cap 10: cum 4,8,12,16,20,24 → start offsets
    // 0,4,8,12,16,20 → shards 0,0,0,1,1,2.
    val docs = (1 to 6).map(i => (i.toLong, "w x y z")).toDF("doc_id", "text")
    TempDirs.withTempDir("graft_shards_spec") { tmp =>
      val path = tmp.toString
      val manifest = Corpus.writeShards(docs, "doc_id", "text", path, tokensPerShard = 10L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(manifest.toSeq == Seq((0L, 3L, 12L), (1L, 2L, 8L), (2L, 1L, 4L)))
      // The written data round-trips with the shard partition column and
      // covers every document exactly once.
      val back = spark.read.parquet(s"$path/data")
      assert(back.columns.toSet == Set("doc_id", "text", "n_tokens", "shard"))
      assert(back.count() == 6)
      assert(back.filter(col("shard") === 0).select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(spark.read.parquet(s"$path/manifest").count() == 3)
      intercept[IllegalArgumentException] {
        Corpus.writeShards(docs, "doc_id", "text", path, tokensPerShard = 0L) }
    }
  }

  test("decontaminate: optimized plan splits each text exactly once") {
    import spark.implicits._
    // The gram lambda is interpreted (HOFs skip codegen and subexpression
    // elimination), so if Catalyst ever collapses the pre-projected split
    // back into the lambda body, the split re-runs for every element_at of
    // every gram — a measured 30x slowdown. Pin one StringSplit per side.
    // A LocalRelation fixture would be constant-folded (split evaluated at
    // planning time, zero StringSplit left to count) — use a parquet scan.
    TempDirs.withTempDir("corpus_plan") { tmp =>
      val dir = tmp.toString
      Seq((1L, "a b c d e f"), (2L, "x y z w v u"))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
      val docs = spark.read.parquet(dir)
      val plan = Corpus.decontaminate(docs, "doc_id", "text",
          docs.limit(1), "text", 4)
        .queryExecution.optimizedPlan
      var splits = 0
      plan.foreach(_.expressions.foreach(_.foreach { e =>
        if (e.getClass.getSimpleName == "StringSplit") splits += 1
      }))
      assert(splits == 2, s"expected 2 StringSplit (doc + bench side), got $splits")
    }
  }
}
