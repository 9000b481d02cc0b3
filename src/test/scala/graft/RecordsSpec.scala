package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.job.JobCorpus.CompassRun
import graft.job.ScaleCampaignMain
import graft.planner.{CompassSession, OptimizerQuality}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** The records graft prints, rendered from synthetic values through
  * [[Records]] without running Spark: the Bench lines' shape and the
  * 2000-char output window, string escaping, and locale-independent
  * numbers on the scale campaign's facet lines.
  */
class RecordsSpec extends AnyFunSuite {
  private val json = new ObjectMapper()
  private def parse(line: String): JsonNode = json.readTree(line)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  private val message120 = ("stage failed: " + "x" * 200).take(120)

  /** A completed lap's counts: `seconds` of wall time, 123456789 result
    * bytes, a 987654321-byte heap peak and what it recorded.
    */
  private def counts(seconds: Double, records: Work.Record) =
    Work.Counts(0, 0, 0, 0, 0, 0L, 0L, 123456789L, 0L, 987654321L,
      math.round(seconds * 1e9), 123L, 1234L, records)
  private def ok(seconds: Double, records: Work.Record = Work.Record()) =
    Bench.Lap(counts(seconds, records), None)

  /** A 337-entry run shaped like the r22 record (its headline timings,
    * JOB planning totals and streaming batches) plus the worst case the
    * compact line admits: 5 failures outside the headline with 120-char
    * messages, 5 slow non-headline entries, three JOB planning blocks
    * (one of them `#warm_last`) and 16 streaming entries. Headline
    * entries take three warm laps of 10.123, 99.999 and 11.111 s, except
    * q_job_corpus, whose one warm lap takes 9.877 s; q_job_compass takes
    * one of 1.234 s.
    */
  private def wideRecord(message: String = message120): Bench.Record = {
    val names = Bench.Headline ++ Seq("q_job_compass", "q_job_quality") ++
      (1 to 16).map(i => f"q_stream_entry_$i%02d") ++
      (Bench.Headline.size + 18 until 337).map(i => f"q_synthetic_entry_$i%03d")
    val failed = names.takeRight(5).toSet
    val slow = names.takeRight(10).take(5).toSet
    val runs = (1 to 33).map(i => CompassRun(s"${i}a", 1000L, 43, 49, 802))
    // The 113-query JOB corpus over families 2 and 10, with a median of
    // 1108, p90 2837 and max 5333 ms: as wide on the line as a real run.
    val latencies = (0 until 113).map { i =>
      val ms = if (i == 112) 5333L else if (i >= 101) 2837L else if (i >= 56) 1108L else 1000L + i
      s"${if (i % 2 == 0) 2 else 10}q$i" -> ms
    }.toMap
    def recorded(name: String) = name match {
      case "q_job_compass" => Work.Record(compassRuns = runs, compassFallbacks =
        Seq(CompassSession.Fallback("java.lang.IllegalStateException", "boom")))
      case "q_job_quality" => Work.Record(compassRuns = runs,
        qualityReports = Seq(OptimizerQuality.Report("1a", 10, 20, 13, 225, 146)))
      case "q_job_corpus" => Work.Record(corpusLatencies = latencies)
      case s if s.startsWith("q_stream_entry") => Work.Record(batchDurations = Map(s -> Seq(4079L)))
      case _ => Work.Record()
    }
    Bench.Record("/srv/graft/testdata/sf0.1", "target/bench_full.json", names.map { n =>
      val seconds = if (slow(n)) 9.346 else if (n == "q_job_corpus") 47.452 else 1.234
      val warm = n match {
        case "q_job_corpus" => Vector(counts(9.877, Work.Record()))
        case "q_job_compass" => Vector(counts(1.234, Work.Record(compassRuns = runs)))
        case _ if Bench.Headline.contains(n) =>
          Vector(10.123, 99.999, 11.111).map(counts(_, Work.Record()))
        case _ => Vector.empty
      }
      n -> Bench.Laps(Bench.Lap(counts(seconds, recorded(n)), Option.when(failed(n))(message)), warm)
    }.to(VectorMap))
  }

  test("a 337-entry record with 5 long failures keeps the compact line in the 2000-char window") {
    val r = wideRecord()
    val compact = Records.write(r.compact)
    val full = Records.write(r.full)
    assert(compact.length <= 2000, s"compact line is ${compact.length} chars:\n$compact")
    val c = parse(compact)
    val f = parse(full)
    assert(c.get("errors").asInt == 5 && f.get("errors").asInt == 5)
    assert(c.get("n_queries").asInt == 337 && f.get("queries").size == 337)
    info(s"compact line: ${compact.length} chars")
    // Headline (33), the 5 failures and the 5 slowest entries that are
    // not headline.
    assert(c.get("queries").size == 43)
    assert(c.get("job_planning").size == 3 && c.get("stream_batches_noisiest").size == 3)
    assert(c.get("job_corpus_latency").get("q_job_corpus").get("n").asInt == 113)
    // The compact line cuts the failure text; the full record keeps all 120 chars.
    val failed = "q_synthetic_entry_336"
    assert(f.get("queries").get(failed).asText == "error: " + message120)
    assert(message120.startsWith(c.get("queries").get(failed).asText.stripPrefix("error: ")))
  }

  test("the compact line shows the 5 slowest non-headline entries when a headline entry is slower") {
    val slowest = (1 to 6).map(i => f"q_synthetic_slow_$i" -> (20.0 - i))
    val laps = (Bench.Headline.map(_ -> 1.0) ++ slowest :+ ("q_synthetic_fast" -> 0.5))
      .to(VectorMap).updated("q_job_corpus", 47.452)
      .map { case (k, t) => k -> Bench.Laps(ok(t), Vector.empty) }
    val r = wideRecord().copy(laps = laps)
    val shown = keys(parse(Records.write(r.compact)).get("queries"))
    assert(shown.drop(Bench.Headline.size) == slowest.take(5).map(_._1))
  }

  test("both Bench lines keep their keys, key order and printed precision") {
    val r = wideRecord()
    val f = parse(Records.write(r.full))
    assert(keys(f) == Seq("metric", "value", "unit", "queries", "warm_total", "warm",
      "warm_spread", "lap_wall_gc_jit_ms", "driver_ingress_kb_heap_peak_mb",
      "job_planning", "job_quality_plan_compass_naive_ms", "job_corpus_latency",
      "job_corpus_family_n_med_max_ms", "stream_batches", "compass_fallbacks", "errors", "sf"))
    assert(keys(f.get("job_planning").get("q_job_compass")) ==
      Seq("sketch_ms", "enumerate_ms", "exec_ms", "per_query_sketch_enum_exec_ms"))
    assert(keys(f.get("job_corpus_latency").get("q_job_corpus")) ==
      Seq("median_ms", "p90_ms", "max_ms", "n"))
    assert(keys(f.get("job_corpus_family_n_med_max_ms").get("q_job_corpus")) == Seq("2", "10"))
    val c = parse(Records.write(r.compact))
    assert(keys(c) == Seq("metric", "value", "unit", "queries", "warm_total",
      "warm_spread_noisiest", "job_planning",
      "job_corpus_latency", "stream_batches_noisiest", "errors", "n_queries", "full", "sf"))
    assert(keys(c.get("queries")).take(Bench.Headline.size) == Bench.Headline)
    val full = Records.write(r.full)
    val compact = Records.write(r.compact)
    assert(full.contains("\"q1_agg\":1.234,") && full.contains("[10.123,11.111,99.999]"))
    assert(full.contains("\"driver_ingress_kb_heap_peak_mb\":{\"q1_agg\":[120563,941]"))
    assert(full.contains(
      "\"compass_fallbacks\":{\"q_job_compass\":[[\"java.lang.IllegalStateException\",\"boom\"]]}"))
    assert(compact.contains("\"q1_agg\":1.234,") && compact.contains("[10.12,11.11,100.00]"))
    assert(compact.contains("\"warm_total\":366.66,"))
  }

  test("a failed cold lap keeps its error, ingress and fallbacks; a failed warm lap ends the warm laps") {
    val fallback = CompassSession.Fallback("org.apache.spark.SparkException", "sketch job failed")
    val fellBack = Work.Record(compassFallbacks = Seq(fallback))
    var warmLaps = 0
    val coldFailed = Bench.Laps.after(Bench.Lap(counts(2.0, fellBack), Some("boom")), 3) {
      warmLaps += 1; ok(1.0)
    }
    assert(warmLaps == 0 && coldFailed.warm.isEmpty)
    // The second warm lap fails: its counts (and fallback) are dropped and
    // the third never runs.
    val outcomes = Iterator(ok(1.5), Bench.Lap(counts(9.0, fellBack), Some("lost")), ok(1.0))
    val warmFailed = Bench.Laps.after(ok(2.0), 3)(outcomes.next())
    assert(warmFailed.warm.map(_.wallNs) == Vector(1500000000L) && outcomes.hasNext)
    val clean = Bench.Laps.after(ok(2.0), 2)(ok(1.0))
    val f = parse(Records.write(Bench.Record("sf", "out",
      VectorMap("q_a" -> coldFailed, "q_b" -> warmFailed, "q_c" -> clean)).full))
    assert(f.get("queries").get("q_a").asText == "error: boom" && f.get("errors").asInt == 1)
    assert(keys(f.get("driver_ingress_kb_heap_peak_mb")) == Seq("q_a", "q_b", "q_c"))
    assert(keys(f.get("compass_fallbacks")) == Seq("q_a"))
    assert(keys(f.get("lap_wall_gc_jit_ms")) == Seq("q_b", "q_c"))
    assert(f.get("lap_wall_gc_jit_ms").get("q_b").size == 2)
    assert(keys(f.get("warm")) == Seq("q_b", "q_c") && f.get("warm").get("q_b").asDouble == 1.5)
    assert(keys(f.get("warm_spread")) == Seq("q_c"))
  }

  test("a failure message reads back exactly from the full line") {
    val message = "quote \" backslash \\ tab \t newline \n sigma Σ"
    val f = parse(Records.write(wideRecord(message).full))
    assert(f.get("queries").get("q_synthetic_entry_336").asText == "error: " + message)
  }

  test("oracle_sql.json round-trips SQL with a tab and a CR, tokens substituted") {
    val sql = Map(
      "q_a" -> "SELECT\t1 AS x\r\nFROM t",
      "q_b" -> s"SELECT * FROM read_parquet('${Queries.VerifyOutToken}/q_b/*.parquet')")
    val n = parse(Verify.oracleJson(sql, "/out dir", "/job"))
    assert(n.size == 2)
    assert(n.get("q_a").asText == sql("q_a"))
    assert(n.get("q_b").asText == "SELECT * FROM read_parquet('/out dir/q_b/*.parquet')")
  }

  test("campaign facet lines parse under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val lap = ScaleCampaignMain.Lap(Map("1a" -> 5L, "10b" -> 7L),
        Map("1a" -> 120L, "10b" -> 950L), Seq("17e"), 1.25)
      val empty = ScaleCampaignMain.Lap(Map.empty, Map.empty, Nil, 0.5)
      val profiles = parse(Records.write(
        ScaleCampaignMain.profilesRecord(1, routedTrim = true, lap, lap, lap, empty)))
      assert(profiles.get("routed_cold").get("wall_s").asDouble == 1.3)
      assert(profiles.get("other_warm").get("wall_s").asDouble == 0.5)
      assert(profiles.get("other_warm").get("p90_ms").asLong == 0L)
      assert(keys(profiles.get("routed_cold").get("families_n_med_sum_ms")) == Seq("1", "10"))
      assert(profiles.get("counts_equal_on").asInt == 0)
      val capouts = parse(Records.write(ScaleCampaignMain.capoutsRecord(1, lap,
        Seq("17e" -> "SortMergeJoin\nExchange hashpartitioning\nSortMergeJoin"))))
      assert(capouts.get("wall_s").asDouble == 1.3)
      assert(capouts.get("timeout_plans").get("17e").get("smj").asInt == 2)
      val runs = Seq(CompassRun("1a", 5, 10, 20, 70), CompassRun("10b", 7, 5, 5, 190))
      val compass = parse(Records.write(ScaleCampaignMain.compassRecord(1, 21,
        counts(2.45, Work.Record(compassRuns = runs)), counts(1.5, Work.Record(compassRuns = runs)))))
      assert(compass.get("compass_cold_s").asDouble == 2.5)
      assert(keys(compass).takeRight(2) == Seq("heap_peak_mb", "result_kb"))
      assert(compass.get("heap_peak_mb").get(1).asLong == 941L)
      assert(compass.get("planning_fraction_cold").asDouble == 0.133)
      assert(keys(compass.get("counts")) == Seq("10b", "1a"))
    } finally java.util.Locale.setDefault(saved)
  }
}
