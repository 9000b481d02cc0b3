package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite

/** The round harness must degrade PARTIALLY under environment drift:
  * r10's regenerated test data poisoned one table and the whole round
  * record went dark (Bench rc=1 with no JSON; 111 Verify entries vanished
  * without an error row). These tests point both harness mains at a
  * deliberately corrupted table dir and assert the failure is contained:
  * Bench still emits its JSON line with errors>0, and Verify leaves a
  * per-entry error marker instead of silence.
  */
class HarnessResilienceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A table dir whose events.parquet is garbage bytes; the other nine
    * tables are the real sf0.001 files (copied, not symlinked — symlink
    * support varies by filesystem).
    */
  private lazy val corruptDir: String = {
    // Queries.tempDir, not a raw createTempDirectory: its shutdown hook
    // deletes the copied tables — nine real parquet files per test run
    // would otherwise accumulate in /tmp (r11 advice).
    val dir = Paths.get(Queries.tempDir("graft-corrupt"))
    Tables.all.filterNot(_ == "events").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        dir.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.writeString(dir.resolve("events.parquet"), "this is not parquet")
    dir.toString
  }

  test("Bench survives a poisoned table: JSON line emitted, errors counted") {
    val fullOut = Paths.get(Queries.tempDir("bench-full")).resolve("full.json")
    val line = Bench.run(spark, corruptDir, only = Set("q1_agg"), fullOut = fullOut)
    assert(line.startsWith("{") && line.endsWith("}"), s"not a JSON line: $line")
    assert(line.contains("\"errors\":1"), s"poisoned entry not recorded as error: $line")
    assert(line.contains("\"n_queries\":1"))
    assert(Files.exists(fullOut))
  }

  test("Bench telemetry: a streaming entry carries per-batch [n, median, max] " +
      "on both the compact and full lines") {
    val fullOut = Paths.get(Queries.tempDir("bench-telemetry")).resolve("full.json")
    val line = Bench.run(spark, "/root/testdata/sf0.001",
      only = Set("q_stream_sample"), fullOut = fullOut)
    assert(line.contains("\"stream_batches_noisiest\":{\"q_stream_sample\":["),
      s"streaming per-batch telemetry missing from the compact line: $line")
    val full = Files.readString(fullOut)
    assert(full.contains("\"stream_batches\":{\"q_stream_sample\":["),
      s"streaming per-batch telemetry missing from the full record")
  }

  test("Bench telemetry: a JOB entry carries per-query planning triples " +
      "and GC/JIT for both of its laps") {
    val fullOut = Paths.get(Queries.tempDir("bench-job")).resolve("full.json")
    Bench.run(spark, "/root/testdata/sf0.001",
      only = Set("q_job_compass"), fullOut = fullOut)
    val full = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(fullOut.toFile)
    assert(full.get("errors").asInt == 0, s"q_job_compass failed: ${full.get("queries")}")
    Seq("q_job_compass", "q_job_compass#warm_last").foreach { k =>
      val perQuery = Option(full.get("job_planning").get(k))
        .getOrElse(fail(s"job_planning has no $k: ${full.get("job_planning")}"))
        .get("per_query_sketch_enum_exec_ms")
      assert(perQuery.size == 113, s"$k holds ${perQuery.size} per-query entries")
      perQuery.elements.forEachRemaining(t =>
        assert(t.isArray && t.size == 3, s"$k: not a [sketch, enum, exec] triple: $t"))
    }
    val laps = full.get("lap_wall_gc_jit_ms").get("q_job_compass")
    assert(laps != null && laps.size == 2, s"lap telemetry: $laps")
  }

  test("Verify surfaces a dead entry as an error marker, not silence") {
    val out = Paths.get(Queries.tempDir("verify-corrupt"))
    Verify.run(spark, corruptDir, out.toString, subset = Set("q1_agg"))
    val marker = out.resolve("q1_agg._error.txt")
    assert(Files.exists(marker),
      "failed entry left no trace — r10's silent-absence failure mode")
    assert(Files.readString(marker).nonEmpty)
    assert(Files.exists(out.resolve("oracle_sql.json")))
  }

  test("a healthy dir afterwards re-registers cleanly (no stale corrupt views)") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    assert(spark.sql("SELECT count(*) AS n FROM events").head().getLong(0) > 0)
  }
}
