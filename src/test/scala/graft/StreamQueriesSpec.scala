package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming differential entries equal their batch twins on the same
  * input — stream-vs-batch agreement is the contract the entries put in
  * front of the DuckDB oracle, so assert it Spark-side too (a drift here
  * fails fast with a readable diff instead of a hash mismatch).
  */
class StreamQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String, d: String = dir) =
    Queries.all.find(_.name == name)
      .getOrElse(fail(s"entry $name not registered")).run(spark, d)

  test("the file-sink sweep deletes only sink dirs whose JVM has exited") {
    TempDirs.withTempDir("graft-sink-sweep") { root =>
      // Int.MaxValue is above Linux's largest pid_max (2^22): never alive.
      val names = Seq(s"graft_stream_dedup-${Int.MaxValue}",
        s"graft_stream_dedup-${ProcessHandle.current.pid}", "not-a-pid")
      names.foreach(n => java.nio.file.Files.createDirectories(root.resolve(n).resolve("data")))
      StreamQueries.sweepDeadSinks(root)
      assert(names.map(n => java.nio.file.Files.exists(root.resolve(n))) == Seq(false, true, true))
    }
  }

  test("q_stream_windowed equals the batch hourly aggregation") {
    val streamed = run("q_stream_windowed").collect().map(_.toSeq).toSeq
    val batch = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).cast("long").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
      .orderBy("h", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q_stream_dedup emits the doubled stream exactly once per event") {
    val out = run("q_stream_dedup").cache()
    try {
      val n = Tables.load(spark, dir, "events").count()
      assert(out.count() == n, "every event exactly once despite double delivery")
      assert(out.select("event_id").distinct().count() == n)
    } finally out.unpersist()
  }

  test("two q_stream_dedup drains in one JVM each return exactly the events") {
    // Append mode drains through the file sink. A sink dir reused across
    // drains would re-serve the first run's rows through _spark_metadata,
    // and its checkpoint would skip or dedup away the second run's input.
    // The larger corpus drains first, so a reused dir cannot pass by
    // re-serving rows that happen to be the right answer.
    val runs = Seq("/root/testdata/sf0.01", dir).map { d =>
      val n = Tables.load(spark, d, "events").count()
      val ids = run("q_stream_dedup", d).select("event_id").collect().map(_.getLong(0))
      (n, ids.length.toLong, ids.distinct.length.toLong)
    }
    runs.foreach { case (n, rows, distinct) => assert(rows == n && distinct == n) }
    assert(runs.head._1 > runs(1)._1, "the first corpus must be the larger one")
  }

  test("q_stream_curate equals the batch curation gate") {
    val streamed = run("q_stream_curate").collect().map(_.toSeq).toSeq
    // curateStream is stateless, so the SAME lambda runs on the batch
    // frame (withWatermark-free path) — the definitional twin.
    val batch = graft.streaming.EventStream
      .curateStream(Tables.load(spark, dir, "documents"), "text")
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }
}
