package graft

import graft.operators.{OpCaches, TextDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Work pins for the MinHash near-dup family on the sf0.01 documents (the
  * copy the `curation` benchmark workload reads): each operator's Spark
  * job count and shuffle-write records are ceilings at the values
  * measured when the pins were set. Both counters are exact from run to
  * run, so a rise is a plan change, not noise: a second pass over a
  * relation, an extra exchange or a lost persist. A counter that falls
  * lowers its pin in the same change.
  *
  * Job counts do not depend on the core count (measured equal at 2, 4 and
  * 8 cores). Shuffle-write records do, slightly: partial aggregates write
  * one record per key per map partition, and the operators spread their
  * input over every core (minhashNearDups wrote 31,693 / 32,109 / 32,277
  * records at 2 / 4 / 8 cores). So the record pins hold at
  * [[MinHashWorkSpec.PinnedCores]] and are printed elsewhere. Task counts
  * follow the core count and are printed, never gated.
  */
class MinHashWorkSpec extends AnyFunSuite {
  import MinHashWorkSpec._

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "perfbench/data/sf0.01"
  private lazy val docs = Tables.load(spark, sfDir, "documents")

  /** Build and collect `run` in a [[Work]] scope, with the operator caches
    * released before and after so every persist is paid inside the run.
    */
  private def measure(run: => DataFrame): (Int, Work.Counts) = {
    OpCaches.releaseAll(spark)
    try Work.measure(spark)(run.collect().length)
    finally OpCaches.releaseAll(spark)
  }

  private def pinned(name: String, measured: (Int, Work.Counts), maxJobs: Int,
      maxRecords: Long): Unit = {
    val (rows, w) = measured
    val cores = spark.sparkContext.defaultParallelism
    info(s"$name: rows $rows, jobs ${w.jobs}, shuffle records ${w.shuffleWriteRecords}, " +
      s"tasks ${w.tasks} at $cores cores")
    assert(rows > 0, s"$name found no pairs at sf0.01")
    assert(w.jobs <= maxJobs, s"$name ran ${w.jobs} jobs (pin $maxJobs)")
    if (cores == PinnedCores)
      assert(w.shuffleWriteRecords <= maxRecords,
        s"$name wrote ${w.shuffleWriteRecords} shuffle records (pin $maxRecords)")
  }

  private def corpus = docs.filter(col("doc_id") < 400)
  private def batch = docs.filter(col("doc_id") >= 400)

  test("minhashNearDups: job and shuffle-record pins") {
    pinned("minhashNearDups",
      measure(TextDedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8)),
      maxJobs = 24, maxRecords = 32109L)
  }

  test("minhashNearDupsAgainst: job and shuffle-record pins") {
    pinned("minhashNearDupsAgainst",
      measure(TextDedup.minhashNearDupsAgainst(corpus, batch, "doc_id", "text",
        threshold = 0.8)),
      maxJobs = 18, maxRecords = 13248L)
  }

  test("nearDupsAgainstIndex: job and shuffle-record pins") {
    TempDirs.withTempDir("graft_minhash_work") { dir =>
      TextDedup.buildDedupIndex(corpus, "doc_id", "text", dir.toString)
      pinned("nearDupsAgainstIndex",
        measure(TextDedup.nearDupsAgainstIndex(batch, "doc_id", "text", dir.toString,
          threshold = 0.8)),
        maxJobs = 16, maxRecords = 6478L)
    }
  }
}

object MinHashWorkSpec {
  /** Core count the shuffle-record pins were measured at. */
  val PinnedCores = 4
}
