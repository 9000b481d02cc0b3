package graft

import graft.job.JobCorpus
import graft.planner.CompassSession
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite

/** Measured driver-memory gate (r19 verdict #2): the "every collect()
  * site is contractually bounded" claim becomes a number. For each
  * entry that funds an internal driver-side collect (centroid seeds,
  * PQ codebooks, BPE merge rounds, component convergence checks,
  * heavy-hitter summaries), run the REAL entry at sf0.01 and sf0.1
  * (10× documents / 10× events / 4× embeddings) with the same
  * executor-evaluating materialization the bench uses, and assert the
  * task-result bytes shipped to the driver grow SUBLINEARLY — an
  * O(centroids + top-k) contract means ingress is roughly flat; a
  * regression to O(n) tracks the input growth and trips the ratio
  * bound. An absolute ceiling rides along because a ratio alone would
  * pass two equally-pathological laps.
  */
class DriverIngressGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Entries funding the audited collect sites. q_cusum rides along as
    * the pure-SQL control: its OUTPUT scales with events, so it proves
    * the materializer itself (toRdd evaluation on executors, no
    * driver collect) keeps ingress flat even when results are large.
    */
  private val gated = Seq("q_kmeans", "q_ann_ivf", "q_ann_pq", "q_semdedup",
    "q_dedup_components", "q_bpe_merges", "q_heavy_hitters", "q_cusum")

  private def materialize(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
  }

  private def ingress(name: String, dir: String): Work.Counts = {
    val (_, work) = Work.measure(spark)(materialize(Queries.queryMap(name)(spark, dir)))
    graft.operators.OpCaches.releaseAll(spark)
    work
  }

  test("a broadcast build counts as broadcast ingress, not as collected results") {
    val nation = Tables.load(spark, "/root/testdata/sf0.01", "nation")
    val joined = Tables.load(spark, "/root/testdata/sf0.01", "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
    // With AQE off too: the JOB entries run on such a session, and their
    // broadcast builds once counted as results (~80 MB per q_job_compass
    // lap). A frame plans once, so each setting gets its own.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try Seq("true", "false").foreach { on =>
      spark.conf.set("spark.sql.adaptive.enabled", on)
      val frame = joined.select("*")
      val (_, kept) = Work.measure(spark)(materialize(frame))
      val (rows, collected) = Work.measure(spark)(frame.collect().length)
      info(s"AQE $on, materialized: broadcast ${kept.broadcastBytes} B, results " +
        s"${kept.resultBytes} B; collect of $rows rows: results ${collected.resultBytes} B")
      assert(rows > 0)
      assert(kept.broadcastBytes > 0, s"the broadcast build was not counted as broadcast (AQE $on)")
      assert(kept.resultBytes < collected.resultBytes,
        "materializing on the executors shipped as much as collecting the rows")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("collect-site driver ingress grows sublinearly with the corpus") {
    val rows = gated.map { n =>
      val small = ingress(n, "/root/testdata/sf0.01")
      val big = ingress(n, "/root/testdata/sf0.1")
      val ratio = if (small.resultBytes > 0) big.resultBytes.toDouble / small.resultBytes else 0.0
      val perTask = if (big.tasks > 0) big.resultBytes / big.tasks else 0L
      info(f"$n%-20s collect-ingress ${small.resultBytes >> 10}%6d KB -> " +
        f"${big.resultBytes >> 10}%6d KB (x$ratio%.2f on x10 input, ${perTask >> 10}%d KB/task), " +
        f"broadcast-ingress ${small.broadcastBytes >> 10}%d -> ${big.broadcastBytes >> 10}%d KB")
      (n, big.resultBytes, big.broadcastBytes, ratio, perTask)
    }
    rows.foreach { case (n, big, bigBc, ratio, perTask) =>
      // Ingress is split into two classes with different contracts:
      //   - broadcast-exchange builds (small-side relations shipped to
      //     the driver to build a broadcast): LEGITIMATELY scale with
      //     their relation up to autoBroadcastJoinThreshold, past which
      //     Spark plans a shuffle join instead — bounded per build by
      //     config, so the gate only caps the per-entry total (iterative
      //     loops rebuild each round).
      //   - everything else: the audited collect() sites. O(centroids +
      //     top-k) contracts mean this class stays roughly FLAT on 10×
      //     input; growth that decomposes into task fan-out (more
      //     rounds × partitions, each task shipping ~KBs of metrics,
      //     folded into listener state on arrival) is also fine. What
      //     must fail is per-task payload growth — the driver-OOM shape.
      assert(ratio <= 4.0 || perTask <= (16L << 10),
        s"$n non-broadcast driver ingress scaled with the corpus " +
          s"(x$ratio total, ${perTask >> 10} KB/task) — an internal " +
          "collect() site lost its O(centroids + top-k) bound")
      assert(big <= (64L << 20),
        s"$n shipped ${big >> 20} MB of non-broadcast results to the " +
          "driver at sf0.1 — over the 64 MB ceiling for a bounded-collect entry")
      assert(bigBc <= (48L << 20),
        s"$n built ${bigBc >> 20} MB of broadcasts in one lap at sf0.1 — " +
          "over the 48 MB budget (≈ threshold × a handful of rounds); " +
          "an iterative loop is broadcasting a relation that grows with the corpus")
    }
  }

  /** Ratchet pins for the COMPASS case below. The byte pin is the value
    * measured when the sketch jobs began returning packed rows instead of
    * sketch planes (4 cores: 13,108 KB; the builder that shipped planes
    * measured 494 jobs, 160,315 KB), and leaves 9% for task-metric noise.
    * The job pin is the count measured once kept survivors reached the
    * hash join without a job and served the whole session: a broadcast
    * of kept rows runs no job, so `broadcastBytes` fell too (476 → 284
    * jobs and 20,629 → 6,038 KB broadcast; the 50 broadcast jobs left
    * each build a scanned instance). Jobs are exact. A count that falls lowers its pin; raising one is a gate
    * change with a measured reason.
    */
  private val CompassSubsetJobs = 284
  private val CompassSubsetResultBytes = 14L << 20

  test("COMPASS on the JOB subset: per-query jobs and driver ingress under their pins") {
    JobCorpus.ensureData(spark)
    JobCorpus.registerViews(spark)
    // A memory-only store: every sketch is built, whatever the disk tier holds.
    val cs = new CompassSession(spark)
    val byName = JobCorpus.queries.toMap
    val per = JobCorpus.compassSubset.map { name =>
      val (took, work) = Work.measure(spark) {
        val df = cs.sql(byName(name))
        df.head()
        cs.lastPlan.isDefined
      }
      assert(took, s"JOB $name did not take the COMPASS path")
      assert(work.records.compassFallbacks.isEmpty, s"JOB $name: ${work.records.compassFallbacks}")
      name -> work
    }
    cs.close()
    val jobs = per.map(_._2.jobs).sum
    val results = per.map(_._2.resultBytes).sum
    val (maxName, maxWork) = per.maxBy(_._2.resultBytes)
    info(s"${per.size} queries: $jobs jobs, ${results >> 10} KB non-broadcast results " +
      s"(most: $maxName ${maxWork.resultBytes >> 10} KB), " +
      s"${per.map(_._2.broadcastBytes).sum >> 10} KB broadcast in " +
      s"${per.map(_._2.broadcastJobs).sum} broadcast jobs")
    assert(jobs <= CompassSubsetJobs, s"$jobs jobs over the pin of $CompassSubsetJobs")
    assert(results <= CompassSubsetResultBytes,
      s"${results >> 10} KB of task results over the pin of ${CompassSubsetResultBytes >> 10} KB")
  }
}
