package graft

import graft.operators.Similarity
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def clusteredCorpus(perCluster: Int, dim: Int = 16) = {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val centers = Array.fill(8)(Array.fill(dim)(rng.nextGaussian() * 5))
    val rows = for {
      c <- centers.indices
      i <- 0 until perCluster
    } yield ((c * perCluster + i).toLong,
      centers(c).map(v => (v + rng.nextGaussian() * 0.2).toFloat).toSeq)
    rows.toDF("vec_id", "embedding").repartition(7)
  }

  test("indexed query equals the in-session IVF path exactly") {
    val corpus = clusteredCorpus(perCluster = 100)
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    TempDirs.withTempDir("graft_ivf") { tmp =>
      val path = tmp.toString
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", path, nCentroids = 8)
      val indexed = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
          path, k = 5, nProbe = 2)
        .collect().map(_.toSeq).toSet
      // Same deterministic quantizer → the live path must produce the
      // identical result set.
      val live = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
          k = 5, nCentroids = 8, nProbe = 2)
        .collect().map(_.toSeq).toSet
      assert(indexed == live)
      graft.operators.OpCaches.releaseAll(spark)
    }
  }

  test("the lists scan prunes to the probed partitions") {
    val corpus = clusteredCorpus(perCluster = 60)
    val queries = corpus.filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
    TempDirs.withTempDir("graft_ivf2") { tmp =>
      val path = tmp.toString
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", path, nCentroids = 8)
      val df = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
        path, k = 3, nProbe = 2)
      df.collect()
      val plan = PlanText.finalPlan(df.queryExecution.executedPlan.toString)
      // Directory-level partition pruning: the IN-filter on centroid_id
      // must appear as a PartitionFilters entry on the lists scan, so only
      // the probed directories are read.
      val scanLine = plan.linesIterator
        .find(l => l.contains("FileScan") && l.contains("lists")).getOrElse("")
      assert(scanLine.contains("PartitionFilters: [") &&
        scanLine.contains("centroid_id"),
        s"probe filter not pushed to partition pruning:\n$plan")
      graft.operators.OpCaches.releaseAll(spark)
    }
  }

  test("append then query ≡ same-centroid full assignment (incremental maintenance)") {
    import org.apache.spark.sql.functions.col
    val corpus = clusteredCorpus(perCluster = 60)
    val partA = corpus.filter(col("vec_id") < 300L)
    val partB = corpus.filter(col("vec_id") >= 300L)
    TempDirs.withTempDir("graft_ivf4") { tmp =>
      val path = tmp.toString
      Similarity.buildIvfIndex(partA, "vec_id", "embedding", path, nCentroids = 8)
      Similarity.appendToIvfIndex(partB, "vec_id", "embedding", path)
      // The lists table must now equal assigning the WHOLE corpus with the
      // index's (part-A-fit) centroids — the exact relation a from-scratch
      // build with these centroids would write. (A plain rebuild re-fits the
      // quantizer on A∪B, so equality is asserted against the same-centroid
      // reference, which is what the append contract promises.)
      val cents = spark.read.parquet(s"$path/centroids")
        .orderBy("centroid_id").collect().map(_.getSeq[Double](1).toArray)
      val expected = Similarity.assignToCentroids(
          corpus.withColumnsRenamed(Map("vec_id" -> "neighbor_id", "embedding" -> "nv")),
          "neighbor_id", "nv", cents, 1)
        .select("neighbor_id", "centroid_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val got = spark.read.parquet(s"$path/lists")
        .select("neighbor_id", "centroid_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == expected, "appended lists diverge from same-centroid assignment")
      // And appended rows are reachable through the query path: a part-B
      // query over its own cluster must surface part-B neighbors.
      val queries = partB.filter(col("vec_id") === 420L)
      val hits = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
          path, k = 5, nProbe = 2)
        .collect().map(_.getLong(1))
      assert(hits.nonEmpty && hits.exists(_ >= 300L),
        s"appended rows not reachable via the index: ${hits.mkString(",")}")
      graft.operators.OpCaches.releaseAll(spark)
    }
  }

  test("centroids round-trip through the index directory") {
    val corpus = clusteredCorpus(perCluster = 30)
    TempDirs.withTempDir("graft_ivf3") { tmp =>
      val path = tmp.toString
      val built = Similarity.buildIvfIndex(corpus, "vec_id", "embedding", path, nCentroids = 4)
      val read = spark.read.parquet(s"$path/centroids")
        .orderBy("centroid_id").collect().map(_.getSeq[Double](1).toArray)
      assert(read.length == built.length)
      built.zip(read).foreach { case (a, b) => assert(a.sameElements(b)) }
    }
  }
}
