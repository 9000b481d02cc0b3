package graft

import graft.engine.LocalSession
import graft.job.JobCorpus
import org.scalatest.funsuite.AnyFunSuite

/** The one home for derived sessions (`LocalSession.child`): a child is
  * built once per (parent, key), its settings are applied there and
  * nowhere else, and a JOB child carries the views of its own scale.
  */
class SessionRegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val key = "spark.sql.shuffle.partitions"

  test("the same key returns the same child, and init runs once") {
    var inits = 0
    def get = LocalSession.child(spark, ("registry-spec", "same")) { c =>
      inits += 1
      c.conf.set(key, "3")
    }
    val a = get
    assert(get eq a)
    assert(inits == 1)
    assert(a ne spark)
    assert(a.sparkContext eq spark.sparkContext, "children share the executors")
  }

  test("different settings give different children; settings never reach the parent") {
    val before = spark.conf.get(key)
    val three = LocalSession.child(spark, ("registry-spec", 3))(_.conf.set(key, "3"))
    val five = LocalSession.child(spark, ("registry-spec", 5))(_.conf.set(key, "5"))
    assert(three ne five)
    assert(three.conf.get(key) == "3" && five.conf.get(key) == "5")
    assert(spark.conf.get(key) == before)
    // The JOB profiles: two children, the trim confs only on one of them.
    val trim = JobCorpus.session(spark, trim = true, 1)
    val dflt = JobCorpus.session(spark, trim = false, 1)
    assert(trim ne dflt)
    assert(trim.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(dflt.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
  }

  test("a JOB child's views resolve at its own scale") {
    val x1 = JobCorpus.session(spark, trim = true, 1)
    val x2 = JobCorpus.session(spark, trim = true, 2)
    assert(x1 ne x2, "the scale is part of the key")
    def files(s: org.apache.spark.sql.SparkSession) =
      s.table("title").inputFiles.toSeq
    assert(files(x1).nonEmpty &&
      files(x1).forall(_.contains(s"${JobCorpus.dataPathFor(1)}/title.parquet")))
    assert(files(x2).nonEmpty &&
      files(x2).forall(_.contains(s"${JobCorpus.dataPathFor(2)}/title.parquet")))
    assert(x2.table("title").count() == 2 * x1.table("title").count())
    // Building the x2 child re-registers nothing on the x1 child.
    assert(JobCorpus.session(spark, trim = true, 1) eq x1)
    assert(files(x1).forall(_.contains(s"${JobCorpus.dataPathFor(1)}/title.parquet")))
  }

  test("children are per parent") {
    val other = spark.newSession()
    val a = LocalSession.child(spark, ("registry-spec", "parent"))(_ => ())
    val b = LocalSession.child(other, ("registry-spec", "parent"))(_ => ())
    assert(a ne b)
  }
}
