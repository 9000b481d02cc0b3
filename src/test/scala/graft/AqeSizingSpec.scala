package graft

import graft.engine.LocalSession
import graft.operators.{Components, Corpus, Prefix}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Task-count pin for the operators that materialize an intermediate
  * relation. On a session at Spark's default `spark.sql.shuffle.partitions`
  * (200, what perfbench and any default user session run with), AQE must
  * size every shuffle the operators materialize: a `persist()` of a
  * shuffle output (Spark plans a cached plan with AQE's final-stage
  * coalescing off) or a caller-fixed `repartitionByRange` count freezes
  * all 200 partitions into the relation, and every stage that reads it
  * then runs 200+ tasks on a few hundred rows. Each result must equal the
  * same call on the shared session.
  */
class AqeSizingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val at200 = LocalSession.child(spark, "shuffle-partitions-200") {
    _.conf.set("spark.sql.shuffle.partitions", "200")
  }

  /** Sorted rows of `run(s)`, and the work it did. */
  private def rowsAndWork(s: SparkSession)(run: SparkSession => DataFrame)
      : (Seq[String], Work.Counts) =
    Work.measure(s)(run(s).collect().map(_.toSeq.mkString("|")).sorted.toSeq)

  private def keyed(s: SparkSession): DataFrame = {
    import s.implicits._
    (1 to 400).map(i => ((i * 131) % 401, i.toLong % 7)).toDF("k", "v")
  }

  private def docs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq("the cat sat on the mat", "that hat is flat", "the bat ate the gnat",
      "a rat and a cat").toDF("text")
  }

  // `distinct` ends the edge relation in a shuffle, as the near-duplicate
  // pairs that feed dedupGroups do.
  private def edges(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L), (2L, 1L)).toDF("src", "dst").distinct()
  }

  private val calls: Seq[(String, SparkSession => DataFrame)] = Seq(
    "Prefix.withRunningSums" -> (s =>
      Prefix.withRunningSums(keyed(s), "k", Seq("v" -> "rv"))),
    "Corpus.bpeMerges" -> (s => Corpus.bpeMerges(docs(s), "text", rounds = 2)),
    "Components.connectedComponents" -> (s =>
      Components.connectedComponents(edges(s), "src", "dst")))

  calls.foreach { case (name, call) =>
    test(s"$name at 200 shuffle partitions: AQE sizes every stage, same result") {
      assert(at200.conf.get("spark.sql.shuffle.partitions") == "200")
      val (got, work) = rowsAndWork(at200)(call)
      assert(work.stages > 0, "the listener saw no stage")
      assert(work.maxStageTasks < 200, s"a stage ran ${work.maxStageTasks} tasks")
      val (expected, _) = rowsAndWork(spark)(call)
      assert(got.nonEmpty && got == expected)
    }
  }
}
