package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every environment variable `src/main` reads is listed in README's
  * "Environment knobs" table, and the table lists nothing else: a knob
  * added, renamed or removed in code without its row (default and
  * reason) fails here. Spark work is counted in one place, [[Work]]: a
  * second listener in the sources fails here too. Every session setting
  * `src/main` makes is pinned by file and key, so a new one is a
  * reviewed change.
  */
class KnobInventorySpec extends AnyFunSuite {
  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** Names passed as string literals to `sys.env(...)`,
    * `sys.env.get(...)`, `sys.env.getOrElse(...)` or `System.getenv(...)`.
    */
  private val envRead =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r

  private def sources(root: String): List[Path] = {
    val files = scala.util.Using.resource(Files.walk(Paths.get(root)))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, s"no sources under $root")
    files
  }

  private def codeKnobs: Set[String] =
    sources("src/main").flatMap(f => envRead.findAllMatchIn(read(f)).map(_.group(1))).toSet

  /** A listener class or instance, its type written plain or qualified. */
  private val listenerDef = """\b(?:new|extends)\s+(?:[\w.]+\.)?SparkListener\b""".r

  /** Source files under `root` that define a listener, once per definition. */
  private def listeners(root: String): List[String] =
    sources(root).flatMap(f => listenerDef.findAllIn(read(f))
      .map(_ => Paths.get(root).relativize(f).toString))

  /** Every `conf.set` call, and the literal key of those that have one. */
  private val confSetCall = """\bconf\.set\(""".r
  private val confSetLiteral = """\bconf\.set\(\s*"([^"]+)"""".r

  private def readmeKnobs: Set[String] = {
    val text = read(Paths.get("README.md"))
    val start = text.indexOf("### Environment knobs")
    assert(start >= 0, "README.md has no \"### Environment knobs\" section")
    val rows = text.substring(start).linesIterator.drop(1)
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|"))
    rows.flatMap("""^\|\s*`([A-Za-z0-9_]+)`""".r.findFirstMatchIn(_).map(_.group(1))).toSet
  }

  test("the README knob table names exactly the env variables src/main reads") {
    val code = codeKnobs
    val table = readmeKnobs
    assert(code.nonEmpty, "no env reads found under src/main")
    assert(code == table,
      s"read in code but not in the table: ${(code -- table).toSeq.sorted}; " +
        s"in the table but not read: ${(table -- code).toSeq.sorted}")
  }

  test("src/main defines one SparkListener, graft.Work's, and src/test none") {
    assert(listeners("src/main") == List("scala/graft/Work.scala"))
    assert(listeners("src/test").isEmpty)
  }

  test("src/main sets exactly the pinned session settings, each by a literal key") {
    val sites = sources("src/main").flatMap { f =>
      val text = read(f)
      val file = Paths.get("src/main").relativize(f).toString
      assert(confSetCall.findAllIn(text).size == confSetLiteral.findAllIn(text).size,
        s"$file sets a session setting whose key is not a string literal")
      confSetLiteral.findAllMatchIn(text).map(m => file -> m.group(1))
    }.toSet
    assert(sites == Set(
      "scala/graft/Tables.scala" -> "spark.sql.legacy.parquet.nanosAsLong",
      "scala/graft/StreamQueries.scala" -> "spark.sql.shuffle.partitions",
      "scala/graft/Queries.scala" -> "spark.sql.files.openCostInBytes",
      "scala/graft/Queries.scala" -> "spark.sql.files.maxPartitionBytes",
      "scala/graft/Queries.scala" -> "spark.sql.join.preferSortMergeJoin",
      "scala/graft/job/JobCorpus.scala" -> "spark.sql.adaptive.enabled",
      "scala/graft/job/JobCorpus.scala" -> "spark.sql.codegen.wholeStage",
      "scala/graft/job/JobCorpus.scala" -> "spark.sql.constraintPropagation.enabled",
      "scala/graft/job/JobCorpus.scala" -> "spark.sql.join.preferSortMergeJoin",
      "scala/graft/planner/CompassSession.scala" -> "spark.sql.cbo.joinReorder.enabled",
      "scala/graft/planner/CompassSession.scala" -> "spark.sql.cbo.starSchemaDetection"))
  }
}
