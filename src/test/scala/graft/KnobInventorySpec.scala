package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every environment variable `src/main` reads is listed in README's
  * "Environment knobs" table, and the table lists nothing else: a knob
  * added, renamed or removed in code without its row (default and
  * reason) fails here.
  */
class KnobInventorySpec extends AnyFunSuite {
  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** Names passed as string literals to `sys.env(...)`,
    * `sys.env.get(...)`, `sys.env.getOrElse(...)` or `System.getenv(...)`.
    */
  private val envRead =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r

  private def codeKnobs: Set[String] = {
    val files = scala.util.Using.resource(Files.walk(Paths.get("src/main")))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, "no sources under src/main")
    files.flatMap(f => envRead.findAllMatchIn(read(f)).map(_.group(1))).toSet
  }

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
}
