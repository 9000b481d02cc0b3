package graft

import java.nio.file.{Files, Path}

object TempDirs {
  /** Run `body` over a fresh temp dir named after `prefix`, and delete the
    * dir and everything in it when `body` returns or throws.
    */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
