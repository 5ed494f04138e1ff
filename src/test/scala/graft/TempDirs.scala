package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils

/** Temporary directories and files for the specs, all under one root
  * per test JVM that a shutdown hook deletes, so a test run leaves
  * nothing behind in the system temp directory.
  */
object TempDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-specs")
    sys.addShutdownHook(FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** A new empty directory whose name starts with `prefix`. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** A new empty file named `prefix<random>suffix`. */
  def file(prefix: String, suffix: String): Path =
    Files.createTempFile(root, prefix, suffix)
}
