package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils

/** Scratch directories for tests, in the shape of [[Artifacts]]: one temp
  * root per JVM, deleted at exit by one shutdown hook, so a test run
  * leaves nothing behind in the system temp directory.
  */
object TestDirs {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-test")
    sys.addShutdownHook(FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** A fresh, empty directory named `<prefix><random>` under this JVM's root. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
