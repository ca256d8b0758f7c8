package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one catalog of committed session artifacts: every table or index
  * the analysis queries build once and then read from disk (curated
  * corpora and their dedup index, the BM25 index, the committed extract
  * and streamed tables, WARC segments, the CDX index) is one directory
  * here.
  *
  * Layout: `<root>/<sessionUUID>/<name>-<sfDir key>`. The root is one temp
  * directory per JVM, deleted at exit by one shutdown hook. Keying on the
  * session's UUID means `newSession()` builds its own copy, so a fresh
  * session never inherits another session's builds.
  *
  * A directory counts as built once its `<dir>.built` marker exists. The
  * marker is written after `build` returns, so a build that throws leaves
  * none, and the next call rebuilds into an emptied directory.
  *
  * Builds run under one reentrant lock, not inside a map update, so a
  * build may request another artifact (the CDX index requests the WARC
  * segments it indexes).
  */
object Artifacts {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-artifacts")
    sys.addShutdownHook(FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** The directory of artifact `name` over `sfDir` in session `s`, built
    * by `build(dir)` on first request. `build` receives an empty,
    * existing directory.
    */
  def dir(s: SparkSession, sfDir: String, name: String)(build: String => Unit): String =
    synchronized {
      // `sessionUUID` is `private[sql]` in Scala; its JVM accessor is public
      val uuid = s.getClass.getMethod("sessionUUID").invoke(s).toString
      val key = java.util.UUID.nameUUIDFromBytes(sfDir.getBytes("UTF-8"))
      val d = root.resolve(uuid).resolve(s"$name-$key")
      val marker = d.resolveSibling(s"${d.getFileName}.built")
      if (!Files.exists(marker)) {
        FileUtils.deleteQuietly(d.toFile)
        Files.createDirectories(d)
        build(d.toString)
        Files.createFile(marker)
      }
      d.toString
    }
}
