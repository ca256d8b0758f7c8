package graft.pipeline

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local file system without a forked `chmod` per file. Without
  * Hadoop's native library, `RawLocalFileSystem.setPermission` starts a
  * `chmod` process for every staged directory, data file and `.crc`
  * sidecar a write creates; here the same mode bits are set in-process
  * through NIO, with or without the native library. Bound to the `file`
  * scheme per write, never per session: pass [[writeOptions]] to a
  * `DataFrameWriter`, or use [[hadoopConf]] for a direct `FileSystem`
  * write (`LocalFsSpec` fails on a `graft.pipeline` write that does
  * neither). On other schemes the settings do nothing.
  */
object LocalFs {

  /** `setPermission` through NIO; Hadoop's own path for the sticky bit
    * (no NIO equivalent) and on a file system without POSIX attributes.
    */
  class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL
        try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }

  /** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]],
    * so every data file keeps its `.crc` sidecar.
    */
  class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

  /** Writer options binding `file:` to [[NioLocalFileSystem]]. The cache
    * is bypassed so the default instance cached for `file:` is not
    * returned instead.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of the session's Hadoop configuration with [[writeOptions]]
    * set, for writes that open a `FileSystem` themselves.
    */
  def hadoopConf(spark: SparkSession): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    writeOptions.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
