package graft.store

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, checksums included, with its permission
  * changes made through `java.nio`. Without Hadoop's native library,
  * `RawLocalFileSystem` forks a `chmod` process for every directory and
  * file it creates (~1.3 ms each on an idle 4-core box), and a parquet
  * write through the output committer creates about ten. The append's
  * write ([[EventsTable.append]]) runs on this file system; it writes the
  * same files with the same permissions.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Write options that run a `DataFrameWriter` on this file system:
    * the options reach the write's Hadoop configuration, and the cache
    * is bypassed because it holds the default local file system.
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    // the sticky bit has no `PosixFilePermission`; it keeps the fork
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
