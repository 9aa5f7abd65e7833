package graft.storage

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`file:`) whose permission
  * changes make the chmod(2) call in-process.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission` forks
  * a `chmod` child process, and Hadoop calls it on every file it creates
  * (parquet part files, committer directories, checkpoint temp files,
  * the gold batch markers). Here the same mode bits go through
  * `Files.setPosixFilePermissions`. A mode with the sticky bit, which
  * java.nio cannot set, still goes the forking way. Installed as
  * `fs.file.impl` by [[graft.streaming.Pipeline.rocksDbConfigs]], in
  * place of whichever `file:` filesystem the classpath's service entries
  * would pick (Hive's `ProxyLocalFileSystem` with Spark's jars).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  private[storage] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
