package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session (`spark.hadoop.fs.file.impl`,
  * set in [[Sessions.local]]): Hadoop's checksummed [[LocalFileSystem]] over
  * a raw filesystem whose `setPermission` is an in-process
  * `Files.setPosixFilePermissions`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and `create` and `mkdirs` call it for every checkpoint file,
  * `.crc` sidecar and state directory a standing statement writes. The
  * permission bits set are the same; a sticky bit, which the NIO call
  * cannot express, still goes through Hadoop's own path.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
  }
}
