package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem ([[graft.LocalSession.engineConfs]]):
  * Hadoop's `LocalFileSystem`, `.crc` sidecars and all, over a raw
  * filesystem that sets permissions in-process. */
class LocalFs extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Hadoop's `RawLocalFileSystem` with one change: `setPermission`,
  * which every `create` and every created directory calls, goes through
  * `java.nio` instead of forking `chmod` (Hadoop's fallback when
  * `libhadoop` is not loaded). NIO has no sticky bit, so a permission
  * carrying one keeps Hadoop's own path. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
