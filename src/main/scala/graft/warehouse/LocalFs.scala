package graft.warehouse

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's checksummed
  * `LocalFileSystem` (so `.crc` side files are written and verified as
  * before) over a raw filesystem that sets permissions through
  * `java.nio` instead of a `chmod` process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks
  * `chmod <mode> <path>` for every directory `mkdirs` makes and every
  * file `create` opens, the `.crc` included: a few milliseconds each, on
  * the driver and in every write task, a few hundred times per model DAG
  * cycle. Hadoop applies the umask before calling it, so the `rwxr-xr-x`
  * form of the mode it receives is exactly what
  * `Files.setPosixFilePermissions` takes. The one bit `java.nio` cannot
  * set, the sticky bit, still goes through the shell.
  *
  * [[graft.EngineDefaults.tune]] installs it as `fs.file.impl` on the
  * session builder. Hadoop's `FileSystem` cache fixes the class at the
  * first `file:` lookup, so a session built elsewhere keeps its own
  * local filesystem. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private[warehouse] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
