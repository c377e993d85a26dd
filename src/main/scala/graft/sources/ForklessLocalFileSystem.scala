package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` file system, except that setting a
  * permission forks no process. Without the native Hadoop library,
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process,
  * and every `mkdirs` and every `create` with a permission calls it:
  * each streaming checkpoint temp file, each checkpoint directory and
  * each parquet part file. This one sets the same nine rwx bits in
  * process. Installed for every graft session by
  * [[Tables.sessionConfs]] as `fs.file.impl`. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
}
