package graft

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/**
 * `file://` for every engine session: Hadoop's checksummed
 * `LocalFileSystem` over [[NioRawLocalFileSystem]]. Installed by
 * [[graft.plans.GraftExtensions]] as `fs.file.impl` (unless the session
 * already names one), so every session carrying the engine's extensions
 * gets it — [[Session]]'s and any other builder's alike.
 */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/**
 * Hadoop's raw local filesystem with `setPermission` done in-process.
 * Without the native Hadoop library, the stock class runs `/bin/chmod`
 * as a child process for every directory and file a write creates
 * (`mkdirs`, each parquet part and `.crc` file, the committer's
 * `_temporary` tree): 36–37 processes per ann build→search or anonymize
 * cycle, about 1.6 ms each. Here the same mode bits are set with
 * `Files.setPosixFilePermissions`; a mode beyond rwx (sticky, setuid)
 * still takes the stock path. ReadSpec pins that a written parquet
 * directory gets the stock filesystem's modes.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
      java.nio.file.attribute.PosixFilePermissions.fromString(
        (8 to 0 by -1).map(i =>
          if ((mode >> i & 1) != 0) "rwx"((8 - i) % 3) else '-').mkString))
  }
}
