package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's local file system without its shell commands. Spark ships
  * without Hadoop's native library, so `RawLocalFileSystem` forks `chmod`
  * on every file create and mkdir, and `readlink` twice on every
  * FileContext rename (with a `file:`-qualified string it never resolves).
  * These two overrides do the same through `java.nio`, in process. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    // PosixFilePermission lists owner rwx, group rwx, others rwx: 0400 first
    val perms = PosixFilePermission.values.zipWithIndex
      .collect { case (perm, i) if (bits & (0x100 >> i)) != 0 => perm }
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val status = getFileStatus(f)
    val file = pathToFile(f).toPath
    if (Files.isSymbolicLink(file))
      status.setSymlink(new Path(Files.readSymbolicLink(file).toString))
    status
  }
}

/** `fs.file.impl`: the FileSystem API, with the `.crc` twins. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` without checksums; mirrors
  * Hadoop's `RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file",
                                 false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` with checksums; mirrors Hadoop's
  * `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
