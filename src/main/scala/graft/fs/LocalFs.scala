package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without child processes. Without `libhadoop`,
  * Hadoop's `RawLocalFileSystem` forks `chmod` for every `setPermission`
  * (each file create and mkdir) and `readlink` for every
  * `getFileLinkStatus` (twice per `FileContext` rename): a few to tens
  * of milliseconds each, on every checkpoint log entry, state-store
  * delta and sink file of a micro-batch. This class answers both from
  * `java.nio.file`; every other method, and the two for the cases NIO
  * does not cover (sticky bit, symlinks), stay Hadoop's. The program's
  * `core-site.xml` registers it for both Hadoop APIs. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(permission.toShort))

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NioRawLocalFileSystem {
  // OWNER_READ .. OTHERS_EXECUTE: the rwxrwxrwx bits, high to low
  private val Bits = PosixFilePermission.values()

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) s.add(Bits(i)))
    s
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (`FileContext`, which Spark's
  * checkpoint and state-store files go through): Hadoop's checksummed
  * `LocalFs` over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** `org.apache.hadoop.fs.local.RawLocalFs`, delegating to
  * [[NioRawLocalFileSystem]]; its constructors are package-private. */
private class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
