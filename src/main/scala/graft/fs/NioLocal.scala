package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per call.
  *
  * Without `libhadoop`, stock `RawLocalFileSystem` forks `chmod` on every
  * file create and mkdir, and forks `readlink` on every
  * `getFileLinkStatus`, which `FileContext.rename` calls for source,
  * destination and parent. A checkpointed stream commits offsets, commits
  * and state-store deltas as temp-file-then-rename, so one 10k-event
  * batch of the silver stream paid about 900 forks. The two overrides
  * below do the same work in-process with `java.nio.file`; everything
  * else (bytes, `.crc` files, rename and create semantics) is Hadoop's.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through NIO. Sticky or setuid modes, and filesystems
    * without POSIX attributes, keep Hadoop's own code. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioLocal.posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** For anything but a symlink Hadoop returns `getFileStatus(f)`; it
    * finds that out by forking `readlink` (which, given the `file:`
    * path string `FileContext` passes, always fails). Symlinks, dangling
    * ones included, still go to Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` for `file:` (`fs.file.impl`): parquet
  * sinks and `Registry` writes. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFs` over [[NioRawLocalFileSystem]], with `RawLocalFs`'s own
  * overrides (its constructor is package-private). */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` for `file:`
  * (`fs.AbstractFileSystem.file.impl`): what
  * `FileContextBasedCheckpointFileManager` writes offsets, commits and
  * state stores through. Hadoop instantiates it reflectively with
  * `(URI, Configuration)`. Spark's `CheckpointFileManager.isLocal` reports
  * false for it; nothing in Spark SQL reads that. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

object NioLocal {
  private val Bits = PosixFilePermission.values // owner rwx, group rwx, others rwx

  private[fs] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(Bits(i)))
    s
  }

  /** Points `file:` at the classes above, where `conf` still names
    * Hadoop's defaults; a filesystem set by the user is left alone.
    * `FileSystem.get` caches per scheme, not per conf, so this must run
    * before the first `file:` filesystem is created in the JVM. */
  def install(conf: Configuration): Unit = Seq(
    "fs.file.impl" -> (classOf[LocalFileSystem], classOf[NioLocalFileSystem]),
    "fs.AbstractFileSystem.file.impl" -> (classOf[LocalFs], classOf[NioLocalFs]),
  ).foreach { case (key, (stock, nio)) =>
    val current = conf.get(key)
    if (current == null || current == stock.getName) conf.set(key, nio.getName)
  }
}
