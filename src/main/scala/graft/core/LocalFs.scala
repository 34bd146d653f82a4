package graft.core

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * The `file:` filesystem of every graft session: Hadoop's local
 * filesystem without its shell commands.
 *
 * Without libhadoop (`NativeIO.isAvailable()` false), stock
 * `RawLocalFileSystem` forks `chmod` for every file and directory it
 * creates with a permission, and `readlink` for every link-status check
 * a `FileContext` rename makes. A streaming trigger's three metadata-log
 * writes, its committer set-up and each parquet file it writes pay
 * 2.2–2.5 ms per fork. Here both are plain `java.nio` calls:
 *  - `setPermission` sets the 9 mode bits through the POSIX attribute
 *    view;
 *  - `getFileLinkStatus` answers `getFileStatus` for anything that is not
 *    a symbolic link.
 * Each falls back to the stock code where `java.nio` cannot give the
 * same answer: mode bits beyond `0777` (sticky, setuid), a filesystem
 * without a POSIX view, and a real symbolic link.
 *
 * [[GraftSession.configure]] installs the checksummed [[LocalFs.FileSystem]]
 * as `fs.file.impl` (parquet writers, committers, table swaps) and the
 * [[LocalFs.AbstractFs]] as `fs.AbstractFileSystem.file.impl` (the
 * `FileContext` behind Spark's streaming offset, commit and source logs).
 */
object LocalFs {

  /** `RawLocalFileSystem` with `java.nio` permission and link checks. */
  class RawFileSystem extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // beyond 0777
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The checksummed `fs.file.impl` over [[RawFileSystem]]. */
  class FileSystem extends LocalFileSystem(new RawFileSystem)

  /** The raw `AbstractFileSystem` over [[RawFileSystem]]. Mirrors stock
    * `RawLocalFs`, whose constructor hard-codes `new RawLocalFileSystem()`. */
  class RawAbstractFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** The checksummed `fs.AbstractFileSystem.file.impl` over [[RawAbstractFs]]. */
  class AbstractFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawAbstractFs(uri, conf))

  /** The two Hadoop keys that install this filesystem. */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[FileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[AbstractFs].getName)

  /** Sets [[hadoopConf]] on `conf` and evicts a stock `file:` instance
    * from Hadoop's per-JVM `FileSystem` cache, where one made before the
    * first graft session would otherwise outlive it; `close` is how an
    * instance leaves that cache. */
  def install(conf: Configuration): Unit = {
    hadoopConf.foreach { case (k, v) => conf.set(k, v) }
    val cached = org.apache.hadoop.fs.FileSystem.get(URI.create("file:///"), conf)
    if (!cached.isInstanceOf[FileSystem]) cached.close()
  }

  /** `mode`'s 9 permission bits as POSIX permissions; the enum runs
    * OWNER_READ (0400) … OTHERS_EXECUTE (0001). */
  private def posix(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    attribute.PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }
}
