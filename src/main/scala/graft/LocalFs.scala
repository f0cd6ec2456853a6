package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

/** The `file:` filesystem under Spark's checkpoint and state-store
  * files, without the shell commands Hadoop's local filesystem forks
  * when libhadoop is absent: one `chmod` per created file or directory
  * and one `readlink` per link check (a rename checks four paths).
  * Streaming writes those files on every micro-batch, through
  * `FileContext`, so [[GraftConf.ensure]] registers [[LocalFs.Fs]] as
  * `fs.AbstractFileSystem.file.impl`. Bytes, permission bits, atomic
  * renames and `.crc` files are those of the stock classes; sticky
  * modes, non-POSIX stores and symlinks still take the stock code.
  */
object LocalFs {
  /** [[RawLocalFileSystem]] with `chmod` and the link check in java.nio. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch {
        case e: NoSuchFileException => throw new FileNotFoundException(e.getFile)
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `AbstractFileSystem` view of [[Raw]], as Hadoop's `local.RawLocalFs`. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** [[RawFs]] with `.crc` files, as Hadoop's `local.LocalFs`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** The nine rwx bits of `mode`, owner read first. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) bits.add(p)
    }
    bits
  }
}
