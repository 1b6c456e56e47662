package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset}

/** Hadoop's `RawLocalFileSystem` without child processes. With no
  * libhadoop on the library path, Hadoop runs `chmod` in `setPermission`
  * and `readlink` in `getFileLinkStatus`. A streaming checkpoint calls
  * both for every file it writes and renames — about 115 forks per
  * micro-batch of a stateful stream — and a DataFrame write runs `chmod`
  * for every directory and file it makes. Both overrides leave the file
  * system exactly as Hadoop's shell commands would, and hand every case
  * they cannot match with java.nio back to Hadoop:
  *  - `setPermission` calls `Files.setPosixFilePermissions`, except for a
  *    sticky mode (nio cannot set the bit) and for a directory carrying
  *    setuid/setgid (GNU `chmod 0755` keeps those bits on a directory,
  *    the chmod syscall would clear them).
  *  - `getFileLinkStatus` of a path that is not a symlink is
  *    `getFileStatus`, which is what Hadoop returns when `readlink`
  *    prints nothing. Hadoop runs `readlink` on `Path.toString`, so both
  *    that string and the resolved file are checked.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!posix || permission.getStickyBit ||
        (Files.isDirectory(file) &&
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0x0c00) != 0))
      super.setPermission(p, permission)
    else {
      val mode = permission.toShort & 0x1ff
      Files.setPosixFilePermissions(file, Bits.collect {
        case (perm, bit) if (mode & bit) != 0 => perm
      }.toSet.asJava)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!posix || Files.isSymbolicLink(pathToFile(f).toPath) ||
        Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

private object NioRawLocalFileSystem {
  val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  /** OWNER_READ .. OTHERS_EXECUTE against 0400 .. 0001. */
  val Bits: Seq[(PosixFilePermission, Int)] =
    PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) =>
      p -> (0x100 >> i)
    }
}

/** `fs.file.impl` for FileSystem users — the file writes of
  * [[NioLocalFs.writer]]. Hadoop's own `LocalFileSystem`, a
  * `ChecksumFileSystem` over a raw file system, with
  * [[NioRawLocalFileSystem]] as that raw file system: `.crc` sidecars and
  * every mode stay as they are with `LocalFileSystem`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` for FileContext users — the
  * streaming checkpoint file managers. Hadoop's own `LocalFs` layering,
  * `ChecksumFs` over a `DelegateToFileSystem`, with
  * [[NioRawLocalFileSystem]] underneath: `.crc` sidecars, the atomic
  * no-clobber rename and every mode stay as they are with `LocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** The Hadoop key that picks the FileContext implementation of
    * `file:` paths. */
  val ImplKey = "fs.AbstractFileSystem.file.impl"

  /** The one way the library writes a Dataset to files: `ds.write` with
    * `file:` paths bound to [[NioLocalFileSystem]] for this write only.
    * Spark merges writer options into the write job's Hadoop conf, so the
    * driver's committer (its `_temporary` and `.spark-staging-*` trees,
    * overwrite deletes and dynamic-partition renames) and every task's
    * output stream make their directories and files without a `chmod`
    * child process. Modes, `_SUCCESS` and the commit protocol are Spark's
    * own. Hadoop caches one FileSystem per scheme whatever conf asks for
    * it, so the binding also turns the cache off for the write: each
    * `getFileSystem` call of the write builds a new instance, which holds
    * no resource. Nothing is bound JVM-wide or session-wide.
    */
  def writer[T](ds: Dataset[T]): DataFrameWriter[T] =
    ds.write
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")

  /** Hadoop's `RawLocalFs`, whose constructors are package-private. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
