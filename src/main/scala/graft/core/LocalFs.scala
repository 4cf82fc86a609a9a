package graft.core

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem, minus the process forks. Without `libhadoop`
  * the stock class runs a `chmod` for every file and directory it creates
  * and a `readlink` for every `getFileLinkStatus` (two per checkpoint
  * rename); a short stream's state commits and a parquet write's shards
  * pay them per file. Both are done in-JVM here, with the same result;
  * everything else (checksums, rename, create) is Hadoop's own.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit || !LocalFs.posix) super.setPermission(p, perm)
    else {
      val mode = perm.toShort
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order is owner r/w/x, group r/w/x, others r/w/x: 0400 … 0001
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }

  // Hadoop asks `readlink` about `new File(f.toString)` and, when that is
  // not a link, returns getFileStatus(f); only real links take its path
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` API (`fs.file.impl`): Hadoop's checksummed wrapper. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API (`fs.AbstractFileSystem.file.impl`), as Hadoop's
  * `local.LocalFs` over `local.RawLocalFs`.
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))

object LocalFs {
  private[core] val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Session confs that route the `file:` scheme through these classes. */
  val confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)
}
