package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem without process forks.
  *
  * Without libhadoop's `NativeIO` (Spark's distribution ships none),
  * Hadoop's `RawLocalFileSystem` shells out for two calls that every
  * streaming micro-batch and every file write makes:
  *  - `setPermission` runs `chmod` (every `create` and `mkdirs` with a
  *    permission: checkpoint logs, state-store changelog and checksum
  *    files, the state schema, parquet parts and their `.crc` files);
  *  - `getFileLinkStatus` runs `readlink` (every `FileContext.rename`,
  *    which is how checkpoint files are committed).
  *
  * [[NioRawLocalFileSystem]] answers both through `java.nio` and hands
  * every case it does not cover to Hadoop's own code. [[NioLocalFileSystem]]
  * (`fs.file.impl`) and [[NioLocalFs]] (`fs.AbstractFileSystem.file.impl`)
  * put the usual checksum layer over it, as Hadoop's `LocalFileSystem`
  * and `LocalFs` do over `RawLocalFileSystem`. [[Graft.session]] sets
  * both through [[confs]].
  */
object LocalFs {

  /** The two Hadoop settings that route `file:` paths here, as Spark
    * builder confs.
    */
  val confs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Delete `f` and, for a directory, everything under it, through
    * `java.io` (Spark's own recursive delete forks `rm -rf`). A missing
    * path is a no-op; a directory that cannot be listed keeps its
    * contents.
    */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission.values` runs owner read … others execute,
    * the 9 mode bits from the highest down.
    */
  private val bits = PosixFilePermission.values.zipWithIndex.map { case (p, i) => (p, 1 << (8 - i)) }

  /** The permission set of a plain 9-bit mode; `None` for a mode with
    * sticky, setuid or setgid bits, which `java.nio` cannot set.
    */
  private[graft] def plainMode(perm: FsPermission): Option[java.util.Set[PosixFilePermission]] = {
    val mode = perm.toShort & 0xffff
    if (!posix || (mode & ~0x1ff) != 0) None
    else {
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      bits.foreach { case (p, b) => if ((mode & b) != 0) set.add(p) }
      Some(set)
    }
  }
}

/** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus`
  * answered in-process; see [[LocalFs]].
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions` (which follows links, as `chmod`
    * does) for a plain 9-bit mode; any other mode goes to Hadoop.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    LocalFs.plainMode(permission) match {
      case Some(set) => Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      case None => super.setPermission(p, permission)
    }

  /** A path that is not a symbolic link has its plain file status,
    * which is what Hadoop returns once `readlink` prints nothing; a
    * link goes to Hadoop.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` binding that
  * streaming checkpoints use: Hadoop's `LocalFs` over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]].
  */
private[graft] class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
