package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without process forks.
  *
  * Without the native-hadoop library (a pip-installed Spark ships none),
  * `RawLocalFileSystem` forks `chmod` for every file create and every
  * mkdir with a mode, and `readlink` for every link-status check; a
  * `FileContext.rename(…, OVERWRITE)` makes two link-status checks, and
  * Spark commits streaming offsets, commits and state-store deltas that
  * way. A fork costs 5–20 ms where the `java.nio` call costs well under
  * one. These classes replace exactly those two calls, and make a
  * `FileContext.rename` with OVERWRITE of a file onto a file one
  * rename(2) (stock Hadoop deletes the destination first, so a crash in
  * between leaves no file at all); everything else, `.crc` sidecars
  * included, is stock Hadoop.
  *
  * [[LocalFileSystems.sparkConfigs]] binds them for a session. Hadoop's
  * FileSystem cache is JVM-wide, so the first `file:` lookup of the JVM
  * decides which class every later `FileSystem.get` returns.
  */
object LocalFileSystems {

  /** The Spark confs that bind the `file:` scheme to these classes, for
    * `FileSystem` and for `FileContext`. */
  val sparkConfigs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  private[io] val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The POSIX permission set of `perm`'s nine rwx bits; the enum lists
    * them from owner-read (bit 8) down to others-execute (bit 0). */
  private[io] def posixSet(perm: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    val mode = perm.toShort
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) => if ((mode & (1 << (8 - i))) != 0) set.add(p) }
    set
  }
}

/** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus`
  * served by `java.nio` instead of a `chmod` / `readlink` fork. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits through `Files.setPosixFilePermissions`; a sticky
    * bit (no POSIX-view equivalent) or a non-POSIX filesystem goes to the
    * stock call. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !LocalFileSystems.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFileSystems.posixSet(permission))

  /** Only a real symlink needs the stock call; for anything else it
    * returns `getFileStatus(f)` (and throws its FileNotFoundException). */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** The checksummed `file:` FileSystem (`.crc` sidecars) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true

  /** An OVERWRITE rename of a file onto another file is one atomic
    * `rename(2)`: `dst` names the old file, then the new one, and is never
    * missing. The inherited version deletes `dst` and renames after it.
    * Anything else (no overwrite, a directory or symlink on either side,
    * `dst` absent) keeps the stock checks. */
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    val raw = fsImpl.asInstanceOf[RawLocalFileSystem]
    val (s, d) = (raw.pathToFile(src).toPath, raw.pathToFile(dst).toPath)
    if (overwrite && s != d && Files.isRegularFile(s, LinkOption.NOFOLLOW_LINKS) &&
        Files.isRegularFile(d, LinkOption.NOFOLLOW_LINKS))
      Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
    else super.renameInternal(src, dst, overwrite)
  }
}

/** The checksummed `file:` AbstractFileSystem, what `FileContext` (and so
  * Spark's streaming checkpoint manager) uses: `LocalFs` over
  * [[NioRawLocalFs]]. `FileContext` instantiates it by its `(URI,
  * Configuration)` constructor; like `LocalFs`, it ignores the URI. The
  * primary constructor takes the filesystem under the checksums. */
class NioLocalFs(raw: AbstractFileSystem) extends ChecksumFs(raw) {
  def this(uri: URI, conf: Configuration) = this(new NioRawLocalFs(conf))

  /** Drops `dst`'s `.crc` before the stock rename moves the data and then
    * the `.crc`. A crash between those two steps then leaves the new data
    * with no checksum (read unverified), not under the old one (a
    * ChecksumException on every read). */
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    if (overwrite) getMyFs.delete(getChecksumFile(dst), false)
    super.renameInternal(src, dst, overwrite)
  }
}
