package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileContext, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without a process per file. Without libhadoop,
  * Hadoop's `RawLocalFileSystem` runs `chmod` in a new process for
  * every file and directory it creates, and `readlink` for every
  * `getFileLinkStatus`, which each `FileContext` rename calls on both
  * ends. Spark's streaming offset and commit logs and its state store
  * write through `FileContext`; parquet and CSV writes go through
  * `FileSystem`. At 4–5 ms per fork that was most of a small streaming
  * micro-batch's commit and planning time.
  *
  * This raw file system sets modes through `java.nio`, with the same
  * nine permission bits. Modes with other bits (sticky, setuid) and
  * file systems without POSIX attributes take the stock path. A
  * non-link's link status is its plain `getFileStatus`, which is what
  * the stock path returns too: it runs `readlink` on the qualified
  * `file:/…` string, which always fails. A real symbolic link takes
  * the stock path.
  *
  * [[GraftLocalFileSystem]] (`FileSystem`) and [[GraftLocalFs]]
  * (`FileContext`) wrap it with checksums, as `LocalFileSystem` and
  * `LocalFs` wrap the stock one. [[Tables.graftSession]] registers both
  * for the `file` scheme only and fails if the session resolves to
  * anything else.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~GraftLocalFs.RwxBits) != 0 || !GraftLocalFs.chmod(pathToFile(p).toPath, mode))
      super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` over [[GraftRawLocalFileSystem]]
  * (`fs.file.impl`).
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `RawLocalFs` over [[GraftRawLocalFileSystem]]: the `FileContext`
  * delegate with `RawLocalFs`'s overrides (no default port, local
  * server defaults, every name valid).
  */
class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()

  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` file system over [[GraftRawLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`), as `LocalFs` is over `RawLocalFs`.
  * Hadoop constructs it by reflection with `(URI, Configuration)`; like
  * `LocalFs` it ignores the URI.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

object GraftLocalFs {

  /** The owner/group/other rwx bits; a mode with any other bit set goes
    * to the stock `chmod`.
    */
  private[sources] val RwxBits: Int = 0x1ff

  /** Session configs that route the `file` scheme here. */
  val configs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  // PosixFilePermission's declaration order is OWNER_READ … OTHERS_EXECUTE,
  // i.e. mode bits 8 down to 0
  private val bitOrder = PosixFilePermission.values.toSeq

  /** Set the nine rwx bits of `mode` on `file`; false when its file
    * system has no POSIX attributes.
    */
  private[sources] def chmod(file: NioPath, mode: Int): Boolean = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bitOrder.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) perms.add(p)
    }
    try { Files.setPosixFilePermissions(file, perms); true }
    catch { case _: UnsupportedOperationException => false }
  }

  /** Fail unless `conf` resolves `file:` to the graft classes for both
    * `FileSystem` and `FileContext`. `FileSystem`'s cache is keyed on
    * scheme and user, not conf, so an instance created before the
    * session was configured wins silently.
    */
  def requireResolved(conf: Configuration): Unit = {
    val local = new URI("file:///")
    val fs = FileSystem.get(local, conf).getClass
    val afs = FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass
    require(fs == classOf[GraftLocalFileSystem] && afs == classOf[GraftLocalFs],
      s"graftSession: the session's file: scheme resolves to ${fs.getName} " +
        s"(FileSystem) and ${afs.getName} (FileContext), not the graft local " +
        "file system; a FileSystem for file:/// was cached before the session " +
        "was built (the cache ignores conf), or fs.file.impl / " +
        "fs.AbstractFileSystem.file.impl were overridden")
  }
}
