package graft.io

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException, NotLinkException}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` raw layer without process forks.
  *
  * Hadoop's `RawLocalFileSystem` without its native library (the Spark
  * jars this builds against ship none) runs a shell command for every permission change (`chmod` on
  * each create and mkdirs), every permission read (`ls -ld`) and every
  * link-status probe (`readlink`, on each FileContext rename). On the
  * CDC lane that was thousands of process starts per run: streaming
  * checkpoint and state-store renames, parquet writer creates, table
  * listings. This layer answers the same calls with NIO attribute calls
  * on the same bits:
  *   - `setPermission` (and so create and mkdirs) sets the mode;
  *   - statuses load permission, owner and group lazily, on first ask,
  *     as Hadoop's own status does; nothing on the read path asks;
  *   - `getFileLinkStatus` / `getLinkTarget` read the link itself.
  * The mode travels through NIO's `unix` view rather than the `posix`
  * one, so the sticky bit round-trips as it does through `chmod` and
  * `ls -ld`.
  * Where that view is unsupported every override defers to `super`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView) super.setPermission(p, permission)
    else Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Int.box(permission.toShort & ModeBits))

  override def getFileStatus(f: Path): FileStatus =
    if (!unixView) super.getFileStatus(f) else status(f, follow = true)

  // super lists a directory through getFileStatus per entry; only the
  // single-file answer bypasses it
  override def listStatus(f: Path): Array[FileStatus] =
    if (unixView && !pathToFile(f).isDirectory) Array(getFileStatus(f))
    else super.listStatus(f)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!unixView) super.getFileLinkStatus(f)
    else {
      val st = status(f, follow = false)
      if (st.isSymlink)
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
    }

  override def getLinkTarget(f: Path): Path =
    if (!unixView) super.getLinkTarget(f) else status(f, follow = false).getSymlink

  /** One stat. A missing path (any failed stat, as `File.exists` reads
    * it) is a FileNotFoundException: FileContext's rename treats exactly
    * that as "no destination". A link's status keeps the link's own
    * attributes and its unqualified target. */
  private def status(f: Path, follow: Boolean): FileStatus = {
    val file = pathToFile(f)
    val opts = if (follow) Nil else Seq(LinkOption.NOFOLLOW_LINKS)
    val a = try Files.readAttributes(file.toPath, classOf[BasicFileAttributes], opts: _*)
      catch {
        case e: IOException =>
          throw new FileNotFoundException(s"File $f does not exist").initCause(e)
      }
    val symlink =
      if (!a.isSymbolicLink) null
      else try new Path(Files.readSymbolicLink(file.toPath).toString) catch {
        case _: NotLinkException | _: NoSuchFileException => null
      }
    val path =
      if (symlink != null) f
      else new Path(file.getPath).makeQualified(getUri, getWorkingDirectory)
    new LazyPosixStatus(a, blockSize, symlink, path, file.getPath, follow)
  }
}

object NioRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // permission and sticky bits; the file-type bits above them are dropped
  private[io] val ModeBits = 0x3ff
}

/** A status whose permission, owner and group load on first ask from one
  * NIO attribute read; until then it is a single stat. A path gone by
  * then reads Hadoop's defaults, as `ls -ld` on a vanished path does. */
private final class LazyPosixStatus(a: BasicFileAttributes, blockSize: Long, symlink: Path,
                                    path: Path, file: String, follow: Boolean)
  extends FileStatus(a.size, a.isDirectory, 1, blockSize, a.lastModifiedTime.toMillis,
    a.lastAccessTime.toMillis, null, null, null, symlink, path) {

  @volatile private var loaded = false

  private def load(): Unit = if (!loaded) synchronized {
    if (!loaded) {
      val opts = if (follow) Nil else Seq(LinkOption.NOFOLLOW_LINKS)
      try {
        val m = Files.readAttributes(java.nio.file.Paths.get(file), "unix:mode,owner,group",
          opts: _*)
        setPermission(new FsPermission(
          (m.get("mode").asInstanceOf[Int] & NioRawLocalFileSystem.ModeBits).toShort))
        setOwner(m.get("owner").asInstanceOf[java.security.Principal].getName)
        setGroup(m.get("group").asInstanceOf[java.security.Principal].getName)
      } catch {
        case _: NoSuchFileException =>
      }
      loaded = true
    }
  }

  override def getPermission: FsPermission = { load(); super.getPermission }
  override def getOwner: String = { load(); super.getOwner }
  override def getGroup: String = { load(); super.getGroup }
}

/** The checksummed `file:` FileSystem over the fork-free raw layer. It
  * keeps the `.crc` sidecars, and it keeps the no-clobber rename the
  * stock `file:` default here (hive-exec's `ProxyLocalFileSystem`, put
  * in place by its ServiceLoader entry) gives: renaming onto an existing
  * file returns false instead of replacing it. `VersionedTable.commit`'s
  * optimistic concurrency rests on that. It is check-then-rename, not
  * atomic. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** The FileContext (`AbstractFileSystem`) binding of the same raw layer,
  * shaped as Hadoop's `LocalFs`: checksummed over a delegate that carries
  * `RawLocalFs`'s local-disk answers. Streaming checkpoints and state
  * stores write through this one. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

private final class NioRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local file systems differ in their name rules; the OS decides
  override def isValidName(src: String): Boolean = true
}
