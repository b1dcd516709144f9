package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's local file system with its metadata calls served by
  * java.nio instead of child processes.
  *
  * Without the native `libhadoop`, stock [[RawLocalFileSystem]] forks
  * `chmod` on every file it creates and every `mkdirs` with a
  * permission, `readlink` on every `getFileLinkStatus` (which
  * FileContext's rename calls on both ends), and `ls -ld` whenever a
  * status's permission or owner is read. Every streaming micro-batch
  * writes several atomic checkpoint files (offset and commit logs,
  * state-store deltas and snapshots, file-sink metadata), each a
  * create, a `.crc` sidecar and a rename, so those forks set the
  * per-batch floor: 25 ms per checkpoint file through Spark's
  * checkpoint manager, 37 ms with four concurrent writers, against
  * 2.5 and 4 ms here (4-vCPU VM). This class answers the same calls from
  * one `stat`/`chmod`/`readlink` system call each; everything else is
  * the stock implementation.
  *
  * `src/main/resources/core-site.xml` installs it for the `file:`
  * scheme on both Hadoop APIs: [[NioLocalFileSystem]] (`fs.file.impl`,
  * the FileSystem API) and [[NioLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`, the FileContext API Spark's
  * checkpoint manager uses). Both keep the `.crc` checksum layer of
  * the classes they replace.
  *
  * The sticky bit is outside java.nio's POSIX permission view: a
  * permission that sets it still goes through the stock `chmod`, and
  * statuses report it cleared. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, toNio(permission))
      catch { case e: FileSystemException => throw missing(p, file, e) }
    }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    status(file, attributes(f, file))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    // FileSystem callers expect a qualified link target
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath,
        st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Status of `f` itself, not following a final symlink. A link
    * reports its target's length, times and permission (zeros for a
    * dangling link) and the unqualified target, like the stock class. */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val own = attributes(f, file, LinkOption.NOFOLLOW_LINKS)
    if (!own.isSymbolicLink) status(file, own)
    else {
      val target = new Path(Files.readSymbolicLink(file.toPath).toString)
      try {
        val to = getFileStatus(f)
        new FileStatus(to.getLen, false, to.getReplication, to.getBlockSize,
          to.getModificationTime, to.getAccessTime, to.getPermission,
          to.getOwner, to.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "",
            "", target, f)
      }
    }
  }

  private def attributes(f: Path, file: File,
      opts: LinkOption*): PosixFileAttributes =
    try Files.readAttributes(file.toPath, classOf[PosixFileAttributes],
      opts: _*)
    catch { case e: FileSystemException => throw missing(f, file, e, opts: _*) }

  private def status(file: File, a: PosixFileAttributes): FileStatus =
    new FileStatus(a.size, a.isDirectory, 1, blockSize,
      a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
      fromNio(a.permissions), a.owner.getName, a.group.getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
}

object NioRawLocalFileSystem {
  // (read, write, execute) for user, group and other
  private val classes = Seq(
    (OWNER_READ, OWNER_WRITE, OWNER_EXECUTE),
    (GROUP_READ, GROUP_WRITE, GROUP_EXECUTE),
    (OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE))

  private def fromNio(ps: java.util.Set[PosixFilePermission]): FsPermission = {
    val Seq(u, g, o) = classes.map { case (r, w, x) =>
      var a = FsAction.NONE
      if (ps.contains(r)) a = a.or(FsAction.READ)
      if (ps.contains(w)) a = a.or(FsAction.WRITE)
      if (ps.contains(x)) a = a.or(FsAction.EXECUTE)
      a
    }
    new FsPermission(u, g, o)
  }

  private def toNio(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val ps = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    classes.zip(Seq(p.getUserAction, p.getGroupAction, p.getOtherAction))
      .foreach { case ((r, w, x), a) =>
        if (a.implies(FsAction.READ)) ps.add(r)
        if (a.implies(FsAction.WRITE)) ps.add(w)
        if (a.implies(FsAction.EXECUTE)) ps.add(x)
      }
    ps
  }

  /** The stock class's FileNotFoundException when `file` is absent
    * (including a path through a non-directory); other failures as
    * they came. */
  private def missing(f: Path, file: File, e: FileSystemException,
      opts: LinkOption*): Exception =
    if (Files.exists(file.toPath, opts: _*)) e
    else new FileNotFoundException(s"File $f does not exist")
}

/** The checksummed local FileSystem (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The checksummed local AbstractFileSystem
  * (`fs.AbstractFileSystem.file.impl`) over [[NioRawLocalFileSystem]]:
  * what stock `org.apache.hadoop.fs.local.LocalFs` is over
  * `RawLocalFs`, whose constructors are package-private. Hadoop
  * instantiates it reflectively through the (URI, Configuration)
  * constructor. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(NioLocalFs.raw(conf))

object NioLocalFs {
  private def raw(conf: Configuration): DelegateToFileSystem =
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }
}
