package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's `RawLocalFileSystem` with its two process forks replaced by
 * syscalls. Without Hadoop's native library (`NativeIO.isAvailable`
 * false) the stock class sets every mode by forking `chmod` — and it
 * sets one on every file it creates and every dir it makes — and reads
 * link status by forking `readlink`, which every FileContext rename
 * (streaming checkpoints, `_spark_metadata`) does twice. Everything
 * else is the stock class, so file modes, umask handling and error
 * cases stay the same.
 */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 mode bits in one `Files.setPosixFilePermissions` call;
    * a mode a POSIX permission set cannot express (anything above
    * 0777, such as the sticky bit) takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // 0x1ff = 0777
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      // OWNER_READ .. OTHERS_EXECUTE are bits 0400 .. 0001 in ordinal order
      PosixFilePermission.values.filter(b => (mode & (0x100 >>> b.ordinal)) != 0).toSet.asJava)
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock link status, reading the link with one readlink(2).
    * Like the stock `FileUtil.readLink`, it reads `new File(f.toString)`
    * and takes any failure as "not a link" — so a qualified `file:/…`
    * path (read as a relative name) always gets the plain file status. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case NonFatal(_) => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      // a dangling link: the target is missing, the link is not
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }
}

/**
 * The engine's `file:` [[org.apache.hadoop.fs.FileSystem]]: a checksummed
 * `LocalFileSystem` over [[GraftRawLocalFileSystem]]. Its `rename` refuses
 * a destination that is an existing file (returns false, both files
 * stay), as Hive's `ProxyLocalFileSystem` does — the class Spark's own
 * jars select for `file:` when nothing is configured, and the rename
 * the engine's writers are written against ([[Commits]]).
 */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile
      catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** The engine's `file:` `AbstractFileSystem` (FileContext — streaming
  * checkpoints and `_spark_metadata`): Hadoop's `LocalFs`, that is a
  * `ChecksumFs` over [[GraftRawLocalFs]]. Hadoop constructs it by
  * (URI, Configuration); like `LocalFs` it serves `file:///` whatever
  * the URI. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]], with each of
  * its overrides. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems validate names themselves
  override def isValidName(src: String): Boolean = true
}
