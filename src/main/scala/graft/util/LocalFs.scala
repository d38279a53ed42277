package graft.util

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its process forks. With no native
  * libhadoop, Hadoop's `RawLocalFileSystem` runs `chmod` for every file it
  * creates and every directory it makes, and `readlink` on both paths of
  * every FileContext rename. This subclass does the same two things
  * through `java.nio.file`; Hadoop still decides every mode and status,
  * only the mechanism differs. */
class RawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

  /** The nine rwx bits through NIO. A sticky mode, and a directory that
    * carries setuid or setgid (which `chmod` with a four-digit mode keeps
    * on a directory and NIO would clear), go to Hadoop's `chmod`, because
    * NIO can neither set nor keep those bits. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    def setIdDir = Files.isDirectory(file) && // 0xc00: the setuid and setgid bits
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
    if (permission.getStickyBit || setIdDir) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
  }

  /** Hadoop's `getFileLinkStatus` (its `deprecatedGetFileLinkStatusInternal`
    * and the qualification of the link target), with the target read by
    * NIO instead of a forked `readlink`. As in Hadoop the link is looked up
    * at the path's string, so a qualified `file:` path names no link and
    * reports the status of what it points to. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = readLink(f)
    val status = try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch { // a dangling link: `getFileStatus` follows it
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }

  /** What `readlink <path>` prints, trimmed, or "" where it fails. */
  private def readLink(f: Path): String =
    try {
      val link = new File(f.toString).toPath
      if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** The `FileSystem` face (`fs.file.impl`): Hadoop's checksummed local file
  * system over [[RawLocalFileSystem]]. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem)

/** The `AbstractFileSystem` face (`fs.AbstractFileSystem.file.impl`),
  * which FileContext and so the streaming checkpoint's logs use: Hadoop's
  * `LocalFs`, a checksummed file system over its `RawLocalFs`, with
  * [[RawLocalFileSystem]] under the delegate. Like Hadoop's it serves
  * `file:///` whatever URI it is asked for. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[RawLocalFileSystem]]: its four overrides of
  * `DelegateToFileSystem`. */
private class RawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new RawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true // the OS validates names
}
