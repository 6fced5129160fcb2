package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FSLinkResolver, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem every session uses (`Sessions.withMaster`
  * registers it under `fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl`).
  *
  * Without a native `libhadoop`, Hadoop's local filesystem forks a
  * process for every `chmod` (`setPermission`: each file create, each
  * mkdir with a permission) and every `readlink` (`getFileLinkStatus`:
  * each `FileContext` rename). A streaming micro-batch writes offset and
  * commit logs, state-store changelogs and sink files through those
  * calls, so it spent most of its driver time forking. This subclass
  * answers both from `java.nio.file`, with the same results:
  *  - `setPermission` sets the same nine mode bits (following links, as
  *    `chmod` does); a mode with any other bit (sticky, setuid, setgid)
  *    goes to Hadoop's own implementation;
  *  - `getFileLinkStatus` takes the branches of Hadoop's
  *    `deprecatedGetFileLinkStatusInternal`: a regular file or directory,
  *    a live link (the target's status with the link's target), a
  *    dangling link (an empty status with the target), and a missing
  *    path (`FileNotFoundException`). The link is read from the same
  *    string, `new File(path.toString)`, that Hadoop hands `readlink`.
  * Everything else, HDFS and S3 included, is Hadoop's.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // a bit above 0777
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NoForkRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = NoForkRawLocalFileSystem.readLink(f)
    val status = try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      // a dangling link: getFileStatus follows it and finds nothing
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }
}

object NoForkRawLocalFileSystem {
  /** Owner, group, other × read, write, execute: bit 8 down to bit 0. */
  private val modeBits = Seq(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE, GROUP_READ,
    GROUP_WRITE, GROUP_EXECUTE, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = // 0x100 is 0400
    modeBits.zipWithIndex.collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }.toSet.asJava

  /** What `FileUtil.readLink` returns: the link's target, or "" for
    * anything that is not a readable link. */
  private def readLink(f: Path): String =
    try {
      val p = new File(f.toString).toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the
  * no-fork raw filesystem. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` twin (Spark's
  * streaming checkpoints and state stores write through `FileContext`):
  * Hadoop's `LocalFs`, which is a `ChecksumFs` over `RawLocalFs`, with
  * the no-fork raw filesystem inside. Hadoop's own constructors are
  * package-private, so both are restated here. Hadoop instantiates it
  * through this (URI, Configuration) signature; like `LocalFs`, it
  * always serves `file:///`. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NoForkRawLocalFileSystem]]: the same URI,
  * port, server defaults and name check. */
private[sources] class NoForkRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
  FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem, conf,
  FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  // the OS checks local names, as RawLocalFileSystem does
  override def isValidName(src: String): Boolean = true
}
