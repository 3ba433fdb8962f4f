package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its process forks. Without
  * libhadoop, `RawLocalFileSystem` runs `chmod` after every create and
  * mkdir and `readlink` for both sides of every `FileContext` rename
  * (about 2.6 ms each); these two overrides do the same through NIO.
  * Everything else, the `.crc` checksums included, is Hadoop's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The nine rwx bits through NIO; a mode NIO cannot set (sticky bit)
    * or a file system without POSIX attributes goes to Hadoop. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (!NioRawLocalFileSystem.posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermission.values.zipWithIndex.collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }
        .toSet.asJava)
  }

  /** Hadoop's answer, without the fork: Hadoop asks `readlink` about
    * `new File(f.toString)`, so a path with a scheme is never a link to
    * it and gets plain `getFileStatus`; a link gets its target's status
    * with the link target set, a dangling one a default status. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = new File(f.toString).toPath
    val target = if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString else ""
    val st =
      try {
        val s = getFileStatus(f)
        if (target.isEmpty) s
        else new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
          s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** Hadoop's checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]:
  * what `FileSystem.get` returns for `file:` under `GraftSession`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the `FileContext` side) over [[NioRawLocalFileSystem]],
  * with `RawLocalFs`'s overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "") override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  /** Names are the OS's business, as in `RawLocalFs`. */
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's checksummed `LocalFs` over [[NioRawLocalFs]]: the `FileContext`
  * file system of `file:` under `GraftSession`, which streaming's offset
  * and commit logs and its state store write through. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
