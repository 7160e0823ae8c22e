package graft.util

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, StandardCopyOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local filesystem with permissions set and links read through
 * `java.nio` instead of child processes.
 *
 * Without `libhadoop`, `RawLocalFileSystem` starts a `chmod` process for
 * every permission it sets (each create and each mkdirs with a mode) and
 * a `readlink` process for every link-status lookup (each
 * `FileContext.rename`): parquet part files, committer markers, stream
 * checkpoint logs and the document sink's overwrite-renames. Everything
 * else is Hadoop's own code, `.crc` checksums included.
 *
 * `src/main/resources/core-site.xml` registers the classes for `file://`
 * (`fs.file.impl` for `FileSystem`, `fs.AbstractFileSystem.file.impl`
 * for `FileContext`), so every `Configuration` in the JVM picks them up.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `Files.setPosixFilePermissions`; a sticky bit, which
    * java.nio cannot express, keeps Hadoop's own call. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // the actions, not toString: a create's FsCreateModes prints both
      // its masked and unmasked modes
      val mode = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }

  /** The link's own status without `readlink`: a plain file or directory
    * is its `getFileStatus`; a symlink takes its target's length and
    * times (zero when dangling), as Hadoop's shell path does, and the
    * link's own mode and owner. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f) // a missing path throws here
    else {
      val link = Files.readAttributes(file, classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
      val target = new Path(Files.readSymbolicLink(file).toString)
      val status = try {
        val to = getFileStatus(f)
        new FileStatus(to.getLen, false, to.getReplication, to.getBlockSize,
          to.getModificationTime, to.getAccessTime,
          FsPermission.valueOf("l" + PosixFilePermissions.toString(link.permissions)),
          link.owner.getName, link.group.getName, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, target))
      status
    }
  }
}

/** The checksummed `file://` `FileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The checksummed `file://` `FileContext` filesystem over
  * [[NioRawLocalFileSystem]]. Hadoop's `LocalFs` builds a plain
  * `RawLocalFileSystem` itself, so this repeats its `RawLocalFs`
  * overrides: local server defaults and no HDFS name check. */
class NioLocalFs private (uri: URI, conf: Configuration, raw: NioRawLocalFileSystem) extends ChecksumFs(
  new DelegateToFileSystem(uri, raw, conf, "file", false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true

    /** An overwrite-rename of a file onto a file is one `rename(2)`, so a
      * reader sees the old or the new file, never none. Hadoop's default
      * deletes the destination first and renames after; every other case
      * keeps its checks. */
    override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
      val (from, to) = (raw.pathToFile(src).toPath, raw.pathToFile(dst).toPath)
      if (overwrite && from != to && Files.isRegularFile(from, LinkOption.NOFOLLOW_LINKS) &&
          Files.isRegularFile(to, LinkOption.NOFOLLOW_LINKS))
        Files.move(from, to, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      else super.renameInternal(src, dst, overwrite)
    }
  }) {
  def this(uri: URI, conf: Configuration) = this(uri, conf, new NioRawLocalFileSystem)
}
