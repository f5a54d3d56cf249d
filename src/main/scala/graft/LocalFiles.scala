package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` scheme: Hadoop's checksummed local file system
  * with two lookups answered in-process instead of by a child process.
  * [[RawLocalFiles.setPermission]] is a `chmod(2)` call instead of a
  * `chmod` process, and [[RawLocalFiles.getFileLinkStatus]] answers a
  * path that is no symbolic link without a `readlink` process.
  *
  * Spark's jars ship no native Hadoop library, so Hadoop's
  * `RawLocalFileSystem` falls back to shell commands. It sets a mode by
  * running `/usr/bin/chmod`, and it sets one on every directory it makes
  * and every file it creates (the umask-applied default, 755 and 644). A
  * micro-batch of the Firehose sink writes about 20 files and
  * directories per task plus its checkpoint logs, about 100 child
  * processes of roughly 10 ms each; one NIO `chmod` takes about 15 µs.
  * It reads a link status by running `readlink`. `FileContext`'s rename
  * asks for the status of the source and of the destination twice (in
  * `AbstractFileSystem.renameInternal`, then in `FileSystem.rename`),
  * and an atomic checkpoint-log write renames its file and its `.crc`:
  * 8 processes per log write, 56 per `hop_bulk` pass of 2 micro-batches.
  * Everything else, the `.crc` sibling files included, is Hadoop's own
  * code, so the layout and the modes on disk are the same.
  *
  * [[EngineSession.builder]] installs [[LocalFiles]] for `FileSystem`
  * and [[LocalFilesFs]] for `FileContext` (which Structured Streaming's
  * checkpoint logs use).
  */
final class LocalFiles extends LocalFileSystem(new RawLocalFiles)

/** `FileContext` twin of [[LocalFiles]]: Hadoop's `LocalFs`, a
  * `ChecksumFs` over the raw file system, built on [[RawLocalFiles]].
  * Hadoop instantiates it through this (URI, Configuration) constructor.
  */
final class LocalFilesFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFilesFs(conf))

/** Hadoop's `RawLocalFileSystem` with its mode change and its link-status
  * lookup done in-process.
  */
final class RawLocalFiles extends RawLocalFileSystem {

  /** Sets exactly `permission`'s mode bits, the sticky bit included, as
    * `chmod` would: `unix:mode` takes the whole `st_mode` permission
    * word, where `PosixFilePermission` has no sticky bit.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  /** The status of `f` itself rather than of a link's target. Hadoop
    * runs `readlink` and, when it prints nothing, returns
    * `getFileStatus(f)`; that is this answer for every path that is no
    * symbolic link, and a missing path throws the same
    * `FileNotFoundException`. A symbolic link still goes to Hadoop,
    * which qualifies its target.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** Hadoop's `RawLocalFs` (whose constructor is package-private) over
  * [[RawLocalFiles]]: no default port, and no check of path names, which
  * the OS validates (`AbstractFileSystem` would reject a `:` in a name).
  */
final class RawLocalFilesFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new RawLocalFiles, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
