package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two per-file shell commands made
  * in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks `chmod` and `getFileLinkStatus` forks `readlink`. Every file a
  * Spark job creates through Hadoop pays the first: the file and its `.crc`
  * are created with an explicit permission. Every `FileContext` rename pays
  * the second: `AbstractFileSystem.rename` checks both paths for a link.
  * Spark's streaming checkpoint manager writes each offsets, commit, state
  * delta and checkpoint-checksum file as a create plus a rename, so a
  * stateful micro-batch forked tens of commands, ~7–8 ms each. Here both
  * calls run in the JVM, and every other method is Hadoop's own.
  *
  * Only `file:` paths use this; a cluster's checkpoints live on HDFS or an
  * object store. One call still forks: a status from `getFileStatus`
  * (Hadoop's `DeprecatedRawLocalFileStatus`) loads its owner and permission
  * with `ls -ld` the first time a caller reads either. No engine path reads
  * them.
  */
object LocalFs {

  /** Builder confs that register the two wrappers for `file:`: the
    * `FileSystem` scheme and the `FileContext` scheme. Spark's checkpoint
    * manager uses `FileContext`, whose stock local class builds a plain
    * `RawLocalFileSystem` whatever `fs.file.impl` says, so both are needed.
    */
  val confs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForklessLocalFs].getName)

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** Octal 07000: the mode bits `chmod` sets and `PosixFilePermissions`
    * cannot, setuid, setgid and sticky.
    */
  private val SpecialBits = 0xe00

  /** Sets `permission`'s bits on `file`, following links as `chmod` does.
    * False, with nothing changed, where the result could differ from
    * `chmod <mode>`: the permission has the sticky bit, or the file has a
    * special bit (GNU `chmod` keeps a directory's setuid and setgid under a
    * numeric mode), or the default filesystem has no POSIX view.
    */
  private[io] def chmod(file: java.io.File, permission: FsPermission): Boolean =
    posix && !permission.getStickyBit && {
      val p = file.toPath
      (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0 && {
        Files.setPosixFilePermissions(p, PosixFilePermissions.fromString(
          permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
        true
      }
    }
}

/** `RawLocalFileSystem` with `chmod` and `readlink` made in-process; see
  * [[LocalFs]].
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!LocalFs.chmod(pathToFile(p), permission)) super.setPermission(p, permission)

  /** A path that is not a symbolic link gets `getFileStatus(f)`, which is
    * what Hadoop returns when `readlink` prints nothing, down to the
    * `FileNotFoundException` for a missing path. A link is Hadoop's.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** The checksummed `FileSystem` for `file:` over [[ForklessRawLocalFileSystem]]. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The `FileContext` counterpart of [[ForklessRawLocalFileSystem]], with the
  * overrides of Hadoop's `RawLocalFs`.
  */
class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()

  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()

  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` filesystem for `file:` over
  * [[ForklessRawLocalFs]], as Hadoop's `LocalFs` is over `RawLocalFs`. Like
  * it, it always serves the local root URI: `FileContext` builds it by
  * reflection with the URI it resolved, which it ignores.
  */
class ForklessLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForklessRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
