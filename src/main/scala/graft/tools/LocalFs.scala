package graft.tools

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.SparkConf

/** Hadoop's `file:` file system without its forked helper processes.
  *
  * Without native `libhadoop`, `RawLocalFileSystem` forks `chmod` for
  * every file, `.crc` file and directory it creates, and `readlink` on
  * every `FileContext` rename. A checkpointed micro-batch creates dozens of
  * them (offset and commit logs, state-store deltas, sink files), each fork
  * costing milliseconds. These two overrides do the same through
  * `java.nio`; everything else, checksums and atomic no-overwrite renames
  * included, is Hadoop's. With `libhadoop` loaded they defer to Hadoop.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The shell path's exact mode bits (`chmod` ignores the umask too).
    * The sticky bit has no `PosixFilePermission`, so it stays on Hadoop's
    * path, as does a file system without a POSIX attribute view.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit)
      super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      // values() runs owner, group, others, each r-w-x: mode bits 8 to 0
      val perms = PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (mode & (1 << (8 - i))) != 0 => perm
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      catch { case _: UnsupportedOperationException =>
        super.setPermission(p, permission) }
    }

  /** What Hadoop returns once its `readlink` finds no link. Real links go
    * to Hadoop unchanged.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the
  * fork-free raw one.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the `FileContext` binding) over the fork-free
  * raw file system, with the same three overrides.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs`, checksummed, over
  * [[ForkFreeRawLocalFs]]. Spark's checkpoint and state-store files go
  * through this one.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object LocalFs {

  /** The `spark.hadoop.*` keys that bind `file:` paths to the fork-free
    * classes, less any `conf` already sets: a builder `.config` would
    * override `spark-submit --conf`, so the operator's value wins. Paths
    * of other schemes (HDFS, S3) are unaffected.
    */
  def sessionConfs(conf: SparkConf = new SparkConf()): Map[String, String] =
    Map(
      "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[ForkFreeLocalFs].getName,
    ).filter { case (k, _) => !conf.contains(k) }
}
