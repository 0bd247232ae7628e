package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without its process forks.
  *
  * Without native libhadoop, `RawLocalFileSystem` runs `chmod` for every
  * file or directory it creates with a permission and `readlink` for
  * every `getFileLinkStatus`, which `FileContext.rename` calls on both
  * ends. A streaming micro-batch creates and renames dozens of files
  * (offset and commit logs, state-store deltas, parquet parts and their
  * `.crc` siblings), so each batch paid ~150 forks of ~3 ms each.
  *
  * This subclass answers both calls with `java.nio` and returns exactly
  * what the stock non-native code returns; anything NIO cannot express
  * (a sticky bit, a real symlink, a filesystem without POSIX attributes)
  * falls back to `super`. The checksum layer, the permissions, the
  * atomic renames and the files on disk are Hadoop's own.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit ||
        Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
  }

  /** The stock call runs `readlink` on `new File(f.toString)`; for a
    * qualified `file:/…` path that names no file, so it reads no link and
    * the answer is `getFileStatus(f)`. Only a real link goes to `super`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` twin of
  * `org.apache.hadoop.fs.local.LocalFs` (a `ChecksumFs` over a
  * `DelegateToFileSystem`, with `RawLocalFs`'s overrides) over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })

object NioLocalFs {
  private val ContextKey = "fs.AbstractFileSystem.file.impl"
  private val FileSystemKey = "fs.file.impl"

  /** Set by the user: in the session conf, or in the Hadoop conf by
    * anything but Hadoop's own defaults (`spark.hadoop.*`, a site file). */
  private def userSet(spark: SparkSession, key: String): Boolean =
    spark.conf.getOption(key).isDefined ||
      Option(spark.sparkContext.hadoopConfiguration.getPropertySources(key))
        .exists(!_.forall(_ == "core-default.xml"))

  /** Route the session's `FileContext` I/O on `file:` (streaming offset
    * and commit logs, the state store) through [[NioLocalFs]]. `newHadoopConf`
    * copies session confs and `FileContext` does not cache, so every
    * query started afterwards picks it up. Idempotent; a user's own
    * setting wins. */
  def install(spark: SparkSession): Unit =
    if (!userSet(spark, ContextKey)) spark.conf.set(ContextKey, classOf[NioLocalFs].getName)

  /** Writer options routing a DataFrame write's `file:` I/O through
    * [[NioLocalFileSystem]]. `FileSystem.get` caches by scheme, not by
    * class, so the cache is bypassed for the writes that carry them. Empty
    * when the user configures `fs.file.impl`. */
  def writerOptions(spark: SparkSession): Map[String, String] =
    if (userSet(spark, FileSystemKey)) Map.empty
    else Map(FileSystemKey -> classOf[NioLocalFileSystem].getName,
      s"$FileSystemKey.disable.cache" -> "true")
}
