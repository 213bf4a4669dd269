package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset, SparkSession}

/** The one place the resumable writers get a Hadoop `FileSystem`, a
  * `Configuration` or a `DataFrameWriter` for a path they write.
  *
  * Hadoop's local filesystem sets the permission bits of every file it
  * creates and every directory it makes. Without the native `libhadoop`,
  * which Spark's distribution does not ship, it does so by forking a
  * `chmod` process each time: about 40 forks per bucket commit of
  * `KgPipeline.runResumable`, at 1.6–1.9 ms each on a 4-core host with a
  * 2 GB JVM heap. [[write]], [[conf]] and [[of]] route the `file`
  * scheme to [[InProcessLocalFileSystem]], which sets the same bits
  * in-process and keeps the `.crc` sidecars; every other scheme resolves
  * as the session configures it.
  *
  * The routing travels as two Hadoop keys: on a derived copy of the
  * session's configuration for driver-side calls, and as write options,
  * which Spark copies into the configuration of the write job and its
  * tasks. The session itself is never changed. Hadoop caches one
  * `FileSystem` per scheme, authority and user, whatever the
  * configuration, so the keys also turn off that cache for `file`: a
  * session that has already resolved a `file:` path would otherwise hand
  * back its cached, forking instance. */
object WriteFs {

  private val Keys = Map(
    "fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of the session's Hadoop configuration with the `file` scheme
    * routed to [[InProcessLocalFileSystem]]. */
  def conf(spark: SparkSession): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    Keys.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The filesystem of `path`, resolved with [[conf]]. */
  def of(spark: SparkSession, path: Path): FileSystem = path.getFileSystem(conf(spark))

  /** `ds.write`, with the `file` scheme routed as in [[conf]]. */
  def write[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(Keys)

  /** Whether the default `java.nio.file` filesystem can set POSIX bits. */
  private[io] val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The POSIX set of the nine low bits of `mode`. */
  private[io] def posixSet(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }
      .toSet.asJava
}

/** Hadoop's checksummed local filesystem (`.crc` sidecars written and
  * verified, as the default `file:` filesystem) over
  * [[InProcessRawLocalFileSystem]]. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the bits through
  * `java.nio.file` instead of a `chmod` process. A sticky bit, which the
  * POSIX attribute view cannot express, or a platform without that view
  * falls back to Hadoop's own implementation. A missing path throws an
  * `IOException` either way. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !WriteFs.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      WriteFs.posixSet(permission.toShort.toInt))
}
