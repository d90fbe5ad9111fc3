package graft.table

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.SparkSession

/** Hadoop's raw local filesystem with `setPermission` as one syscall.
  * Without libhadoop, `RawLocalFileSystem.setPermission` starts a `chmod`
  * process for every file it creates and every directory it makes; this
  * sets the same mode through `java.nio`. A sticky bit still goes to
  * Hadoop, since `PosixFilePermission` cannot express it.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission's ordinals run OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      val mode = permission.toShort & 0x1ff
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet.asJava)
    }
}

/** The checksummed local filesystem (`.crc` files kept) over [[NioRawLocalFileSystem]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Fork-free local writes for every table graft writes: `.options(LocalFs
  * .options(spark))` on a DataFrame write, [[LocalFs.conf]] for a
  * `FileSystem` graft opens itself. Only `file:` paths change filesystem,
  * and nothing is set on the session. A session that maps `file:` to a
  * filesystem of its own keeps it: then neither applies anything.
  */
object LocalFs {

  private val Impl = "fs.file.impl"

  private val Options: Map[String, String] = Map(
    Impl -> classOf[NioLocalFileSystem].getName,
    // Hadoop's FileSystem cache key ignores the impl class: with the cache
    // on, the cached forking instance would be handed out instead.
    "fs.file.impl.disable.cache" -> "true",
    // The snapshot manifest is the commit point; a _SUCCESS marker carries nothing.
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false"
  )

  private def ownsFileScheme(impl: Option[String]): Boolean =
    impl.forall(Set(classOf[LocalFileSystem].getName, classOf[NioLocalFileSystem].getName))

  /** Write options for a DataFrame write by `spark`. */
  def options(spark: SparkSession): Map[String, String] =
    if (ownsFileScheme(spark.conf.getOption(Impl).orElse(Option(spark.sparkContext.hadoopConfiguration.get(Impl)))))
      Options
    else Map.empty

  /** A copy of `base` with the same keys set (`base` itself when it maps `file:` elsewhere). */
  def conf(base: Configuration): Configuration =
    if (!ownsFileScheme(Option(base.get(Impl)))) base
    else {
      val c = new Configuration(base)
      Options.foreach { case (k, v) => c.set(k, v) }
      c
    }
}
