package graft.table

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.jdk.StreamConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.engine.{ImageConstraints, ValidationEngine}
import graft.gen.SyntheticImages
import graft.streaming.StreamingValidation

/** The stock local filesystem, forking `chmod` like Hadoop's, that records
  * every file it creates: stands in for a filesystem a session maps `file:`
  * to on its own.
  */
final class RecordingLocalFileSystem extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    RecordingLocalFileSystem.created.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object RecordingLocalFileSystem {
  val created = new ConcurrentLinkedQueue[String]
}

class LocalFsSpec extends SparkSpec {

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def inputFor(p: Int): DataFrame = {
    import spark.implicits._
    spark.range(p * 500L, (p + 1) * 500L, 1, 2).as[Long]
      .map(i => SyntheticImages.rowOf(i, drift = false, contentPool = 0)).toDF()
  }

  /** Batch run, compaction, checkpoint, expire and one micro-batch on a `file:` root. */
  private def lifecycle(log: SnapshotLog): Unit = {
    import spark.implicits._
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 2).run(inputFor, Seq(0, 1, 2, 3))
    Maintenance.compact(spark, log, "annotated")
    log.checkpoint(log.head.get)
    Maintenance.expire(log)
    val batch = spark.range(2000L, 2400L, 1, 2).as[Long]
      .map(i => SyntheticImages.rowOf(i, drift = false, contentPool = 0)).toDF()
    assert(StreamingValidation.processAndCommit(log, new ValidationEngine(ImageConstraints.v1), batch, 0L).isDefined)
  }

  /** Runs `body`, returning the commands of the processes Hadoop's `Shell` started meanwhile. */
  private def hadoopShellStarts(body: => Unit): Seq[String] = {
    Class.forName("org.apache.hadoop.util.Shell") // its static set-up may probe the host with processes
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      val dump = Files.createTempFile("graft_localfs", ".jfr")
      try {
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq.filter { e =>
          e.getEventType.getName == "jdk.ProcessStart" && Option(e.getStackTrace).exists(
            _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
        }.map(e => e.getString("command") + " <- " + e.getStackTrace.getFrames.asScala
          .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName).filterNot(_.startsWith("java.")).take(12).mkString(" < "))
      } finally Files.delete(dump)
    } finally rec.close()
  }

  private def withSessionFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl" -> classOf[RecordingLocalFileSystem].getName, "fs.file.impl.disable.cache" -> "true")
    val prev = keys.map { case (k, _) => k -> Option(conf.get(k)) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("NioRawLocalFileSystem.setPermission ≡ the forked RawLocalFileSystem.setPermission, files and directories") {
    def initialized(fs: RawLocalFileSystem) = { fs.initialize(java.net.URI.create("file:///"), new Configuration()); fs }
    val reference = initialized(new RawLocalFileSystem)
    val nio = initialized(new NioRawLocalFileSystem)
    val dir = Files.createTempDirectory("graft_perm")
    try {
      val modes = Seq("0000", "0444", "0600", "0640", "0644", "0700", "0750", "0755", "0777", "1755", "1777")
      for ((m, i) <- modes.map(Integer.parseInt(_, 8)).zipWithIndex; isDir <- Seq(false, true)) {
        val (a, b) = (dir.resolve(s"ref-$i-$isDir"), dir.resolve(s"nio-$i-$isDir"))
        Seq(a, b).foreach(p => if (isDir) Files.createDirectory(p) else Files.createFile(p))
        val perm = new FsPermission(m.toShort)
        reference.setPermission(new Path(a.toString), perm)
        nio.setPermission(new Path(b.toString), perm)
        assert(mode(b) == mode(a), f"mode $m%04o, dir=$isDir: nio ${mode(b)}%04o, forked ${mode(a)}%04o")
        if (!perm.getStickyBit) assert(mode(b) == m, f"mode $m%04o, dir=$isDir: got ${mode(b)}%04o")
        Seq(a, b).foreach(p => Files.setPosixFilePermissions(p, PosixFilePermission.values.toSet.asJava))
      }
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
  }

  test("file: lifecycle starts no Hadoop Shell process; .crc kept, default modes, no _SUCCESS, same rows") {
    val root = Files.createTempDirectory("graft_localfs")
    val log = new SnapshotLog(root.toString, spark.sparkContext.hadoopConfiguration)
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache", "mapreduce.fileoutputcommitter.marksuccessfuljobs")
    def sessionConf = keys.map(k => (Option(spark.sparkContext.hadoopConfiguration.get(k)), spark.conf.getOption(k)))
    val confBefore = sessionConf
    val forks = hadoopShellStarts(lifecycle(log))
    assert(sessionConf == confBefore, "the session conf changed")
    assert(forks.isEmpty, s"${forks.size} process starts from org.apache.hadoop.util.Shell, first:\n${forks.take(3).mkString("\n")}")

    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val all = Files.walk(root).toScala(Seq).filterNot(_ == root)
    val (dirs, files) = all.partition(Files.isDirectory(_))
    assert(files.nonEmpty && dirs.nonEmpty)
    files.foreach(f => assert(mode(f) == fileMode, f"$f: ${mode(f)}%04o, want $fileMode%04o"))
    dirs.foreach(d => assert(mode(d) == dirMode, f"$d: ${mode(d)}%04o, want $dirMode%04o"))
    assert(!files.exists(_.getFileName.toString == "_SUCCESS"), "a _SUCCESS marker was written")
    val data = files.filterNot(f => f.getFileName.toString.startsWith("."))
    assert(data.exists(_.getFileName.toString.endsWith(".parquet")))
    data.foreach(f => assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), s"$f has no .crc"))

    // The same lifecycle through the stock forking filesystem reads the same rows.
    val refRoot = Files.createTempDirectory("graft_localfs_ref")
    val refForks = withSessionFs {
      hadoopShellStarts(lifecycle(new SnapshotLog(refRoot.toString, spark.sparkContext.hadoopConfiguration)))
    }
    assert(refForks.nonEmpty, "the forking reference started no process: the count would not see one")
    info(s"the stock local filesystem started ${refForks.size} Hadoop Shell processes for the same lifecycle")
    val ref = new SnapshotLog(refRoot.toString, spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("annotated", "valid", "violations", "rollups"))
      assert(sameRows(log.readTable(spark, log.head.get, t), ref.readTable(spark, ref.head.get, t)), t)
    def counts(m: Manifest) = m.metrics.filter { case (k, _) => !k.contains("_ms_") }
    assert(counts(log.head.get) == counts(ref.head.get))
  }

  test("a filesystem the session maps file: to stays the one graft's writes and commits use") {
    val root = Files.createTempDirectory("graft_localfs_custom").toString
    RecordingLocalFileSystem.created.clear()
    withSessionFs {
      assert(LocalFs.options(spark).isEmpty)
      val conf = spark.sparkContext.hadoopConfiguration
      assert(LocalFs.conf(conf) eq conf)
      val log = new SnapshotLog(root, conf)
      new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 2).run(inputFor, Seq(0, 1))
    }
    val created = RecordingLocalFileSystem.created.asScala.toSeq.filter(_.startsWith(root))
    assert(created.exists(_.endsWith(".parquet")), s"no data file created through the session's filesystem: $created")
    assert(created.exists(p => p.contains("/snapshots/.tmp-")), s"no manifest created through it: $created")
    assert(LocalFs.options(spark).nonEmpty, "options stay empty after the session's own mapping was removed")
  }
}
