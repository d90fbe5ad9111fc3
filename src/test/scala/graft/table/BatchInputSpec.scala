package graft.table

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.constraint.{ConstraintSet, MinLength, NonNull}
import graft.engine.{ConstraintRegistry, EngineOptions, ImageConstraints, ValidationEngine}
import graft.gen.SyntheticImages

/** The commit batch's input relation: one scan for file-backed partitions,
  * the union of per-partition frames for anything else — same rows, same
  * partition ids, same committed outputs either way.
  */
class BatchInputSpec extends SparkSpec {

  private val P = 4
  private val RowsPerPart = 150L

  /** Partition p's rows, written under a directory whose name holds a space
    * and a `=`; partition 1 is written as two files.
    */
  private lazy val dirs: Seq[String] = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_batch in").toString
    (0 until P).map { p =>
      val dir = s"$root/part p=$p"
      val from = p * RowsPerPart
      spark.range(from, from + RowsPerPart, 1, if (p == 1) 2 else 1).as[Long]
        .map(i => SyntheticImages.rowOf(i, drift = false, contentPool = 0))
        .toDF().write.parquet(dir)
      dir
    }
  }

  private def fileBacked(p: Int): DataFrame = spark.read.parquet(dirs(p))
  /** The same rows behind a filter: not a bare relation, so the union path. */
  private def filtered(p: Int): DataFrame = spark.read.parquet(dirs(p)).where(lit(true))

  private def newLog(): SnapshotLog =
    new SnapshotLog(Files.createTempDirectory("graft_batchlog").toString, spark.sparkContext.hadoopConfiguration)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def scans(df: DataFrame): Int =
    plan(df).linesIterator.count(l => l.contains("FileScan") || l.contains("Scan parquet"))
  private def unions(df: DataFrame): Int = plan(df).linesIterator.count(_.trim.startsWith("Union"))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
  private def countMetrics(m: Manifest): Map[String, Long] =
    m.metrics.filter { case (k, _) => k.startsWith("n_") || k == "violations_rejected" }

  test("file-backed partitions read as one scan and tag every row with its own partition") {
    assert(new java.io.File(dirs(1)).listFiles().count(_.getName.endsWith(".parquet")) == 2)
    val one = BatchInput.of(spark, 0 until P, fileBacked)
    assert(scans(one) == 1 && unions(one) == 0, plan(one))
    val union = BatchInput.of(spark, 0 until P, filtered)
    assert(unions(union) == 1, plan(union))
    val ids = (df: DataFrame) => sorted(df.select("image_id", "_pid"))
    assert(ids(one) == ids(union))
    assert(one.groupBy("_pid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      (0 until P).map(_ -> RowsPerPart).toMap)
    assert(one.schema == union.schema)
  }

  test("single-scan and union runs commit the same rollups, counts and rows") {
    val (logA, logB) = (newLog(), newLog())
    val a = new ValidationJob(spark, logA, ImageConstraints.v1).run(fileBacked, 0 until P)
    val b = new ValidationJob(spark, logB, ImageConstraints.v1).run(filtered, 0 until P)
    assert(countMetrics(a) == countMetrics(b))
    assert(a.metrics("n_success") + a.metrics("n_invalid") + a.metrics("n_error") == P * RowsPerPart)
    assert(a.tableSchemas == b.tableSchemas)
    for (t <- Seq("rollups", "violations"))
      assert(sorted(logA.readTable(spark, a, t)) == sorted(logB.readTable(spark, b, t)), t)
    val valid = (log: SnapshotLog, m: Manifest) => sorted(log.readTable(spark, m, "valid").select("image_id", "partition_id"))
    assert(valid(logA, a) == valid(logB, b))
  }

  test("multi-stream job: single-scan and union runs commit the same rollups") {
    import spark.implicits._
    val set = ConstraintSet("doc/1.0.0", fills = Seq.empty, checks = Seq(NonNull("doc_id"), MinLength("text", 5)))
    val registry = ConstraintRegistry(Seq(set), routes = Map("docs" -> "doc/1.0.0"))
    val root = Files.createTempDirectory("graft_msbatch").toString
    val docDirs = (0 until 3).map { p =>
      val dir = s"$root/docs p=$p"
      Seq((s"d$p-1", "long enough", "docs"), (null, "long enough", "docs"), (s"d$p-3", "tiny", "docs"),
        (s"d$p-4", "long enough", "elsewhere")).toDF("doc_id", "text", "stream").write.parquet(dir)
      dir
    }
    def run(inputFor: Int => DataFrame): (Manifest, SnapshotLog) = {
      val log = newLog()
      val engine = new ValidationEngine(registry, EngineOptions(idField = "doc_id"), Some("stream"), Nil)
      val job = new ValidationJob(spark, log, engine, "explicit", suppressViolations = None,
        commitBatch = 8, violationsSchema = Some(ValidationJob.violationsSchemaV1))
      (job.run(inputFor, 0 until 3), log)
    }
    val (a, logA) = run(p => spark.read.parquet(docDirs(p)))
    val (b, logB) = run(p => spark.read.parquet(docDirs(p)).where(lit(true)))
    assert(countMetrics(a) == countMetrics(b))
    assert(sorted(logA.readTable(spark, a, "rollups")) == sorted(logB.readTable(spark, b, "rollups")))
    assert(logA.readTable(spark, a, "rollups").select("partition_id").distinct().count() == 3)
  }

  test("overlapping files and filtered inputs take the union path and stay correct") {
    // partition 1 reads a file of partition 0's directory by its own path
    val file = new java.io.File(dirs(0)).listFiles().filter(_.getName.endsWith(".parquet")).head.getPath
    val overlap = (p: Int) => if (p == 1) spark.read.parquet(file) else fileBacked(p)
    val shared = BatchInput.of(spark, 0 until P, overlap)
    assert(unions(shared) == 1, plan(shared))
    val perPid = shared.groupBy("_pid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perPid == (0 until P).map(_ -> RowsPerPart).toMap) // partition 0's rows, read twice

    val narrowed = (p: Int) => fileBacked(p).filter(col("w") > 24)
    val filteredIn = BatchInput.of(spark, 0 until P, narrowed)
    assert(unions(filteredIn) == 1, plan(filteredIn))
    val expect = (0 until P).map(p => narrowed(p).count()).sum
    val m = new ValidationJob(spark, newLog(), ImageConstraints.v1).run(narrowed, 0 until P)
    assert(m.metrics("n_success") + m.metrics("n_invalid") + m.metrics("n_error") == expect)
  }

  test("a single partition, or inputs read with different options, take the union path") {
    val one = BatchInput.of(spark, Seq(2), fileBacked)
    assert(scans(one) == 1 && one.select("_pid").distinct().collect().toSeq == Seq(Row(2)))
    val mixed = BatchInput.of(spark, 0 until 2,
      p => if (p == 0) fileBacked(p) else spark.read.option("mergeSchema", "false").parquet(dirs(p)))
    assert(unions(mixed) == 1, plan(mixed))
  }

  test("the single scan tags _pid as a non-null partition value and prunes by it") {
    import spark.implicits._
    val one = BatchInput.of(spark, 0 until P, fileBacked)
    assert(!one.schema("_pid").nullable)
    val two = one.where($"_pid" === 2 || $"_pid" > 10)
    assert(two.select("_pid").distinct().collect().toSeq == Seq(Row(2)))
    assert(two.count() == RowsPerPart)
    assert(sorted(two.select("image_id")) == sorted(fileBacked(2).select("image_id")))
    // the scan lists partition 2's one directory and file, nothing else
    val listed = two.queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        (s.selectedPartitions.partitionCount, s.selectedPartitions.totalNumberOfFiles)
    }
    assert(listed == Seq((1, 1L)), listed)
  }

  test("a data column named _pid takes the union path") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pidcol").toString
    val pidDirs = (0 until 2).map { p =>
      val dir = s"$root/p=$p"
      Seq((s"r$p", 99)).toDF("id", "_pid").write.parquet(dir)
      dir
    }
    val tagged = BatchInput.of(spark, 0 until 2, p => spark.read.parquet(pidDirs(p)))
    assert(unions(tagged) == 1, plan(tagged))
    assert(sorted(tagged) == Seq("[r0,0]", "[r1,1]"))
  }

  /** Live threads of the input pool. */
  private def inputThreads(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName).filter(_.startsWith("graft-inputs-"))

  /** An `inputFor` whose calls all arrive before any may return: it counts a
    * shared latch down, waits up to 2 s for the rest, and records whether
    * they came and on which thread.
    */
  private final class Rendezvous(n: Int) {
    private val latch = new CountDownLatch(n)
    val arrived = new ConcurrentLinkedQueue[Boolean]()
    val threads = new ConcurrentLinkedQueue[String]()
    def meet(): Unit = {
      threads.add(Thread.currentThread.getName)
      latch.countDown()
      arrived.add(latch.await(2, TimeUnit.SECONDS))
    }
  }

  test("a batch resolves its partitions' inputs concurrently, on pool threads that end with the call") {
    val r = new Rendezvous(P)
    val tagged = BatchInput.of(spark, 0 until P, p => { r.meet(); fileBacked(p) })
    assert(r.arrived.asScala.toSeq == Seq.fill(P)(true), "calls did not overlap")
    assert(r.threads.asScala.forall(_.startsWith("graft-inputs-")), r.threads)
    assert(inputThreads().isEmpty, inputThreads())
    // results stay in batch order: still one scan, every partition under its own id
    assert(scans(tagged) == 1 && unions(tagged) == 0, plan(tagged))
    assert(tagged.groupBy("_pid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      (0 until P).map(_ -> RowsPerPart).toMap)
  }

  test("each input call sees the caller's session, job group and job tags") {
    val sc = spark.sparkContext
    val caller = spark.newSession()
    val previous = SparkSession.getActiveSession
    val seen = new ConcurrentLinkedQueue[(SparkSession, String, Set[String], String)]()
    SparkSession.setActiveSession(caller)
    sc.setJobGroup("caller-group", "caller", interruptOnCancel = false)
    sc.addJobTag("caller-tag")
    try {
      BatchInput.of(caller, 0 until P, p => {
        seen.add((SparkSession.active, sc.getLocalProperty("spark.jobGroup.id"), sc.getJobTags(),
          Thread.currentThread.getName))
        caller.range(p, p + 1).toDF()
      })
    } finally {
      sc.clearJobGroup()
      sc.removeJobTag("caller-tag")
      previous.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    assert(seen.size == P)
    for ((session, group, tags, thread) <- seen.asScala) {
      assert(session eq caller)
      assert(group == "caller-group")
      assert(tags.contains("caller-tag"), tags)
      assert(thread.startsWith("graft-inputs-"), thread)
    }
  }

  test("a failing input call surfaces its own exception after every other call has ended") {
    val r = new Rendezvous(P)
    val running = new AtomicInteger(0)
    val finished = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      BatchInput.of(spark, 0 until P, p => {
        running.incrementAndGet()
        try {
          r.meet()
          if (p == 1) throw new IllegalStateException(s"no input for partition $p")
          Thread.sleep(200)
          finished.incrementAndGet()
          fileBacked(p)
        } finally running.decrementAndGet()
      })
    }
    assert(e.getMessage == "no input for partition 1")
    assert(running.get == 0 && finished.get == P - 1)
    assert(r.arrived.asScala.toSeq == Seq.fill(P)(true), "calls did not overlap")
    assert(r.threads.asScala.forall(_.startsWith("graft-inputs-")), r.threads)
    assert(inputThreads().isEmpty, inputThreads())
  }
}
