package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftFunctions, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{ImageConstraints, ValidationEngine}
import graft.gen.SyntheticImages
import graft.table.{Maintenance, SnapshotLog, ValidationJob}

class MaintenanceSpec extends SparkSpec {

  val N = 2000L
  val P = 4

  private def inputFor(p: Int): DataFrame = {
    import spark.implicits._
    val (pLocal, mod) = (p.toLong, P.toLong)
    spark
      .range(0, N, 1, 2)
      .as[Long]
      .filter(i => (i % mod) == pLocal)
      .map(i => SyntheticImages.rowOf(i, drift = false, contentPool = 0))
      .toDF()
  }

  private val v1Gate = new ValidationEngine(ImageConstraints.v1)

  private def newLog(): SnapshotLog =
    new SnapshotLog(Files.createTempDirectory("graft_maint").toString, spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.select("image_id", "status").orderBy("image_id").collect().toSeq

  test("time travel: readTableAsOf(seq) sees exactly that snapshot's prefix") {
    val log = newLog()
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    val headParts = log.readTableAsOf(spark, 4, "rollups").select("partition_id").distinct().count()
    val earlyParts = log.readTableAsOf(spark, 2, "rollups").select("partition_id").distinct().count()
    assert(headParts == 4 && earlyParts == 2)
    // immutability: the early view's row count is a strict prefix of HEAD's
    val early = log.readTableAsOf(spark, 2, "annotated").count()
    val head = log.readTableAsOf(spark, 4, "annotated").count()
    assert(early == N / 2 && head == N)
  }

  test("compact: row parity, one root, fewer files, valid re-pointed atomically") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    val beforeAnn = sortedRows(log.readTable(spark, m, "annotated"))
    val beforeValid = sortedRows(log.readTable(spark, m, "valid"))
    assert(log.tablePaths(m, "annotated").size == 4)

    val stats = Maintenance.compact(spark, log, "annotated", targetFileBytes = 4L * 1024 * 1024)
    val head = log.head.get
    assert(head.sequence == m.sequence + 1)
    assert(log.tablePaths(head, "annotated").size == 1)
    assert(log.tablePaths(head, "valid").size == 1)
    assert(stats.filesAfter < stats.filesBefore, s"${stats.filesAfter} !< ${stats.filesBefore}")
    assert(sortedRows(log.readTable(spark, head, "annotated")) == beforeAnn)
    assert(sortedRows(log.readTable(spark, head, "valid")) == beforeValid)
    // time travel across the rewrite: the pre-compaction manifest still reads
    assert(sortedRows(log.readTableAsOf(spark, m.sequence, "annotated")) == beforeAnn)
  }

  /** The executed plan of every write `body` runs. */
  private def writePlans(body: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.treeString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      assert(GraftFunctions.drainSharedListeners(spark.sparkContext))
    } finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
  }

  test("compact to one file sorts in one task without a shuffle; more files still range-partition") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    val before = sortedRows(log.readTable(spark, m, "annotated"))
    val one = writePlans(Maintenance.compact(spark, log, "annotated"))
    assert(one.size == 1 && !one.head.contains("Exchange") && one.head.contains("Sort"), one)
    val head = log.head.get
    assert(sortedRows(log.readTable(spark, head, "annotated")) == before)
    val root = new java.io.File(log.tablePaths(head, "annotated").head)
    val routeDirs = root.listFiles().filter(_.isDirectory)
    assert(routeDirs.nonEmpty)
    for (dir <- routeDirs) {
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${dir.getName}: ${files.length} files")
      val ids = spark.read.parquet(files.head.getPath).select("partition_id").collect().map(_.getInt(0)).toSeq
      assert(ids == ids.sorted, s"${dir.getName}: partition_id not sorted")
    }

    val small = newLog()
    new ValidationJob(spark, small, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    val many = writePlans(Maintenance.compact(spark, small, "annotated", targetFileBytes = 64L * 1024))
    assert(many.size == 1 && many.head.contains("rangepartitioning"), many)
  }

  test("compact: partition-pruned reads stay correct through the rewrite") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 2).run(inputFor, Seq(0, 1, 2, 3))
    val before = sortedRows(log.readTableForPartitions(spark, m, "annotated", Set(1)))
    Maintenance.compact(spark, log, "annotated")
    val after = sortedRows(log.readTableForPartitions(spark, log.head.get, "annotated", Set(1)))
    assert(after == before && before.nonEmpty)
  }

  test("compact: resume semantics survive — committed set unchanged, new work only") {
    val log = newLog()
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1))
    Maintenance.compact(spark, log, "annotated")
    assert(log.committedPartitions(log.head.get) == Set(0, 1))
    var calls = Vector.empty[Int]
    def countingInput(p: Int): DataFrame = { calls :+= p; inputFor(p) }
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(countingInput, Seq(0, 1, 2))
    assert(calls == Vector(2), s"resume after compaction reprocessed: $calls")
  }

  test("incremental read: (from, to] yields exactly the delta rows") {
    val log = newLog()
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    // delta (1, 3] == asOf(3) minus asOf(1), order-insensitively
    val expected = sortedRows(
      log.readTableAsOf(spark, 3, "annotated").exceptAll(log.readTableAsOf(spark, 1, "annotated"))
    )
    val got = sortedRows(log.readTableChanges(spark, 1, 3, "annotated"))
    assert(got == expected && got.size == (N / 2).toInt)
    // full range == full table; empty range == empty frame with the real schema
    assert(log.readTableChanges(spark, 0, 4, "annotated").count() == N)
    val empty = log.readTableChanges(spark, 2, 2, "annotated")
    assert(empty.count() == 0 && empty.columns.contains("status"))
  }

  test("incremental read: checkpoint and compaction commits contribute no rows") {
    val log = newLog()
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1))
    Maintenance.compact(spark, log, "annotated") // seq 3
    log.checkpoint(log.head.get) //                 seq 4
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2)) // seq 5
    // across rewrite + checkpoint, only partition 2's rows are new
    val delta = log.readTableChanges(spark, 2, 5, "annotated")
    assert(delta.count() == N / 4)
    assert(sortedRows(delta) == sortedRows(log.readTableChanges(spark, 4, 5, "annotated")))
    // a reader that fell behind the retention window must re-bootstrap
    Maintenance.expire(log)
    intercept[Exception](log.readTableChanges(spark, 0, 5, "annotated").count())
  }

  test("selective compact: well-sized roots survive untouched, only fragmented roots rewrite") {
    import org.apache.spark.sql.functions._
    import graft.table.Manifest
    val log = newLog()
    // root A: well-sized (80k rows, 1 file per statusd) — must NOT be rewritten.
    // roots B, C: fragmented (500 rows across 8 files each).
    def writeRoot(tag: String, rows: Long, filesEach: Int, prev: Option[Manifest]): (String, Manifest) = {
      val root = log.dataDir(tag, "annotated")
      spark.range(rows).repartition(filesEach)
        .select(concat(lit(tag + "_"), col("id")).as("image_id"),
          when(col("id") % 10 === 0, "invalid").otherwise("success").as("status"),
          sha2(col("id").cast("string"), 256).as("payload"))
        .withColumn("statusd", col("status"))
        .write.partitionBy("statusd").parquet(root)
      val m = log.commit(Manifest("", 0L, prev.map(_.snapshotId), "v1", "spec", Seq(tag.last - '0'),
        complete = false, tables = Map("annotated" -> Seq(root),
          "valid" -> Seq(graft.table.SnapshotLog.validDir(root))),
        metrics = Map.empty, sketches = Map.empty, createdAtMs = 1L))
      (root, m)
    }
    val (rootA, mA) = writeRoot("root0", 80000, 1, None)
    val (_, mB) = writeRoot("root1", 500, 8, Some(mA))
    val (_, _) = writeRoot("root2", 500, 8, Some(mB))
    val head0 = log.head.get
    val beforeAnn = sortedRows(log.readTable(spark, head0, "annotated"))
    val beforeValid = sortedRows(log.readTable(spark, head0, "valid"))

    // threshold sits between the fragmented (~tiny) and well-sized file size
    val c = Maintenance.compact(spark, log, "annotated", rewriteThresholdBytes = Some(64 * 1024))
    val head = log.head.get
    val annPaths = log.tablePaths(head, "annotated")
    assert(annPaths.size == 2 && annPaths.contains(rootA), s"kept root missing: $annPaths")
    assert(c.filesAfter < c.filesBefore)
    assert(sortedRows(log.readTable(spark, head, "annotated")) == beforeAnn)
    assert(sortedRows(log.readTable(spark, head, "valid")) == beforeValid)

    // expire after checkpoint reclaims ONLY the rewritten fragmented roots
    log.checkpoint(log.head.get)
    val e = Maintenance.expire(log)
    val fs = new org.apache.hadoop.fs.Path(rootA).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(e.tableDirsDeleted == 2 && fs.exists(new org.apache.hadoop.fs.Path(rootA)))
    assert(sortedRows(log.readTable(spark, log.head.get, "annotated")) == beforeAnn)

    // nothing below threshold anymore: second selective compact is a no-op
    val c2 = Maintenance.compact(spark, log, "annotated", rewriteThresholdBytes = Some(64 * 1024))
    assert(c2.filesBefore == c2.filesAfter && c2.bytesRewritten == 0L)
    assert(log.head.get.sequence == c2.manifest.sequence, "no-op must not commit")
  }

  test("selective compact sizes roots by data files only: a one-file root with a _SUCCESS marker is kept") {
    import graft.table.Manifest
    val log = newLog()
    val root = log.dataDir("marked", "events")
    // a plain session write: one data file plus the committer's _SUCCESS marker
    spark.range(20000).selectExpr("id", "sha2(cast(id as string), 256) as payload").coalesce(1).write.parquet(root)
    val files = new java.io.File(root).list().toSeq
    assert(files.contains("_SUCCESS") && files.count(_.endsWith(".parquet")) == 1, s"$files")
    val size = new java.io.File(root).listFiles().filter(_.getName.endsWith(".parquet")).head.length()
    val m = log.commit(Manifest("", 0L, None, "v1", "spec", Seq(0), complete = true,
      tables = Map("events" -> Seq(root)), metrics = Map.empty, sketches = Map.empty, createdAtMs = 1L))
    // threshold < file size < 2 x threshold: the marker must not halve the mean
    val c = Maintenance.compact(spark, log, "events", rewriteThresholdBytes = Some(size * 3 / 4))
    assert(c.filesBefore == 1 && c.filesAfter == 1 && c.bytesRewritten == 0L, s"$c")
    assert(log.head.get.sequence == m.sequence, "a kept root must not be rewritten")
    assert(log.tablePaths(log.head.get, "events") == Seq(root))
  }

  test("compact re-derives dual (statusd, streamd) routing for multi-stream tables") {
    import org.apache.spark.sql.functions._
    import graft.constraint.{ConstraintSet, DefaultFill, MaxLength, MinLength, NonNull}
    import graft.engine.{ConstraintRegistry, EngineOptions}
    import spark.implicits._

    val registry = ConstraintRegistry(
      Seq(
        ConstraintSet("doc/2.0.0", fills = Seq(DefaultFill("source", "f2")),
          checks = Seq(NonNull("doc_id"), MinLength("text", 10), MaxLength("text", 100))),
        ConstraintSet("doc/1.0.0", fills = Seq(DefaultFill("source", "f1")),
          checks = Seq(NonNull("doc_id")))
      ),
      routes = Map("strict" -> "doc/2.0.0", "lax" -> "doc/1.0.0")
    )
    def inputFor(p: Int) = Seq(
      (s"p${p}_a", "short", "strict"), // invalid under strict
      (s"p${p}_b", "a perfectly long enough text", "strict"),
      (s"p${p}_c", "short", "lax")
    ).toDF("doc_id", "text", "stream").withColumn("source", lit(null: String))

    val log = newLog()
    val engine = new ValidationEngine(registry, EngineOptions(idField = "doc_id"), Some("stream"), Nil)
    val m = new ValidationJob(spark, log, engine, "explicit", suppressViolations = None,
      commitBatch = 1, violationsSchema = Some(ValidationJob.violationsSchemaV1)).run(inputFor, Seq(0, 1, 2))
    def perStream(mf: graft.table.Manifest) =
      log.readTableLenient(spark, mf, "valid")
        .groupBy("stream").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val beforeValid = perStream(m)
    val beforeAnn = sortedRowsBy(log.readTable(spark, m, "annotated"), "doc_id")

    Maintenance.compact(spark, log, "annotated")
    log.checkpoint(log.head.get)
    Maintenance.expire(log)

    val head = log.head.get
    assert(perStream(head) == beforeValid && beforeValid == Map("strict" -> 3L, "lax" -> 3L))
    assert(sortedRowsBy(log.readTable(spark, head, "annotated"), "doc_id") == beforeAnn)
    // physical layout: the rewrite restored the (statusd, streamd) dir nesting
    val root = log.tablePaths(head, "annotated") match { case Seq(one) => one }
    val streamDirs = Option(new java.io.File(root.stripPrefix("file:"), "statusd=success").listFiles())
      .toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet
    assert(streamDirs == Set("streamd=strict", "streamd=lax"), s"got $streamDirs")
  }

  private def sortedRowsBy(df: DataFrame, idCol: String): Seq[Row] =
    df.select(idCol, "status").orderBy(idCol).collect().toSeq

  test("maintenance interleaves with a live stream: ledger and data survive compact+expire") {
    import graft.streaming.StreamingValidation.{checkpointIdentity, processAndCommit}
    val log = newLog()
    val imgs = SyntheticImages.images(spark, 300, 1).toDF()
    val ckptDir = Files.createTempDirectory("graft_maint_ckpt").toString
    val id = checkpointIdentity(spark, ckptDir)

    assert(processAndCommit(log, v1Gate, imgs, 0L, id).isDefined)
    assert(processAndCommit(log, v1Gate, imgs, 1L, id).isDefined)
    val perBatch = log.readTable(spark, log.head.get, "valid").count()

    Maintenance.compact(spark, log, "annotated")
    // replay ledger is chain-carried through the rewrite commit
    assert(processAndCommit(log, v1Gate, imgs, 1L, id).isEmpty)
    assert(processAndCommit(log, v1Gate, imgs, 2L, id).isDefined)

    log.checkpoint(log.head.get)
    Maintenance.expire(log)
    // ...and squashed exactly-once into the checkpoint manifest
    assert(processAndCommit(log, v1Gate, imgs, 2L, id).isEmpty)
    assert(processAndCommit(log, v1Gate, imgs, 3L, id).isDefined)

    val head = log.head.get
    assert(log.committedStreamBatches(head, id) == Set(0L, 1L, 2L, 3L))
    assert(log.readTable(spark, head, "valid").count() == 2 * perBatch)
    assert(log.readTable(spark, head, "annotated").count() == 4 * 300)
  }

  test("SnapshotFollower: durable incremental consumption, replay on crash, rebootstrap after expire") {
    import graft.streaming.SnapshotFollower
    val log = newLog()
    val follower = new SnapshotFollower(log, "annotated",
      Files.createTempDirectory("graft_follow").toString, spark.sparkContext.hadoopConfiguration)

    var seen = Vector.empty[(Long, Long, Long)] // (rows, from, to)
    def consume(df: DataFrame, from: Long, to: Long): Unit = seen :+= ((df.count(), from, to))

    assert(follower.poll(spark)(consume) == 0L && seen.isEmpty) // empty log: no-op

    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1))
    assert(follower.poll(spark)(consume) == 2L)
    assert(seen == Vector((N / 2, 0L, 2L)))
    assert(follower.poll(spark)(consume) == 0L, "caught up: callback not re-invoked")

    // crash between callback and cursor write => same delta replays (at-least-once)
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2))
    intercept[RuntimeException](follower.poll(spark) { (df, f, t) => consume(df, f, t); throw new RuntimeException("crash") })
    assert(follower.cursor == 2L, "cursor must NOT advance past a failed callback")
    assert(follower.poll(spark)(consume) == 1L)
    assert(seen.drop(1) == Vector((N / 4, 2L, 3L), (N / 4, 2L, 3L)))

    // crash window in the cursor update: only the fully-written tmp remains
    // => cursor recovers from it rather than resetting to 0 (full replay)
    locally {
      val f = new org.apache.hadoop.fs.Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cur = follower.cursor
      val dir2 = Files.createTempDirectory("graft_follow_crash").toString
      val crashed = new SnapshotFollower(log, "annotated", dir2, spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(dir2, ".cursor-annotated.tmp")
      val out = f.create(tmp, true); out.write(cur.toString.getBytes); out.close()
      assert(crashed.cursor == cur, "recover from tmp when the durable file is missing")
    }

    // maintenance squeezes the log; a fallen-behind cursor rebootstraps
    Maintenance.compact(spark, log, "annotated")
    log.checkpoint(log.head.get)
    Maintenance.expire(log)
    new SnapshotFollower(log, "annotated",
      Files.createTempDirectory("graft_follow2").toString, spark.sparkContext.hadoopConfiguration) match {
      case stale =>
        intercept[Exception](stale.poll(spark)((_, _, _) => ())) // cursor 0 predates retention
        assert(stale.rebootstrap(spark)((df, _, _) => assert(df.count() == 3 * N / 4)) == log.head.get.sequence)
        assert(stale.poll(spark)((_, _, _) => fail("caught up after rebootstrap")) == 0L)
    }
    // the original follower's cursor (3) predates the new checkpoint (5):
    // expire deleted the manifests its range needs — it must rebootstrap
    // too (Iceberg semantics: expire invalidates consumers older than the
    // retention window, even if their missed commits added no rows).
    intercept[Exception](follower.poll(spark)(consume))
    follower.rebootstrap(spark)((df, _, _) => assert(df.count() == 3 * N / 4))
    assert(follower.poll(spark)((_, _, _) => fail("caught up after rebootstrap")) == 0L)
  }

  test("SnapshotFollower.poll(maxCommits): a backlog drains in bounded slices, cursor advancing per slice") {
    import graft.streaming.SnapshotFollower
    import graft.streaming.StreamingValidation.{checkpointIdentity, processAndCommit}
    val log = newLog()
    val imgs = SyntheticImages.images(spark, 100, 1).toDF()
    val id = checkpointIdentity(spark, Files.createTempDirectory("graft_bound_ckpt").toString)
    (0L until 10L).foreach(b => assert(processAndCommit(log, v1Gate, imgs, b, id).isDefined))
    assert(log.head.get.sequence == 10L)

    val follower = new SnapshotFollower(log, "annotated",
      Files.createTempDirectory("graft_follow_bounded").toString, spark.sparkContext.hadoopConfiguration)
    var slices = Vector.empty[(Long, Long, Long)] // (rows, from, to)
    var polls = 0
    var advanced = 1L
    while (advanced > 0) {
      advanced = follower.poll(spark, maxCommits = 4)((df, f, t) => slices :+= ((df.count(), f, t)))
      if (advanced > 0) polls += 1
    }
    // ceil(10/4) = 3 slices, each individually committed to the cursor
    assert(polls == 3, s"10-commit backlog at k=4 must drain in 3 polls: $slices")
    assert(slices.map(s => (s._2, s._3)) == Vector((0L, 4L), (4L, 8L), (8L, 10L)))
    assert(slices.map(_._1) == Vector(400L, 400L, 200L)) // 100 rows per commit
    assert(follower.cursor == 10L)

    // a crash mid-catch-up replays only the CURRENT slice
    (10L until 16L).foreach(b => assert(processAndCommit(log, v1Gate, imgs, b, id).isDefined))
    intercept[RuntimeException](follower.poll(spark, maxCommits = 4) { (_, _, _) => throw new RuntimeException("crash") })
    assert(follower.cursor == 10L)
    assert(follower.poll(spark, maxCommits = 4)((_, f, t) => assert((f, t) == ((10L, 14L)))) == 4L)
    assert(follower.cursor == 14L)
  }

  test("compact('valid') is rejected: valid is a derived view of annotated") {
    val log = newLog()
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0))
    val e = intercept[IllegalArgumentException](Maintenance.compact(spark, log, "valid"))
    assert(e.getMessage.contains("derived view"), e.getMessage)
  }

  test("manifest cache: a root recreated at the same path serves the NEW incarnation once it commits") {
    val dir = Files.createTempDirectory("graft_cache_reuse").toString
    val log = new SnapshotLog(dir, spark.sparkContext.hadoopConfiguration)
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0))
    assert(log.read(1L).partitionsDelta == Seq(0))
    // wipe the root WITHOUT expire (the cache is not informed) and rebuild
    // at the same path — the round-3 advisory's stale-incarnation scenario
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    val log2 = new SnapshotLog(dir, spark.sparkContext.hadoopConfiguration)
    new ValidationJob(spark, log2, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(1))
    // commit() refreshed the process-wide cache: sequence 1 now resolves to
    // the new incarnation's manifest, not the deleted one's
    assert(log2.read(1L).partitionsDelta == Seq(1))
    assert(log2.readTable(spark, log2.head.get, "annotated").count() == N / P)
  }

  test("IncrementalDedup: cross-batch pairs via stored signatures; replayed slice never double-commits") {
    import graft.streaming.{IncrementalDedup, SignatureStore}
    import graft.table.Manifest
    import spark.implicits._
    val log = newLog()
    def doc(i: Long, tag: String) = {
      // genuinely distinct texts (a shared template would make every doc a
      // legitimate near-dup of every other at 5-gram Jaccard 0.7)
      val rnd = new scala.util.Random(i * 1315423911L + tag.hashCode)
      (i, (0 until 40).map(_ => f"w${rnd.nextInt(5000)}%04d").mkString(" "))
    }
    def commitDocs(tag: String, rows: Seq[(Long, String)]): Unit = {
      val dir = log.dataDir(s"docs-$tag", "documents")
      val df = rows.toDF("doc_id", "text")
      df.write.mode("overwrite").parquet(dir)
      val head = log.head
      log.commit(Manifest(
        snapshotId = "", sequence = 0L, parentId = head.map(_.snapshotId),
        constraintVersion = "docs/1", partitionSpec = "batch",
        partitionsDelta = Seq.empty, complete = false,
        tables = Map("documents" -> Seq(dir)),
        metrics = head.map(_.metrics).getOrElse(Map.empty),
        sketches = Map.empty, createdAtMs = System.currentTimeMillis(),
        tableSchemas = Map("documents" -> df.schema.json)
      ))
    }
    commitDocs("b1", (0L until 10L).map(doc(_, "first")))
    // b2 doc 103 is a near-copy of b1's doc 3; b3 doc 203 near-copies BOTH
    commitDocs("b2", Seq((103L, doc(3L, "first")._2 + " qz"), (110L, doc(110L, "second")._2)))
    commitDocs("b3", Seq((203L, doc(3L, "first")._2 + " zq")))

    val cursorDir = Files.createTempDirectory("graft_incdedup").toString
    val sigLog = newLog()
    intercept[IllegalArgumentException] { // self-following is rejected outright
      new IncrementalDedup(log, log, "documents", "doc_id", "text", cursorDir, spark.sparkContext.hadoopConfiguration)
    }
    val dedup = new IncrementalDedup(log, sigLog, "documents", "doc_id", "text",
      cursorDir, spark.sparkContext.hadoopConfiguration)
    var seen = Vector.empty[Set[(Long, Long)]]
    def collectPairs(df: DataFrame): Unit =
      seen :+= df.select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet
    // drain one commit per step: pairs accrue strictly against PRIOR batches
    while (dedup.step(spark, maxCommits = 1)(collectPairs) > 0) ()
    assert(seen == Vector(Set.empty, Set((3L, 103L)), Set((3L, 203L), (103L, 203L))),
      s"per-slice cross-batch pairs: $seen")
    val sigRows = sigLog.readTable(spark, sigLog.head.get, SignatureStore.SigTable).count()
    assert(sigRows == 13, s"signature table must hold every ingested doc once: $sigRows")

    // crash window: the cursor write is LOST after the last slice's
    // signature commit — the replay re-delivers that slice's pairs
    // (at-least-once; self-pairs against its own stored signatures are
    // filtered) but must NOT double the signature table or its manifests
    val fs = new org.apache.hadoop.fs.Path(cursorDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(cursorDir, "cursor-documents.txt"), true)
    out.write("2".getBytes); out.close() // rewind past the b3 slice
    val seqBefore = sigLog.head.get.sequence
    var replayed = Vector.empty[Set[(Long, Long)]]
    while (dedup.step(spark, maxCommits = 1)(df => replayed :+= df.select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet) > 0) ()
    assert(replayed == Vector(Set((3L, 203L), (103L, 203L))),
      s"replayed slice must re-derive exactly its original pairs: $replayed")
    assert(sigLog.head.get.sequence == seqBefore, "replay committed duplicate signature manifests")
    assert(sigLog.readTable(spark, sigLog.head.get, SignatureStore.SigTable).count() == 13,
      "replay doubled the signature table")

    // a producer metadata commit (checkpoint) adds no documents: the step
    // consumes it without growing the signature chain
    log.checkpoint(log.head.get)
    val sigSeq = sigLog.head.get.sequence
    assert(dedup.step(spark)(df => assert(df.isEmpty, "idle slice produced pairs")) > 0)
    assert(sigLog.head.get.sequence == sigSeq, "idle slice committed an empty signature manifest")
    assert(dedup.step(spark)(_ => fail("caught up")) == 0L)
  }

  test("IncrementalDedup keys table: clustered compaction + pruned probe parity") {
    import graft.ops.Dedup
    import graft.streaming.{IncrementalDedup, SignatureStore}
    import graft.table.Manifest
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def doc(i: Long, tag: String) = {
      val rnd = new scala.util.Random(i * 1315423911L + tag.hashCode)
      (i, (0 until 40).map(_ => f"w${rnd.nextInt(5000)}%04d").mkString(" "))
    }
    val log = newLog()
    def commitDocs(tag: String, rows: Seq[(Long, String)]): Unit = {
      val dir = log.dataDir(s"docs-$tag", "documents")
      val df = rows.toDF("doc_id", "text")
      df.write.mode("overwrite").parquet(dir)
      val head = log.head
      log.commit(Manifest("", 0L, head.map(_.snapshotId), "docs/1", "batch",
        Seq.empty, complete = false, tables = Map("documents" -> Seq(dir)),
        metrics = head.map(_.metrics).getOrElse(Map.empty), sketches = Map.empty,
        createdAtMs = System.currentTimeMillis(),
        tableSchemas = Map("documents" -> df.schema.json)))
    }
    commitDocs("k1", (0L until 60L).map(doc(_, "first")))
    val sigLog = newLog()
    val dedup = new IncrementalDedup(log, sigLog, "documents", "doc_id", "text",
      Files.createTempDirectory("graft_keys_cursor").toString, spark.sparkContext.hadoopConfiguration)
    assert(dedup.step(spark)(_ => ()) > 0)
    // keys twin lands in the SAME commit, one row per (doc, band)
    val head1 = sigLog.head.get
    assert(head1.tables.contains(SignatureStore.KeysTable) && head1.tables.contains(SignatureStore.SigTable))
    val keyRows = sigLog.readTable(spark, head1, SignatureStore.KeysTable)
    assert(keyRows.count() == 60 * 16, "keys table must hold numBands rows per doc")

    // clustered compaction: parity + band_key ranges of output files are
    // non-overlapping (band_key-PRIMARY range clustering — the pushed probe
    // filter is on band_key alone, so that is the column whose file min/max
    // must be narrow; small target forces >1 file)
    SignatureStore.compact(spark, sigLog, targetFileBytes = 2 * 1024)
    val keysAfter = sigLog.readTable(spark, sigLog.head.get, SignatureStore.KeysTable)
    assert(keysAfter.count() == 60 * 16, "compaction changed keys row count")
    val keyFiles = keysAfter.select(org.apache.spark.sql.functions.input_file_name().as("f"),
        col("band_key"))
      .groupBy("f")
      .agg(org.apache.spark.sql.functions.min("band_key").as("lo"),
        org.apache.spark.sql.functions.max("band_key").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).sortBy(_._1)
    assert(keyFiles.length > 1, "compaction produced a single file; clustering unobservable")
    keyFiles.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(lo2 >= hi, s"band_key ranges overlap across files: ${keyFiles.toSeq}")
    case _ => ()
    }

    // pruned stored-keys probe ≡ plain probe: same pairs for an arriving batch
    commitDocs("k2", Seq((1003L, doc(3L, "first")._2 + " qz"), (1100L, doc(1100L, "second")._2)))
    var got = Set.empty[(Long, Long)]
    assert(dedup.step(spark)(df =>
      got = df.select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet) > 0)
    assert(got == Set((3L, 1003L)), s"pruned probe diverged: $got")
    // direct parity on the same stored frames
    val sigs = sigLog.readTable(spark, sigLog.head.get, SignatureStore.SigTable)
    val keys2 = sigLog.readTable(spark, sigLog.head.get, SignatureStore.KeysTable)
    val batchSigs = Dedup.minhashSignatures(
      Seq((9003L, doc(3L, "first")._2 + " zq")).toDF("doc_id", "text"), "doc_id", "text")
    def pairsOf(ck: Option[org.apache.spark.sql.DataFrame], limit: Int) =
      Dedup.minhashPairsAgainstSignatures(sigs, batchSigs, 0.7, Dedup.DefaultMaxBucket, ck, limit)
        .select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet
    assert(pairsOf(None, 0) == pairsOf(Some(keys2), 16384), "stored-keys pruned path diverged")
  }

  test("IncrementalDedup randomized interleavings ≡ slice-aware model (commits, bounded steps, cursor crashes)") {
    import graft.streaming.{IncrementalDedup, SignatureStore}
    import graft.table.Manifest
    import spark.implicits._
    for (seed <- Seq(41, 42)) {
      val rnd = new scala.util.Random(seed)
      val log = newLog()
      val sigLog = newLog()
      val cursorDir = Files.createTempDirectory(s"graft_incmodel$seed").toString
      val dedup = new IncrementalDedup(log, sigLog, "documents", "doc_id", "text",
        cursorDir, spark.sparkContext.hadoopConfiguration)

      def freshText(i: Long) = {
        val r = new scala.util.Random(i * 7919 + seed)
        (0 until 40).map(_ => f"w${r.nextInt(5000)}%04d").mkString(" ")
      }
      var nextId = 0L
      var family = Map.empty[Long, Long] // doc -> family root
      var batchOf = Map.empty[Long, Int] // doc -> commit index (1-based sequence in docLog)
      var committed = 0
      def commitBatch(): Unit = {
        committed += 1
        val fresh = { val id = nextId; nextId += 1; family += id -> id; (id, freshText(id)) }
        // ~60%: also plant a near-copy of a random earlier doc (copies of
        // one root are mutually near-dup — a clique across batches)
        val planted =
          if (family.size > 1 && rnd.nextInt(10) < 6) {
            val src = family.keys.toSeq.sorted.apply(rnd.nextInt(family.size - 1))
            val id = nextId; nextId += 1; family += id -> family(src)
            Seq((id, freshText(family(id)) + s" q$committed"))
          } else Seq.empty
        val rows = Seq(fresh) ++ planted
        rows.foreach { case (id, _) => batchOf += id -> committed }
        val dir = log.dataDir(s"docs-m$committed", "documents")
        val df = rows.toDF("doc_id", "text")
        df.write.mode("overwrite").parquet(dir)
        val h = log.head
        log.commit(Manifest("", 0L, h.map(_.snapshotId), "docs/1", "b", Seq.empty, false,
          Map("documents" -> Seq(dir)), h.map(_.metrics).getOrElse(Map.empty), Map.empty,
          System.currentTimeMillis(), tableSchemas = Map("documents" -> df.schema.json)))
      }

      var stored = Set.empty[Long] // docs whose signatures are in the store
      var expected = Set.empty[(Long, Long)]
      var delivered = Set.empty[(Long, Long)]
      var consumedSeq = 0L // model cursor (doc-commit count consumed)
      var lastSliceStart = 0L // for the crash model: the one cursor write that can be lost
      def runStep(maxCommits: Int): Unit = {
        val advanced = dedup.step(spark, maxCommits)(df =>
          delivered ++= df.select("corpus_id", "incoming_id").as[(Long, Long)].collect())
        if (advanced > 0) {
          val sliceEnd = consumedSeq + advanced
          val slice = batchOf.collect { case (id, b) if b > consumedSeq && b <= sliceEnd => id }.toSet
          // cross-side only: slice docs pair with family members stored by
          // EARLIER slices — never each other, and (on replay) never the
          // slice's own persisted signatures
          expected ++= slice.flatMap(i => (stored -- slice).filter(c => family(c) == family(i)).map(c => (c, i)))
          stored ++= slice
          lastSliceStart = consumedSeq
          consumedSeq = sliceEnd
        }
      }

      (0 until 30).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 | 1 => commitBatch()
          case 2     => runStep(1 + rnd.nextInt(3))
          case 3 => // crash: the LAST cursor write is lost (the real window);
            // the slice replays against its own persisted signatures
            val fs = new org.apache.hadoop.fs.Path(cursorDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
            val p = new org.apache.hadoop.fs.Path(cursorDir, "cursor-documents.txt")
            if (fs.exists(p) && consumedSeq > lastSliceStart) {
              val out = fs.create(p, true); out.write(lastSliceStart.toString.getBytes); out.close()
              consumedSeq = lastSliceStart // replay: stored set unchanged, model unchanged
            }
          case _ => runStep(Int.MaxValue)
        }
      }
      while ({ val before = consumedSeq; runStep(Int.MaxValue); consumedSeq != before }) ()

      assert(delivered == expected,
        s"seed $seed: delivered ${delivered.toSeq.sorted} != expected ${expected.toSeq.sorted}")
      if (stored.nonEmpty)
        assert(sigLog.readTable(spark, sigLog.head.get, SignatureStore.SigTable).count() == nextId,
          s"seed $seed: signature table must hold every ingested doc exactly once")
    }
  }

  test("rollbackTo undoes a bad batch: reads, resume, ledger, and reclamation all revert") {
    val log = newLog()
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1))
    val goodSeq = log.head.get.sequence
    val goodRows = sortedRows(log.readTable(spark, log.head.get, "annotated"))
    val goodMetrics = log.head.get.metrics("n_success")

    // the "bad" batch: partitions 2 and 3 land, then get rolled back
    val mBad = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    val badRoot = new org.apache.hadoop.fs.Path(log.tablePaths(mBad, "annotated").last)
    assert(log.readTable(spark, mBad, "annotated").count() == N)

    val rolled = Maintenance.rollbackTo(log, goodSeq)
    assert(rolled.sequence == mBad.sequence + 1 && rolled.checkpoint)
    val head = log.head.get
    assert(sortedRows(log.readTable(spark, head, "annotated")) == goodRows)
    assert(head.metrics("n_success") == goodMetrics, "cumulative metrics revert with the data")
    assert(log.committedPartitions(head) == Set(0, 1), "rolled-back partitions must reprocess")

    // resume after rollback reprocesses ONLY the rolled-back partitions
    var calls = Vector.empty[Int]
    def countingInput(p: Int): DataFrame = { calls :+= p; inputFor(p) }
    new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(countingInput, Seq(0, 1, 2, 3))
    assert(calls == Vector(2, 3), s"expected partitions 2,3 to reprocess, got $calls")
    assert(sortedRows(log.readTable(spark, log.head.get, "annotated")).size == N.toInt)

    // incremental reads resolve by parent lineage: the rolled-back commits
    // are not ancestors of the rollback checkpoint, so they are NOT deltas —
    // and a cursor pointing INTO abandoned history throws (re-bootstrap)
    val afterResume = log.head.get.sequence
    assert(log.readTableChanges(spark, goodSeq, rolled.sequence, "annotated").count() == 0)
    assert(log.readTableChanges(spark, goodSeq, afterResume, "annotated").count() == N / 2)
    intercept[IllegalStateException](
      log.readTableChanges(spark, mBad.sequence, afterResume, "annotated"))

    // a rollback taken to be FINAL: roll back again, then expire reclaims the bad files
    Maintenance.rollbackTo(log, goodSeq)
    val e = Maintenance.expire(log)
    val fs = badRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(e.tableDirsDeleted > 0 && !fs.exists(badRoot), "bad batch's files reclaimed")
    assert(sortedRows(log.readTable(spark, log.head.get, "annotated")) == goodRows)
  }

  test("compact -> checkpoint -> expire: space reclaimed, reads intact, expired travel throws") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    val beforeAnn = sortedRows(log.readTable(spark, m, "annotated"))
    val oldRoot = new org.apache.hadoop.fs.Path(log.tablePaths(m, "annotated").head)
    val fs = oldRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)

    Maintenance.compact(spark, log, "annotated")
    // Before checkpoint, pre-compaction originals are still reachable via
    // retained (time-travelable) manifests: expire must NOT touch them.
    val noop = Maintenance.expire(log)
    assert(noop.tableDirsDeleted == 0 && fs.exists(oldRoot))

    log.checkpoint(log.head.get)
    // warm a SECOND log instance's view of soon-expired history: eviction
    // must be process-wide, not per-instance
    val log2 = new SnapshotLog(log.root, spark.sparkContext.hadoopConfiguration)
    assert(log2.readTableAsOf(spark, 1, "annotated").count() > 0)

    val stats = Maintenance.expire(log)
    assert(stats.manifestsDeleted > 0 && stats.tableDirsDeleted > 0 && stats.bytesReclaimed > 0)
    assert(!fs.exists(oldRoot), "pre-compaction annotated dir should be reclaimed")
    intercept[Exception](log2.readTableAsOf(spark, 1, "annotated"))

    val head = log.head.get
    assert(sortedRows(log.readTable(spark, head, "annotated")) == beforeAnn)
    assert(log.readTable(spark, head, "violations").count() >= 0)
    assert(log.readTable(spark, head, "rollups").select("partition_id").distinct().count() == 4)
    assert(log.committedPartitions(head) == Set(0, 1, 2, 3))
    intercept[Exception](log.readTableAsOf(spark, 1, "annotated"))
  }
}
