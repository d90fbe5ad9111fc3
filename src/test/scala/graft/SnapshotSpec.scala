package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.constraint.{ConstraintSet, MaxLength, NonNull}
import graft.engine.ImageConstraints
import graft.gen.SyntheticImages
import graft.sketch.{ColumnProfiler, Sketches}
import graft.table.{SnapshotLog, ValidationJob}

class SnapshotSpec extends SparkSpec {

  val N = 3000L
  val P = 4

  /** partition p = rows with index ≡ p (mod P) — deterministic pruned input. */
  private def inputFor(p: Int): DataFrame = {
    import spark.implicits._
    val (pLocal, mod) = (p.toLong, P.toLong) // locals only: lambdas must not capture the suite
    spark
      .range(0, N, 1, 2)
      .as[Long]
      .filter(i => (i % mod) == pLocal)
      .map(i => SyntheticImages.rowOf(i, drift = false, contentPool = 0))
      .toDF()
  }

  private def newLog(): SnapshotLog = {
    val dir = Files.createTempDirectory("graft_snap").toString
    new SnapshotLog(dir, spark.sparkContext.hadoopConfiguration)
  }

  private def countMetrics(m: graft.table.Manifest): Map[String, Long] =
    m.metrics.filter { case (k, _) => k.startsWith("n_") || k == "violations_rejected" }

  test("stream-batch ids come only from the ledger, per identity") {
    import graft.table.Manifest
    // a batch commit whose partitionsDelta and paths look like a stream
    // batch marks nothing committed: only a streamBatches entry does
    val log = newLog()
    log.commit(Manifest(
      snapshotId = "", sequence = 0L, parentId = None,
      constraintVersion = "img/1.0.0", partitionSpec = "batch",
      partitionsDelta = Seq(42), complete = true,
      tables = Map(
        "annotated" -> Seq(s"${log.root}/data/p-stream-42/annotated"),
        "rollups" -> Seq(s"${log.root}/data/p-batch7/rollups")),
      metrics = Map.empty, sketches = Map.empty,
      createdAtMs = System.currentTimeMillis()))
    assert(log.committedStreamBatches(log.head.get, "any-checkpoint").isEmpty,
      "a batch commit's partitionsDelta must not count as stream-batch ids")
    // a commit that carries a streamBatches ledger counts under its own
    // identity only
    log.commit(Manifest(
      snapshotId = "", sequence = 0L, parentId = Some(log.head.get.snapshotId),
      constraintVersion = "img/1.0.0", partitionSpec = "stream",
      partitionsDelta = Seq(7), complete = true,
      tables = Map("annotated" -> Seq(s"${log.root}/data/p-stream-7/annotated")),
      metrics = Map.empty, sketches = Map.empty,
      createdAtMs = System.currentTimeMillis(),
      streamBatches = Map("ckpt-a" -> Seq(7L))))
    assert(log.committedStreamBatches(log.head.get, "ckpt-a") == Set(7L))
    assert(log.committedStreamBatches(log.head.get, "other-ckpt").isEmpty,
      "ledger ids are per-identity; partitionsDelta must not leak into another identity")
  }

  test("stream-<digits> is an ordinary tag: a commit under it adds no stream-batch ids") {
    import graft.table.Manifest
    val log = newLog()
    val dir = log.dataDir("stream-42", "annotated")
    log.commit(Manifest(
      snapshotId = "", sequence = 0L, parentId = None,
      constraintVersion = "img/1.0.0", partitionSpec = "batch",
      partitionsDelta = Seq(42), complete = true,
      tables = Map("annotated" -> Seq(dir)),
      metrics = Map.empty, sketches = Map.empty,
      createdAtMs = System.currentTimeMillis()))
    val cp = log.checkpoint(log.head.get)
    assert(cp.streamBatches.isEmpty, cp.streamBatches.toString)
    for (m <- Seq(log.read(1L), cp); id <- Seq("default", "ckpt-a"))
      assert(log.committedStreamBatches(m, id).isEmpty, s"$id at ${m.sequence}")
  }

  test("commit lost-update detection: foreign bytes at dest fail the survived-rename check") {
    // POSIX rename overwrites: two PROCESSES can both claim sequence N.
    // The loser detects the overwrite by re-reading dest and comparing
    // bytes (in-process races are already serialized by the root lock, so
    // this exercises the check directly).
    val log = newLog()
    val fs = new org.apache.hadoop.fs.Path(log.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = new org.apache.hadoop.fs.Path(log.root, "snapshots/00000001.json")
    fs.mkdirs(dest.getParent)
    val ours = """{"snapshotId":"snap-00000001"}""".getBytes("UTF-8")
    val theirs = """{"snapshotId":"snap-00000001","sequence":1}""".getBytes("UTF-8")
    def put(bytes: Array[Byte]): Unit = {
      val out = fs.create(dest, true); try out.write(bytes) finally out.close()
    }
    put(theirs)
    assert(!log.survivedRename(fs, dest, ours), "foreign content must fail the check")
    put(ours)
    assert(log.survivedRename(fs, dest, ours), "our own content must pass")
    fs.delete(dest, false)
    assert(!log.survivedRename(fs, dest, ours), "missing dest must fail, not throw")
  }

  test("atomic commit: sequences increase; HEAD reads back the manifest") {
    val log = newLog()
    val job = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1)
    val m = job.run(inputFor, Seq(0, 1))
    assert(m.sequence == 2) // one commit per partition checkpoint at k=1
    assert(log.committedPartitions(m) == Set(0, 1))
    assert(m.complete) // complete w.r.t. THIS run's target partition set
    val h = log.head.get
    assert(h.snapshotId == m.snapshotId)
    assert(h.constraintVersion == ImageConstraints.v1.version)
    assert(h.metrics("n_success") > 0)
  }

  test("batched commits: P partitions at k per commit cost ceil(P/k) commits, same results") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 3).run(inputFor, Seq(0, 1, 2, 3))
    assert(m.sequence == 2, s"expected ceil(4/3)=2 commits, got ${m.sequence}") // [0,1,2] + [3]
    assert(log.committedPartitions(m) == Set(0, 1, 2, 3))
    assert(m.complete)

    val perPartLog = newLog()
    val pp = new ValidationJob(spark, perPartLog, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    assert(pp.sequence == 4)
    val a = log.readTable(spark, m, "valid").select("image_id").collect().map(_.toString).sorted
    val b = perPartLog.readTable(spark, pp, "valid").select("image_id").collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(countMetrics(m) == countMetrics(pp))
    // rollups stay per-PARTITION even inside a multi-partition commit
    val parts = log.readTable(spark, m, "rollups").select("partition_id").distinct().collect().map(_.getInt(0)).toSet
    assert(parts == Set(0, 1, 2, 3))
  }

  test("killed job resumes from the last checkpointed partition set") {
    val log = newLog()
    // a batch resolves its partitions' inputs concurrently
    val calls = scala.collection.mutable.ArrayBuffer.empty[Int]
    def countingInput(p: Int): DataFrame = { calls.synchronized(calls += p); inputFor(p) }
    def failingInput(p: Int): DataFrame = {
      if (p == 2) throw new RuntimeException("simulated kill")
      countingInput(p)
    }
    val job1 = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1)
    intercept[RuntimeException](job1.run(failingInput, Seq(0, 1, 2, 3)))
    assert(log.committedPartitions(log.head.get) == Set(0, 1))

    // resume: only 2 and 3 are reprocessed (batched this time — one commit)
    calls.synchronized(calls.clear())
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 2).run(countingInput, Seq(0, 1, 2, 3))
    assert(calls.synchronized(calls.toVector.sorted) == Vector(2, 3), s"reprocessed $calls")
    assert(m.complete)
    assert(log.committedPartitions(m) == Set(0, 1, 2, 3))

    // final state identical to a clean run
    val cleanLog = newLog()
    val clean = new ValidationJob(spark, cleanLog, ImageConstraints.v1).run(inputFor, Seq(0, 1, 2, 3))
    val a = log.readTable(spark, m, "valid").select("image_id").collect().map(_.toString).sorted
    val b = cleanLog.readTable(spark, clean, "valid").select("image_id").collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(countMetrics(m) == countMetrics(clean))
  }

  test("uncommitted partition outputs are invisible through the manifest") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1).run(inputFor, Seq(0))
    // partition 1's data dir may not exist yet; the manifest only lists p=0
    assert(log.tablePaths(m, "valid").forall(_.contains("p-0")))
    val n = log.readTable(spark, m, "valid").count()
    val expect = spark.range(0, N).filter(col("id") % P === 0).count()
    assert(n <= expect) // only p=0 rows, minus invalid/error
    assert(n > expect * 8 / 10)
  }

  test("manifest sketches accumulate to whole-table statistics") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 2).run(inputFor, Seq(0, 1, 2, 3))
    val hll = java.util.Base64.getDecoder.decode(m.sketches("hll_image_id"))
    val est = Sketches.hllEstimate(hll)
    val exact = log.readTable(spark, m, "valid").select("image_id").distinct().count()
    assert(math.abs(est - exact) / exact < 0.05, s"est=$est exact=$exact")
    // byte-size quantiles (north_star) accumulate too
    val tdBs = java.util.Base64.getDecoder.decode(m.sketches("td_byte_size"))
    val p50 = Sketches.tdQuantile(tdBs, 0.5)
    assert(p50 > 0, s"byte-size median $p50")
    // lineage chain: parent ids link back
    val h = log.head.get
    assert(h.parentId.isDefined)
  }

  test("the commit and ColumnProfiler.profile share one profile: same names, identical hll_* and freq_* bytes") {
    import spark.implicits._
    // One input partition, so both paths add the valid rows in one task and
    // in the same order: the order-dependent parts of the bytes (the HLL
    // HIP accumulator, frequent-items purges) then match as well.
    def onePartition(p: Int): DataFrame =
      spark.range(0, N, 1, 1).as[Long].map(i => SyntheticImages.rowOf(i, drift = false, contentPool = 0)).toDF()
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1).run(onePartition, Seq(0))
    val committed = m.sketches.map { case (k, v) => k -> java.util.Base64.getDecoder.decode(v) }
    val profiled = ColumnProfiler.profile(log.readTable(spark, m, "valid"))
    assert(profiled.nRows == m.metrics("n_success"))
    assert(committed.keySet == profiled.sketches.keySet)
    assert(committed.keySet == ColumnProfiler.Profiled.map(_.name).toSet)
    for (name <- committed.keys.filter(k => k.startsWith("hll_") || k.startsWith("freq_")))
      assert(committed(name).sameElements(profiled.sketch(name)), s"$name differs between the commit and profile")
    for (name <- committed.keys.filter(_.startsWith("td_")); q <- Seq(0.1, 0.5, 0.9))
      assert(Sketches.tdQuantile(committed(name), q) == Sketches.tdQuantile(profiled.sketch(name), q), s"$name q$q")
  }

  test("snapshot-to-snapshot drift scored from committed manifest sketches (no data read)") {
    import spark.implicits._
    def driftedInput(p: Int): DataFrame = {
      val (pLocal, mod) = (p.toLong, P.toLong)
      spark.range(0, N, 1, 2).as[Long]
        .filter(i => (i % mod) == pLocal)
        .map(i => SyntheticImages.rowOf(i, drift = true, contentPool = 0))
        .toDF()
    }
    val logA = newLog(); val logB = newLog(); val logC = newLog()
    val base = new ValidationJob(spark, logA, ImageConstraints.v1).run(inputFor, Seq(0, 1))
    val same = new ValidationJob(spark, logB, ImageConstraints.v1).run(inputFor, Seq(0, 1))
    val drifted = new ValidationJob(spark, logC, ImageConstraints.v1).run(driftedInput, Seq(0, 1))
    val stable = graft.drift.Drift.reportFromManifests(base, same)
    assert(stable.pass, s"same-distribution snapshots flagged: ${stable.scores.filterNot(_.pass)}")
    val moved = graft.drift.Drift.reportFromManifests(base, drifted)
    assert(!moved.pass, s"drifted snapshot not flagged: ${moved.scores}")
  }

  test("per-phase duration metrics are committed atomically with the manifest") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 4).run(inputFor, Seq(0, 1, 2, 3))
    for (phase <- Seq("inputs", "write_annotated", "write_violations", "write_rollups"))
      assert(m.metrics.getOrElse(s"wall_ms_$phase", -1L) >= 0L, s"missing wall_ms_$phase in ${m.metrics.keys}")
    assert(m.metrics.getOrElse("task_ms_inputs", -1L) >= 0L, s"missing task_ms_inputs in ${m.metrics.keys}")
    assert(m.metrics("wall_ms_write_annotated") > 0L)
    assert(m.metrics("wall_ms_write_violations") > 0L)
    // executor task time captured via SparkListener for at least the big phases
    assert(m.metrics.keys.exists(_.startsWith("task_ms_")), s"no task_ms_* in ${m.metrics.keys}")
    // a micro-batch arrives resolved: no inputs phase
    val mb = graft.streaming.StreamingValidation
      .processAndCommit(newLog(), new graft.engine.ValidationEngine(ImageConstraints.v1), inputFor(0), 0L).get
    assert(mb.metrics.contains("wall_ms_write_annotated"))
    assert(!mb.metrics.contains("wall_ms_inputs") && !mb.metrics.contains("task_ms_inputs"), mb.metrics.keys)
  }

  test("a run leaves the caller's job group and job tags in place") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's own group", interruptOnCancel = true)
    sc.addJobTag("caller-tag")
    try {
      new ValidationJob(spark, newLog(), ImageConstraints.v1, commitBatch = 2).run(inputFor, Seq(0, 1, 2))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
      assert(sc.getLocalProperty("spark.job.description") == "the caller's own group")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "true")
      assert(sc.getJobTags() == Set("caller-tag"))
    } finally {
      sc.clearJobGroup()
      sc.removeJobTag("caller-tag")
    }
  }

  test("manifest-level partition pruning: non-matching commits contribute no scan legs") {
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1).run(inputFor, Seq(0, 1, 2, 3))
    val pruned = log.readTableForPartitions(spark, m, "rollups", Set(2))
    assert(pruned.select("partition_id").distinct().collect().map(_.getInt(0)).toSeq == Seq(2))
    // explicit file-list pruning: of the 4 commits, only partition 2's
    // commit contributes a path — one scan leg in the plan, not four
    val scans = pruned.queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 1, s"expected 1 scan leg, got $scans")
    val full = log.readTableForPartitions(spark, m, "valid", Set(1, 3)).count()
    assert(full == log.readTable(spark, m, "valid")
      .filter(col("partition_id").isin(1, 3)).count())
  }

  test("checkpoint squashes the chain: O(1) metadata walk, identical views, resume intact") {
    val log = newLog()
    val job = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1)
    val m = job.run(inputFor, Seq(0, 1, 2))
    assert(log.chain(m).size == 3)
    val before = (
      log.committedPartitions(m),
      log.tablePaths(m, "valid"),
      log.readTable(spark, m, "valid").count(),
      m.metrics
    )
    val cp = log.checkpoint(m)
    assert(cp.checkpoint && log.chain(cp).size == 1)
    assert(log.committedPartitions(cp) == before._1)
    assert(log.tablePaths(cp, "valid") == before._2)
    assert(log.readTable(spark, cp, "valid").count() == before._3)
    assert(cp.metrics == before._4)
    assert(cp.parentId.contains(m.snapshotId)) // lineage preserved

    // resume on the checkpointed log: only the new partition runs
    val calls = scala.collection.mutable.ArrayBuffer.empty[Int]
    val m2 = new ValidationJob(spark, log, ImageConstraints.v1)
      .run(p => { calls.synchronized(calls += p); inputFor(p) }, Seq(0, 1, 2, 3))
    assert(calls.synchronized(calls.toVector.sorted) == Vector(3))
    assert(log.chain(m2).size == 2) // new delta + the checkpoint
    assert(log.committedPartitions(m2) == Set(0, 1, 2, 3))
  }

  test("all-valid batch (the 201 path): empty violations table, zero rejected") {
    import spark.implicits._
    val log = newLog()
    def goodInput(p: Int): DataFrame = {
      val pl = p // no suite capture
      spark.range(0, 50, 1, 2).map { i =>
        (f"$i%08d-0000-4000-8000-${pl}%012d", Array.empty[Byte], 16, 16, "png", s"caption $i", i)
      }.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    }
    val m = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 2).run(goodInput, Seq(0, 1))
    assert(m.metrics("n_success") == 100 && m.metrics("n_invalid") == 0 && m.metrics("n_error") == 0)
    assert(m.metrics("violations_rejected") == 0)
    assert(log.readTable(spark, m, "valid").count() == 100)
    val vio = log.readTable(spark, m, "violations")
    assert(vio.count() == 0 && vio.columns.contains("constraint_id")) // schema'd empty table
  }

  test("violation suppression drops rows like a null mapToErrorEvent") {
    val log = newLog()
    val job = new ValidationJob(
      spark,
      log,
      ImageConstraints.v1,
      suppressViolations = Some(col("constraint_id") =!= "whitelist(fmt)")
    )
    val m = job.run(inputFor, Seq(0, 1, 2, 3))
    val v = log.readTable(spark, m, "violations")
    assert(v.filter(col("constraint_id") === "whitelist(fmt)").count() == 0)
    assert(v.count() > 0)
  }

  test("violations re-ingest through the error-schema gate (eventgate.js:243-270)") {
    // default schema: well-formed violation rows all pass the gate
    val log = newLog()
    val m = new ValidationJob(spark, log, ImageConstraints.v1).run(inputFor, Seq(0, 1))
    assert(m.metrics("violations_rejected") == 0L)
    val vCount = log.readTable(spark, m, "violations").count()
    assert(vCount > 0)

    // a stricter gate rejects rows that don't conform to the error schema
    val strictGate = ConstraintSet(
      "strict-vio/1.0.0",
      Seq.empty,
      Seq(NonNull("constraint_id"), MaxLength("detail", 30)) // short details pass, long ones reject
    )
    val log2 = newLog()
    val m2 = new ValidationJob(spark, log2, ImageConstraints.v1, violationsSchema = Some(strictGate))
      .run(inputFor, Seq(0, 1))
    assert(m2.metrics("violations_rejected") > 0L, s"metrics=${m2.metrics}")
    val v2 = log2.readTable(spark, m2, "violations")
    assert(v2.count() + m2.metrics("violations_rejected") == vCount)
    assert(v2.filter(length(col("detail")) > 30).count() == 0)
  }

  test("long commit chains read as ONE scan: 50 commits, one FileScan node") {
    // Round-2 readTable unioned one scan leg per commit root (analyzer cost
    // + no scan sharing at thousands of commits). The recursive multi-path
    // read must collapse any chain into a single parquet scan.
    val log = newLog()
    val job = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1)
    val m = job.run(inputFor, 0 until 50)
    assert(m.sequence == 50)

    val df = log.readTable(spark, m, "valid")
    val plan = df.queryExecution.executedPlan.toString
    val scanNodes = plan.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scanNodes == 1, s"expected 1 scan node over 50 commits, got $scanNodes:\n${plan.take(2000)}")
    assert(!plan.contains("Union"), "single multi-path scan must not union per-commit legs")
    // and the data is complete: every input row lands in exactly one status
    val ann = log.readTable(spark, m, "annotated")
    assert(ann.count() == N)
    assert(df.count() == m.metrics("n_success"))
  }

  test("manifest schemas: additive evolution reads correctly, no footer inference needed") {
    import org.apache.spark.sql.functions._
    import graft.table.Manifest
    val log = newLog()
    // v1 commit: files WITHOUT the `extra` column
    val r1 = log.dataDir("00000001", "docs")
    val v1 = spark.range(100).select(col("id"), lit("a").as("tag"))
    v1.write.parquet(r1)
    val m1 = log.commit(Manifest("", 0L, None, "v1", "spec", Seq(0), complete = false,
      tables = Map("docs" -> Seq(r1)), metrics = Map.empty, sketches = Map.empty,
      createdAtMs = 1L, tableSchemas = Map("docs" -> v1.schema.json)))
    // v2 commit: schema adds `extra`
    val r2 = log.dataDir("00000002", "docs")
    val v2 = spark.range(100, 200).select(col("id"), lit("b").as("tag"), lit(7).as("extra"))
    v2.write.parquet(r2)
    log.commit(Manifest("", 0L, Some(m1.snapshotId), "v2", "spec", Seq(1), complete = true,
      tables = Map("docs" -> Seq(r2)), metrics = Map.empty, sketches = Map.empty,
      createdAtMs = 2L, tableSchemas = Map("docs" -> v2.schema.json)))

    val head = log.head.get
    // newest schema wins after a manifest round-trip through JSON
    assert(log.tableSchema(head, "docs").map(_.fieldNames.toSeq) == Some(Seq("id", "tag", "extra")))
    val df = log.readTable(spark, head, "docs")
    assert(df.columns.toSeq == Seq("id", "tag", "extra"))
    assert(df.count() == 200)
    assert(df.filter(col("extra").isNull).count() == 100, "pre-evolution rows read as null")
    // the old view still reads with the OLD schema (no `extra`)
    assert(log.readTableAsOf(spark, 1, "docs").columns.toSeq == Seq("id", "tag"))
    // compaction migrates old files onto the newest physical schema
    graft.table.Maintenance.compact(spark, log, "docs")
    val compacted = log.readTable(spark, log.head.get, "docs")
    assert(compacted.columns.toSeq == Seq("id", "tag", "extra") && compacted.count() == 200)
    assert(compacted.filter(col("extra").isNull).count() == 100)
    // checkpoint squashes the newest schema into the stop manifest
    log.checkpoint(log.head.get)
    assert(log.tableSchema(log.head.get, "docs").map(_.fieldNames.length) == Some(3))
  }

  test("non-additive schema evolution is rejected at commit; rollback remains the revert path") {
    import org.apache.spark.sql.functions._
    import graft.table.Manifest
    val log = newLog()
    val r1 = log.dataDir("evo1", "docs")
    val v1 = spark.range(10).select(col("id"), lit("a").as("tag"))
    v1.write.parquet(r1)
    val m1 = log.commit(Manifest("", 0L, None, "v1", "spec", Seq(0), complete = false,
      tables = Map("docs" -> Seq(r1)), metrics = Map.empty, sketches = Map.empty,
      createdAtMs = 1L, tableSchemas = Map("docs" -> v1.schema.json)))
    var n = 1
    def attempt(df: org.apache.spark.sql.DataFrame): Manifest = {
      n += 1
      val r = log.dataDir(s"evo$n", "docs")
      df.write.parquet(r)
      log.commit(Manifest("", 0L, Some(m1.snapshotId), "v2", "spec", Seq(n), complete = true,
        tables = Map("docs" -> Seq(r)), metrics = Map.empty, sketches = Map.empty,
        createdAtMs = 2L, tableSchemas = Map("docs" -> df.schema.json)))
    }
    // dropping an existing column: newest-schema-wins reads would silently
    // hide `tag` in every older file — reject
    val eDrop = intercept[IllegalArgumentException](attempt(spark.range(10, 20).select(col("id"))))
    assert(eDrop.getMessage.contains("drops column 'tag'"))
    // retyping: reject
    val eType = intercept[IllegalArgumentException](
      attempt(spark.range(10, 20).select(col("id").cast("string").as("id"), lit("b").as("tag"))))
    assert(eType.getMessage.contains("retypes column 'id'"))
    assert(log.head.get.sequence == m1.sequence, "rejected commits must leave no manifest")
    // additive evolution still lands
    attempt(spark.range(10, 20).select(col("id"), lit("b").as("tag"), lit(1).as("extra")))
    assert(log.tableSchema(log.head.get, "docs").get.fieldNames.toSeq == Seq("id", "tag", "extra"))
    // a genuine revert goes through rollbackTo: the checkpoint squash
    // carries the OLD schema without tripping the guard (checkpoints squash
    // resolved state, they don't evolve it)
    val rb = graft.table.Maintenance.rollbackTo(log, m1.sequence)
    assert(log.tableSchema(rb, "docs").get.fieldNames.toSeq == Seq("id", "tag"))
  }

  test("concurrent commits: both writers land, chain intact (bounded retry + re-parent)") {
    import graft.table.Manifest
    val log = newLog()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = (0 until 2).map { w =>
      pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
        def call(): Seq[Long] = (0 until 10).map { i =>
          // caller-side parent snapshot is possibly STALE under the race —
          // commit re-parents delta manifests to the true head
          val parent = log.head.map(_.snapshotId)
          log.commit(Manifest("", 0L, parent, "v1", "spec", Seq(w * 100 + i),
            complete = false, tables = Map.empty, metrics = Map.empty,
            sketches = Map.empty, createdAtMs = i.toLong)).sequence
        }
      })
    }
    val seqs = futures.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(seqs.toSet.size == 20, s"sequence collision: $seqs")
    val head = log.head.get
    assert(head.sequence == 20)
    val chainSeqs = log.chain(head).map(_.sequence).toSeq
    assert(chainSeqs == (20L to 1L by -1L), s"broken chain: $chainSeqs")
    assert(log.committedPartitions(head) ==
      (0 until 10).flatMap(i => Seq(i, 100 + i)).toSet, "a writer's commit went missing")
  }

  test("pre-schema chains compact under MERGED footers — evolved columns survive the rewrite") {
    import org.apache.spark.sql.functions._
    import graft.table.Manifest
    val log = newLog()
    // no tableSchemas recorded anywhere (a log written before schema-in-manifest)
    val r1 = log.dataDir("00000001", "docs")
    spark.range(100).select(col("id")).write.parquet(r1)
    val m1 = log.commit(Manifest("", 0L, None, "v1", "spec", Seq(0), complete = false,
      tables = Map("docs" -> Seq(r1)), metrics = Map.empty, sketches = Map.empty, createdAtMs = 1L))
    val r2 = log.dataDir("00000002", "docs")
    spark.range(100, 200).select(col("id"), lit(7).as("extra")).write.parquet(r2)
    log.commit(Manifest("", 0L, Some(m1.snapshotId), "v2", "spec", Seq(1), complete = true,
      tables = Map("docs" -> Seq(r2)), metrics = Map.empty, sketches = Map.empty, createdAtMs = 2L))

    graft.table.Maintenance.compact(spark, log, "docs")
    log.checkpoint(log.head.get)
    graft.table.Maintenance.expire(log) // the rewrite is now the only copy
    val df = log.readTable(spark, log.head.get, "docs")
    assert(df.columns.contains("extra"), "single-footer inference would have dropped the evolved column")
    assert(df.count() == 200 && df.filter(col("extra").isNotNull).count() == 100)
  }

  test("pre-schema SELECTIVE compact records the table-wide schema, not the rewritten subset's") {
    import org.apache.spark.sql.functions._
    import graft.table.Manifest
    val log = newLog()
    // kept (well-sized) root carries the evolved column; fragmented roots do not
    val rKept = log.dataDir("00000001", "docs")
    spark.range(60000).repartition(1)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("pad"), lit(9).as("extra"))
      .write.parquet(rKept)
    val m1 = log.commit(Manifest("", 0L, None, "v1", "spec", Seq(0), complete = false,
      tables = Map("docs" -> Seq(rKept)), metrics = Map.empty, sketches = Map.empty, createdAtMs = 1L))
    val rFrag = log.dataDir("00000002", "docs")
    spark.range(60000, 60100).repartition(8)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("pad"))
      .write.parquet(rFrag)
    log.commit(Manifest("", 0L, Some(m1.snapshotId), "v2", "spec", Seq(1), complete = true,
      tables = Map("docs" -> Seq(rFrag)), metrics = Map.empty, sketches = Map.empty, createdAtMs = 2L))

    graft.table.Maintenance.compact(spark, log, "docs", rewriteThresholdBytes = Some(64 * 1024))
    val head = log.head.get
    assert(log.tablePaths(head, "docs").contains(rKept), "well-sized root must survive")
    // the replacing manifest's recorded schema must cover the KEPT root's column
    assert(log.tableSchema(head, "docs").exists(_.fieldNames.contains("extra")))
    val df = log.readTable(spark, head, "docs")
    assert(df.filter(col("extra").isNotNull).count() == 60000)
  }

  test("empty partition batches commit (resume skips them) without poisoning reads") {
    // ADVICE r2: a partitionBy write of zero rows creates no files, so an
    // all-empty batch used to register unreadable annotated paths.
    val log = newLog()
    def sparseInput(p: Int): DataFrame =
      if (p >= 2) inputFor(p).limit(0) else inputFor(p) // partitions 2,3 empty
    val job = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1)
    val m = job.run(sparseInput, Seq(0, 1, 2, 3))
    assert(m.complete)
    assert(log.committedPartitions(m) == Set(0, 1, 2, 3))
    // reads across the chain (incl. the empty commits) stay healthy
    assert(log.readTable(spark, m, "valid").count() == m.metrics("n_success"))
    assert(log.readTable(spark, m, "annotated").count() > 0)
    // resume: nothing reprocesses, including the empty partitions
    var calls = Vector.empty[Int]
    val m2 = new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 1)
      .run(p => { calls :+= p; sparseInput(p) }, Seq(0, 1, 2, 3))
    assert(calls.isEmpty && m2.snapshotId == m.snapshotId)
  }

  test("task_ms_* in the manifest equal an independently drained listener's totals") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import graft.constraint.MinLength
    import graft.engine.{ConstraintRegistry, EngineOptions, ValidationEngine}
    import spark.implicits._
    // the same job over the single-stream route and over a two-stream registry
    val registry = ConstraintRegistry(
      Seq(ConstraintSet("doc/2.0.0", Seq.empty, Seq(NonNull("doc_id"), MinLength("text", 10))),
        ConstraintSet("doc/1.0.0", Seq.empty, Seq(NonNull("doc_id")))),
      routes = Map("strict" -> "doc/2.0.0", "lax" -> "doc/1.0.0"))
    def docs(p: Int): DataFrame =
      Seq((s"p${p}_a", "short", "strict"), (s"p${p}_b", "a perfectly long text", "strict"),
        (s"p${p}_c", "short", "lax"), (s"p${p}_d", "short", "nowhere")).toDF("doc_id", "text", "stream")
    val routedJob = (log: SnapshotLog) => new ValidationJob(spark, log,
      new ValidationEngine(registry, EngineOptions(idField = "doc_id"), Some("stream"), Nil), "explicit",
      suppressViolations = None, commitBatch = 2,
      violationsSchema = Some(ValidationJob.violationsSchemaV1)).run(docs, Seq(0, 1, 2, 3))
    val singleJob = (log: SnapshotLog) =>
      new ValidationJob(spark, log, ImageConstraints.v1, commitBatch = 2).run(inputFor, Seq(0, 1, 2, 3))
    for ((route, runJob) <- Seq("single-stream" -> singleJob, "two-stream" -> routedJob)) {
      val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val taskMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .foreach(g => js.stageIds.foreach(stageGroup.put(_, g)))
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          Option(stageGroup.get(te.stageId)).foreach { g =>
            val ms = Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L)
            taskMs.merge(g, java.lang.Long.valueOf(ms), (a, b) => java.lang.Long.valueOf(a + b))
          }
      }
      spark.sparkContext.addSparkListener(l)
      val m =
        try {
          val run = runJob(newLog())
          assert(org.apache.spark.sql.GraftFunctions.drainSharedListeners(spark.sparkContext))
          run
        } finally spark.sparkContext.removeSparkListener(l)
      assert(m.metrics("task_ms_write_annotated") > 0L, route)
      for (phase <- Seq("write_annotated", "write_violations", "write_rollups"))
        assert(m.metrics.get(s"task_ms_$phase") == Option(taskMs.get(phase)).map(_.longValue),
          s"$route $phase: manifest ${m.metrics.get(s"task_ms_$phase")} vs listener ${taskMs.get(phase)}")
    }
  }
}
