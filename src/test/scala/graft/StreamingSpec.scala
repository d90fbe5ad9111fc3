package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.{EngineOptions, ImageConstraints, ValidationEngine}
import graft.gen.SyntheticImages
import graft.sketch.{ColumnProfiler, Sketches}
import graft.streaming.StreamingValidation

class StreamingSpec extends SparkSpec {

  private val v1Gate = new ValidationEngine(ImageConstraints.v1)

  test("foreachBatch gate: streaming output == batch engine output") {
    val src = Files.createTempDirectory("graft_stream_src").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val log = new graft.table.SnapshotLog(
      Files.createTempDirectory("graft_stream_log").toString, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 1500, 3).toDF()
    imgs.write.mode("overwrite").parquet(src)

    val q = StreamingValidation.startSnapshotted(spark, src, imgs.schema, v1Gate, log, ckpt)
    q.awaitTermination()

    val head = log.head.get
    val streamValid = log.readTable(spark, head, "valid")
    val batchValid = new ValidationEngine(ImageConstraints.v1, EngineOptions()).process(spark.read.parquet(src)).valid
    assert(streamValid.count() == batchValid.count())
    val a = streamValid.select("image_id").collect().map(_.toString).sorted
    val b = batchValid.select("image_id").collect().map(_.toString).sorted
    assert(a.sameElements(b))
    assert(log.readTable(spark, head, "rollups").agg(sum("n_invalid")).collect()(0).getLong(0) > 0)
  }

  test("restart with same checkpoint does not duplicate output") {
    val src = Files.createTempDirectory("graft_stream_src2").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt2").toString
    val log = new graft.table.SnapshotLog(
      Files.createTempDirectory("graft_stream_log2").toString, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 500, 2).toDF()
    imgs.write.mode("overwrite").parquet(src)
    val q1 = StreamingValidation.startSnapshotted(spark, src, imgs.schema, v1Gate, log, ckpt)
    q1.awaitTermination()
    val n1 = log.readTable(spark, log.head.get, "valid").count()
    // restart: no new files → no new micro-batch → no duplicates
    val q2 = StreamingValidation.startSnapshotted(spark, src, imgs.schema, v1Gate, log, ckpt)
    q2.awaitTermination()
    assert(log.readTable(spark, log.head.get, "valid").count() == n1)
  }

  test("snapshot-committed stream: batch outputs visible only through one atomic manifest") {
    val src = Files.createTempDirectory("graft_stream_src3").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt3").toString
    val logDir = Files.createTempDirectory("graft_stream_log3").toString
    val log = new graft.table.SnapshotLog(logDir, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 800, 2).toDF()
    imgs.write.mode("overwrite").parquet(src)

    val q = StreamingValidation.startSnapshotted(spark, src, imgs.schema, v1Gate, log, ckpt)
    q.awaitTermination()

    val head = log.head.get
    val streamValid = log.readTable(spark, head, "valid")
    val batchValid = new ValidationEngine(ImageConstraints.v1, EngineOptions()).process(spark.read.parquet(src)).valid
    assert(streamValid.count() == batchValid.count())
    assert(head.metrics("n_success") == batchValid.count())
    assert(log.readTable(spark, head, "violations").count() > 0)

    // restart on the same checkpoint: no new micro-batch, no new commits
    val seqBefore = head.sequence
    val q2 = StreamingValidation.startSnapshotted(spark, src, imgs.schema, v1Gate, log, ckpt)
    q2.awaitTermination()
    assert(log.head.get.sequence == seqBefore)
  }

  test("mid-batch failure leaves NO partially visible output; replay is exactly-once-visible") {
    val logDir = Files.createTempDirectory("graft_stream_log4").toString
    val log = new graft.table.SnapshotLog(logDir, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 400, 2).toDF()

    // batch 0 commits cleanly
    assert(StreamingValidation.processAndCommit(log, v1Gate, imgs, 0L).isDefined)
    val head0 = log.head.get
    val validBefore = log.readTable(spark, head0, "valid").count()

    // batch 1 dies mid-job (a poisoned row throws during evaluation):
    // some files may have landed on disk, but no manifest was committed —
    // readers see EXACTLY the pre-crash state.
    val poisoned = imgs.withColumn(
      "caption",
      when(col("w") % 97 === 0, raise_error(lit("simulated mid-batch crash"))).otherwise(col("caption"))
    )
    intercept[Exception](StreamingValidation.processAndCommit(log, v1Gate, poisoned, 1L))
    assert(log.head.get.snapshotId == head0.snapshotId, "crash must not advance HEAD")
    assert(log.readTable(spark, log.head.get, "valid").count() == validBefore)

    // retry of batch 1 (foreachBatch re-delivery) succeeds and commits once
    assert(StreamingValidation.processAndCommit(log, v1Gate, imgs, 1L).isDefined)
    val afterRetry = log.head.get
    // a SECOND replay of batch 1 is a no-op: exactly-once visibility
    assert(StreamingValidation.processAndCommit(log, v1Gate, imgs, 1L).isEmpty)
    assert(log.head.get.snapshotId == afterRetry.snapshotId)
    assert(log.readTable(spark, log.head.get, "valid").count() == 2 * validBefore)
  }

  test("micro-batch commits record the profile's sketches and merge them into the chain's") {
    val log = new graft.table.SnapshotLog(
      Files.createTempDirectory("graft_stream_sketch").toString, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 1200, 2).toDF()
    val half = pmod(xxhash64(col("image_id")), lit(2L))
    val Seq(a, b) = Seq(0L, 1L).map(k => imgs.filter(half === k))
    val m1 = StreamingValidation.processAndCommit(log, v1Gate, a, 0L).get
    assert(m1.sketches.keySet == ColumnProfiler.Profiled.map(_.name).toSet)
    val m2 = StreamingValidation.processAndCommit(log, v1Gate, b, 1L).get
    assert(m2.sketches.keySet == m1.sketches.keySet)
    val est = Sketches.hllEstimate(java.util.Base64.getDecoder.decode(m2.sketches("hll_image_id")))
    val exact = log.readTable(spark, m2, "valid").select("image_id").distinct().count()
    assert(math.abs(est - exact) / exact < 0.05, s"est=$est exact=$exact")
  }

  test("recreated checkpoint gets a fresh identity: restarted batch ids do not alias old ones") {
    // ADVICE r2: batch ids restart at 0 when a checkpoint dir is recreated
    // while the snapshot log is kept — keyed on the OLD identity they would
    // be silently skipped as already-committed.
    val logDir = Files.createTempDirectory("graft_stream_log5").toString
    val log = new graft.table.SnapshotLog(logDir, spark.sparkContext.hadoopConfiguration)
    val imgs = SyntheticImages.images(spark, 200, 1).toDF()

    val ckptDir = Files.createTempDirectory("graft_stream_ckpt5").toString
    val id1 = StreamingValidation.checkpointIdentity(spark, ckptDir)
    assert(StreamingValidation.checkpointIdentity(spark, ckptDir) == id1) // stable

    assert(StreamingValidation.processAndCommit(log, v1Gate, imgs, 0L, id1).isDefined)
    assert(StreamingValidation.processAndCommit(log, v1Gate, imgs, 0L, id1).isEmpty) // replay skipped

    // recreate the checkpoint dir: new identity, so batch 0 commits again
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckptDir))
    val id2 = StreamingValidation.checkpointIdentity(spark, ckptDir)
    assert(id2 != id1)
    assert(StreamingValidation.processAndCommit(log, v1Gate, imgs, 0L, id2).isDefined)

    // batch ids are compared as Long — no 2^31 truncation aliasing
    val bigId = (1L << 33) + 5L
    assert(StreamingValidation.processAndCommit(log, v1Gate, imgs, bigId, id2).isDefined)
    assert(StreamingValidation.processAndCommit(log, v1Gate, imgs, bigId, id2).isEmpty)
    assert(log.committedStreamBatches(log.head.get, id2) == Set(0L, bigId))
  }

  test("multi-stream streaming gate: heterogeneous micro-batches, per-stream atomic fan-out") {
    import spark.implicits._
    import graft.constraint._
    import graft.engine.{ConstraintRegistry, EngineOptions}
    val src = Files.createTempDirectory("graft_ms_src").toString
    val ckpt = Files.createTempDirectory("graft_ms_ckpt").toString
    val log = new graft.table.SnapshotLog(
      Files.createTempDirectory("graft_ms_log").toString, spark.sparkContext.hadoopConfiguration)
    val reg = ConstraintRegistry(
      Seq(ConstraintSet("a/1", Seq.empty, Seq(NonNull("id"), MinLength("text", 5))),
        ConstraintSet("b/1", Seq.empty, Seq(NonNull("id")))),
      Map("alpha" -> "a/1", "beta" -> "b/1")
    )
    val rows = (0 until 300).map(i =>
      (s"id$i", if (i % 10 == 0) "ab" else "long enough", if (i % 3 == 0) "alpha" else if (i % 3 == 1) "beta" else "gamma"))
      .toDF("id", "text", "stream")
    rows.write.mode("overwrite").parquet(src)

    val gate = new ValidationEngine(reg, EngineOptions(idField = "id"), Some("stream"), Nil)
    val q = StreamingValidation.startSnapshotted(spark, src, rows.schema, gate, log, ckpt)
    q.awaitTermination()

    val head = log.head.get
    // gamma is unrouted → schema-load errors; alpha short texts → invalid
    assert(head.metrics("n_error") == 100) // i%3==2 count
    assert(head.metrics("n_invalid") == 10) // i%10==0 && i%3==0
    assert(head.metrics("n_success") == 190)
    val ann = log.readTable(spark, head, "annotated")
    val validStreams = ann.filter(col("status") === "success")
      .select("stream").distinct().collect().map(_.getString(0)).toSet
    assert(validStreams == Set("alpha", "beta"))
    val vio = log.readTable(spark, head, "violations")
    assert(vio.filter(col("stream") === "gamma").count() == 100)

    // restart on same checkpoint: no duplicate commits
    val seqBefore = head.sequence
    val q2 = StreamingValidation.startSnapshotted(spark, src, rows.schema, gate, log, ckpt)
    q2.awaitTermination()
    assert(log.head.get.sequence == seqBefore)
  }

  test("streaming dedup gate: cross-batch pairs, exactly-once signatures on replay, ledger survives checkpoint") {
    import spark.implicits._
    import graft.streaming.{SignatureStore, StreamingDedup}
    import graft.table.SnapshotLog
    val sigLog = new SnapshotLog(
      Files.createTempDirectory("graft_sdedup").toString, spark.sparkContext.hadoopConfiguration)
    def doc(i: Long) = {
      val rnd = new scala.util.Random(i * 2654435761L)
      (i, (0 until 40).map(_ => f"w${rnd.nextInt(5000)}%04d").mkString(" "))
    }
    val b1 = (0L until 8L).map(doc).toDF("doc_id", "text")
    val b2 = Seq((100L, doc(2L)._2 + " xx"), doc(200L)).toDF("doc_id", "text")

    var pairs = Vector.empty[Set[(Long, Long)]]
    def run(df: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingDedup.processAndCommit(sigLog, df, id)(p =>
        pairs :+= p.select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet)

    assert(run(b1, 0L).isDefined)
    assert(run(b2, 1L).isDefined)
    assert(pairs == Vector(Set.empty, Set((2L, 100L))), pairs.toString)
    // replay of a committed micro-batch: no pairs re-delivered, no commit
    assert(run(b2, 1L).isEmpty && pairs.length == 2)
    assert(sigLog.readTable(spark, sigLog.head.get, SignatureStore.SigTable).count() == 10)
    // the ledger rides a checkpoint squash, same as the validation gate
    sigLog.checkpoint(sigLog.head.get)
    assert(run(b1, 0L).isEmpty)
    assert(run(b2.filter(col("doc_id") === 200L), 2L).isDefined) // fresh batch still commits
    assert(sigLog.readTable(spark, sigLog.head.get, SignatureStore.SigTable).count() == 10) // doc 200 stored once
  }

  test("streaming dedup gate: a doc re-sent under a new batch id is stored once; each commit carries its keys twin") {
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import graft.table.SnapshotLog
    val sigLog = new SnapshotLog(
      Files.createTempDirectory("graft_sdedup_resend").toString, spark.sparkContext.hadoopConfiguration)
    def doc(i: Long) = {
      val rnd = new scala.util.Random(i * 2654435761L)
      (i, (0 until 40).map(_ => f"w${rnd.nextInt(5000)}%04d").mkString(" "))
    }
    var pairs = Vector.empty[Set[(Long, Long)]]
    def run(df: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingDedup.processAndCommit(sigLog, df, id)(p =>
        pairs :+= p.select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet)
    // the store's on-disk format: dedup_sigs plus its dedup_keys twin, numBands (16) rows per doc
    def delta(m: graft.table.Manifest, table: String) =
      spark.read.parquet(m.tables.getOrElse(table, Nil): _*)

    val h0 = run((0L until 8L).map(doc).toDF("doc_id", "text"), 0L).get
    assert(h0.tables.keySet == Set("dedup_sigs", "dedup_keys"), h0.tables.keySet.toString)
    assert(delta(h0, "dedup_keys").count() == 8 * 16)
    // doc 3 again (a re-send under a new batch id) plus one new doc
    val h1 = run(Seq(doc(3L), doc(100L)).toDF("doc_id", "text"), 1L).get
    assert(delta(h1, "dedup_sigs").select("id").as[Long].collect().toSeq == Seq(100L))
    assert(delta(h1, "dedup_keys").count() == 16)
    val stored = sigLog.readTable(spark, h1, "dedup_sigs")
    assert(stored.count() == 9 && stored.select("id").distinct().count() == 9)
    assert(sigLog.readTable(spark, h1, "dedup_keys").count() == 9 * 16)
    // the batch's own ids are out of the corpus side: the re-sent doc does not pair with itself
    assert(pairs == Vector(Set.empty, Set.empty), pairs.toString)
  }

  test("watermarked windowed counts over an event stream") {
    val src = Files.createTempDirectory("graft_stream_ev").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema).parquet(src)
    val agg = StreamingValidation.windowedCounts(stream, "ts", "event_type", "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Complete()).format("memory").queryName("win_counts").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT * FROM win_counts")
    assert(rows.count() > 0)
    val total = rows.agg(sum("n")).collect()(0).getLong(0)
    assert(total == spark.read.parquet(src).count())
  }

  test("mapGroupsWithState accumulates per-key totals across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = StreamingValidation
      .runningTotals(mem.toDS())
      .writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName("totals")
      .start()
    mem.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
    mem.addData(("a", 10L)); q.processAllAvailable()
    q.stop()
    val last = spark.sql("SELECT * FROM totals").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(last.contains(("a", 11L)), s"state not accumulated: ${last.mkString(",")}")
    assert(last.contains(("b", 2L)))
  }
}
