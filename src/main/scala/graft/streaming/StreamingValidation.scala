package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.engine.ValidationEngine
import graft.table.{LocalFs, Manifest, SnapshotLog, ValidationJob}

/** Streaming face of the validation gate. The reference is an unbounded
  * intake loop in which each HTTP batch is processed independently
  * (eventgate's `routes/events.js`, no cross-batch state) — the exact shape
  * of Structured Streaming `foreachBatch`. Every micro-batch goes through
  * the batch job's own per-batch routine ([[ValidationJob]]`.commit`) and
  * lands under ONE snapshot commit whose `streamBatches` ledger entry makes
  * replay idempotent: [[startSnapshotted]] runs a file stream through
  * [[processAndCommit]], which a caller's own `foreachBatch` may call
  * directly. Checkpointing gives the restart semantics the reference gets
  * from Kafka delivery confirmation.
  */
object StreamingValidation {

  /** Snapshot-committed micro-batch gate: all outputs of a batch become
    * visible atomically through ONE SnapshotLog manifest — a crash
    * mid-batch leaves no partially visible output, the same all-or-nothing
    * the batch path provides (round-1 advisory: three independent appends
    * could surface a half-written batch). The batch goes through the batch
    * job's own per-batch routine ([[ValidationJob]]`.commit`): the
    * annotated write routed by status (and stream, for a routed engine),
    * violations from the written failing slice through the error-schema
    * gate, rollups aggregated over the written table, column-stat sketches
    * of the batch's valid rows merged into the chain's, and per-phase wall
    * and task time. A routed engine makes this the closest analog of the
    * reference service itself: an unbounded intake of heterogeneous
    * events, each validated against its own declared constraint set and
    * produced to its stream's destination
    * (eventgate/lib/factories/default-eventgate.js: 132-152 routing +
    * :242-278 per-topic produce).
    *
    * Idempotent on micro-batch replay: a batch id already in the chain is
    * skipped, so foreachBatch's at-least-once re-delivery after restart
    * stays exactly-once-visible.
    */
  def processAndCommit(
      log: SnapshotLog,
      engine: ValidationEngine,
      batch: DataFrame,
      batchId: Long,
      checkpointId: String = "default"
  ): Option[Manifest] = {
    val head = log.head
    // Replay idempotency keys on (checkpoint identity, Long batch id): a
    // recreated checkpoint dir restarts batch ids at 0 — give it a new
    // checkpointId and its batches commit instead of aliasing old ones.
    if (head.exists(m => log.committedStreamBatches(m, checkpointId).contains(batchId))) return None
    if (batch.isEmpty) return None // empty body -> 400 analog: nothing to produce

    val job = new ValidationJob(batch.sparkSession, log, engine, partitionSpec = "stream-batch",
      suppressViolations = None, commitBatch = 1,
      violationsSchema = Some(ValidationJob.violationsSchemaV1))
    Some(ValidationJob.Phases.around(batch.sparkSession) { phases =>
      job.commit(head, batch, s"stream-$checkpointId-$batchId", s"batch-$batchId",
        partitions = None, complete = false, // a stream is never complete
        streamBatches = Map(checkpointId -> Seq(batchId)), phases = phases)
    })
  }

  /** Durable identity of a streaming checkpoint INSTANCE: a UUID minted on
    * first use and stored inside the checkpoint dir. Deleting and
    * recreating the dir (which restarts batch ids at 0) mints a new
    * identity, so replay-idempotency never aliases the old id space.
    */
  def checkpointIdentity(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "graft-identity")
    val fs = p.getFileSystem(LocalFs.conf(spark.sparkContext.hadoopConfiguration))
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
    } else {
      val id = java.util.UUID.randomUUID().toString
      val out = fs.create(p, false)
      try out.write(id.getBytes("UTF-8"))
      finally out.close()
      id
    }
  }

  /** File stream → snapshot-committed gate (the durable streaming face). */
  def startSnapshotted(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      engine: ValidationEngine,
      log: SnapshotLog,
      checkpointDir: String
  ): StreamingQuery = {
    val ckId = checkpointIdentity(spark, checkpointDir)
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processAndCommit(log, engine, batch, batchId, ckId)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked windowed metrics over an event stream (the streaming
    * rollup analog: counts per window per key, late data bounded by the
    * watermark).
    */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String, window_ : String, watermark: String): DataFrame =
    stream
      .withColumn("_ts", col(tsCol).cast("timestamp"))
      .withWatermark("_ts", watermark)
      .groupBy(window(col("_ts"), window_), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col(keyCol), col("n"))

  /** Custom-state example: running per-key totals across micro-batches via
    * mapGroupsWithState (KeyValueGroupedDataset), the engine's stateful
    * extension point.
    */
  def runningTotals(ds: Dataset[(String, Long)]): Dataset[(String, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) { (key: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
        val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
        state.update(total)
        (key, total)
      }
  }
}
