package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.Dedup
import graft.table.{LocalFs, Manifest, SnapshotLog}

/** foreachBatch near-dup GATE — [[StreamingValidation.processAndCommit]]'s
  * dedup sibling: each micro-batch of documents is paired against the
  * stored corpus signature table, the verified cross-batch pairs are
  * handed to the caller, and the batch's signatures are appended under ONE
  * snapshot commit whose `streamBatches` ledger entry makes replay
  * idempotent — a restarted stream re-delivering a committed micro-batch
  * skips it entirely (exactly-once signature storage), keyed on (durable
  * checkpoint identity, Long batch id) exactly like the validation gate.
  *
  * The pull-based [[IncrementalDedup]] covers the snapshot-log-to-
  * snapshot-log topology; this gate covers the Structured Streaming
  * topology (`writeStream.foreachBatch`), sharing the same per-batch cost
  * shape: shingle the BATCH + one join against stored signatures, with
  * the signature-table scan bloom-pruned by the small batch side (see
  * [[IncrementalDedup]]'s scaladoc for the 10^12-row store argument).
  */
object StreamingDedup {

  val SigTable = "dedup_sigs"

  /** Returns the committed manifest, or None when the batch was empty or
    * already committed (replay). `onPairs` runs BEFORE the commit, so a
    * crash inside it replays the batch cleanly (pair delivery is
    * at-least-once; storage is exactly-once-visible). A caller that needs
    * the pairs DURABLY must persist them inside `onPairs` — once the
    * commit lands, a replayed batch is skipped and its pairs are not
    * re-derived (the standard foreachBatch discipline).
    */
  def processAndCommit(
      sigLog: SnapshotLog,
      batch: DataFrame,
      batchId: Long,
      checkpointId: String = "default",
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 5,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = Dedup.DefaultMaxBucket
  )(onPairs: DataFrame => Unit): Option[Manifest] = {
    val head = sigLog.head
    if (head.exists(m => sigLog.committedStreamBatches(m, checkpointId).contains(batchId))) return None
    if (batch.isEmpty) return None

    val spark = batch.sparkSession
    val dir = sigLog.dataDir(s"stream-dedup-$checkpointId-$batchId", SigTable)
    Dedup.minhashSignatures(batch, idCol, textCol, shingleK, numHashes, numBands)
      .write.options(LocalFs.options(spark)).mode("overwrite").parquet(dir) // deterministic tag: replay overwrites itself
    val batchSigs = spark.read.parquet(dir)
    val corpusSigs = head
      .filter(m => sigLog.tablePaths(m, SigTable).nonEmpty)
      .map(m => sigLog.readTable(spark, m, SigTable)
        // exclude the batch's own ids: a crash-replayed batch whose commit
        // raced ahead of the checkpoint re-delivers exactly its original
        // pairs instead of leaking intra-batch relations
        .join(batchSigs.select("id"), Seq("id"), "left_anti"))
      .getOrElse(batchSigs.limit(0))
    onPairs(Dedup.minhashPairsAgainstSignatures(corpusSigs, batchSigs, threshold, maxBucket))
    Some(sigLog.commit(Manifest(
      snapshotId = "", sequence = 0L, // assigned by commit
      parentId = head.map(_.snapshotId),
      constraintVersion = head.map(_.constraintVersion).getOrElse("dedup-sigs/1"),
      partitionSpec = head.map(_.partitionSpec).getOrElse("stream"),
      partitionsDelta = Seq.empty,
      complete = false,
      tables = Map(SigTable -> Seq(dir)),
      metrics = head.map(_.metrics).getOrElse(Map.empty),
      sketches = head.map(_.sketches).getOrElse(Map.empty),
      createdAtMs = System.currentTimeMillis(),
      streamBatches = Map(checkpointId -> Seq(batchId)),
      tableSchemas = Map(SigTable -> batchSigs.schema.json)
    )))
  }
}
