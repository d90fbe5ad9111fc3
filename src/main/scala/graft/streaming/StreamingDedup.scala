package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.Dedup
import graft.table.{Manifest, SnapshotLog}

/** foreachBatch near-dup GATE — [[StreamingValidation.processAndCommit]]'s
  * dedup sibling and the Structured Streaming face of the
  * [[SignatureStore]]: each micro-batch of documents goes through the
  * store's per-batch routine (pairs against the stored corpus signatures
  * handed to the caller, the batch's new signatures and band keys appended
  * under ONE snapshot commit), and that commit's `streamBatches` ledger
  * entry makes replay idempotent — a restarted stream re-delivering a
  * committed micro-batch skips it entirely, keyed on (durable checkpoint
  * identity, Long batch id) exactly like the validation gate. A doc
  * re-sent under a NEW batch id is paired as usual but stored once.
  *
  * The probe pushes the batch's band keys onto the stored keys scan, which
  * raises `spark.sql.parquet.pushdown.inFilterThreshold` on the batch's
  * session when the key set is wider (see
  * [[Dedup.minhashPairsAgainstSignatures]]). Inside `foreachBatch` that is
  * the stream's own session, not the one that started the query.
  */
object StreamingDedup {

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
    if (sigLog.head.exists(m => sigLog.committedStreamBatches(m, checkpointId).contains(batchId))) return None
    if (batch.isEmpty) return None
    SignatureStore.probeAndCommit(sigLog, batch, idCol, textCol, shingleK, numHashes, numBands,
      threshold, maxBucket, s"stream-dedup-$checkpointId-$batchId", Map(checkpointId -> Seq(batchId)))(onPairs)
  }
}
