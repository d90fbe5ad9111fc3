package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.ops.Dedup
import graft.table.{LocalFs, Maintenance, Manifest, SnapshotLog}

/** The near-dup gates' signature store, and the one per-batch routine both
  * gates run over it: the pull-based [[IncrementalDedup]] (snapshot log to
  * snapshot log) and the foreachBatch [[StreamingDedup]] (Structured
  * Streaming) differ only in how a batch arrives and how its replay is
  * recognised; signing, probing and committing are [[probeAndCommit]].
  *
  * The store is a snapshot log of its own holding two tables, written in
  * the SAME commit: [[SigTable]] (id, sh, bands — [[Dedup.minhashSignatures]])
  * and its row-wise twin [[KeysTable]] (id, band_idx, band_key —
  * [[Dedup.explodedBandKeys]]). [[compact]], `Maintenance.rollbackTo` and
  * `SnapshotLog.checkpoint` keep the two together, so the keys table
  * always covers the whole store.
  *
  * Per-batch cost at 10^12 stored rows: sign the BATCH + one band-key join
  * against the store — the corpus is never re-shingled, and its scan is
  * pruned rather than paid in full. The batch's distinct band keys are
  * pushed as an `isin` filter on the stored keys scan (`PruneBandKeysLimit`,
  * which raises the session's `spark.sql.parquet.pushdown.inFilterThreshold`
  * to cover them — see [[Dedup.minhashPairsAgainstSignatures]]), and
  * [[compact]] range-clusters the keys table by band_key so parquet min/max
  * stats skip ≈ all but K-of-F files; without the pushed filter Spark's
  * runtime bloom-filter injection still prunes the scan (small build side,
  * large probe). BASELINE.md §3.2d/e measure the flat-at-10×/100×-corpus
  * shape; §3.5 measures the clustered-prune read reduction.
  */
object SignatureStore {

  val SigTable = "dedup_sigs"

  /** The (id, band_idx, band_key) row form of [[SigTable]]: band keys as
    * scan columns admit the pushed `isin` probe filter, which the packed
    * `bands` array cannot (no filter crosses the Generate). [[compact]]
    * range-clusters it band_key-PRIMARY so each file covers a narrow key
    * range (a band_idx-first sort defeats it — BASELINE.md §3.5).
    */
  val KeysTable = "dedup_keys"

  /** Cap on the batch's distinct band keys pushed onto the stored keys
    * scan; a batch with more keys probes the unpruned scan. */
  private val PruneBandKeysLimit = 16384

  /** One batch of documents through the store. Signs the batch once
    * (persisted for the call, unpersisted on the way out), pairs it against
    * the stored signatures, hands the verified cross-batch pairs
    * (corpus_id, incoming_id, jaccard) to `onPairs`, then appends the
    * signatures of ids the store does not hold yet under ONE commit.
    *
    * Replay: the batch's own ids are anti-joined out of the corpus side, so
    * a replayed batch whose signatures are already stored re-delivers
    * exactly its original pairs (same-batch relations stay the caller's
    * intra-batch step); only new ids are appended, so the store never holds
    * an id twice, whatever the replay shape; `tag` names the batch's data
    * dirs deterministically, so a rewrite overwrites itself. `onPairs` runs
    * BEFORE the commit: a crash inside it leaves nothing committed.
    *
    * @param streamBatches the micro-batch ledger entry committed with the
    *   batch. A ledgered batch commits even when every id is already stored
    *   (an empty tables delta), so its replay is recognised as a no-op.
    * @return the committed manifest; None for an empty batch (`onPairs`
    *   gets an empty pair frame) or an unledgered batch with nothing new.
    */
  private[streaming] def probeAndCommit(
      sigLog: SnapshotLog,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int,
      numBands: Int,
      threshold: Double,
      maxBucket: Int,
      tag: String,
      streamBatches: Map[String, Seq[Long]] = Map.empty
  )(onPairs: DataFrame => Unit): Option[Manifest] = {
    val spark = docs.sparkSession
    val sigs = Dedup.minhashSignatures(docs, idCol, textCol, shingleK, numHashes, numBands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (sigs.isEmpty) {
        // empty pair frame, real schema — the callback contract holds
        onPairs(Dedup.minhashPairsAgainstSignatures(sigs, sigs, threshold, maxBucket).limit(0))
        return None
      }
      val head = sigLog.head
      def stored(table: String) = head.filter(m => sigLog.tablePaths(m, table).nonEmpty)
        .map(m => sigLog.readTable(spark, m, table))
      def notIn(df: DataFrame, ids: DataFrame) = df.join(ids.select("id"), Seq("id"), "left_anti")
      val storeSigs = stored(SigTable)
      val corpusSigs = storeSigs.map(notIn(_, sigs)).getOrElse(sigs.limit(0)) // first batch: no corpus
      val corpusKeys = stored(KeysTable).map(notIn(_, sigs))
      onPairs(Dedup.minhashPairsAgainstSignatures(
        corpusSigs, sigs, threshold, maxBucket, corpusKeys, PruneBandKeysLimit))

      val newSigs = storeSigs.map(notIn(sigs, _)).getOrElse(sigs)
      val delta =
        if (newSigs.isEmpty) Map.empty[String, DataFrame]
        else Map(SigTable -> newSigs, KeysTable -> Dedup.explodedBandKeys(newSigs))
      if (delta.isEmpty && streamBatches.isEmpty) return None
      val dirs = delta.map { case (table, df) =>
        val dir = sigLog.dataDir(tag, table)
        df.write.options(LocalFs.options(spark)).mode("overwrite").parquet(dir)
        table -> Seq(dir)
      }
      Some(sigLog.commit(Manifest(
        snapshotId = "", sequence = 0L, // assigned by commit
        parentId = head.map(_.snapshotId),
        constraintVersion = head.map(_.constraintVersion).getOrElse("dedup-sigs/1"),
        partitionSpec = head.map(_.partitionSpec).getOrElse(if (streamBatches.isEmpty) "incremental" else "stream"),
        partitionsDelta = Seq.empty,
        complete = false,
        tables = dirs,
        metrics = head.map(_.metrics).getOrElse(Map.empty[String, Long]),
        sketches = head.map(_.sketches).getOrElse(Map.empty),
        createdAtMs = System.currentTimeMillis(),
        streamBatches = streamBatches,
        tableSchemas = delta.map { case (table, df) => table -> df.schema.json })))
    } finally sigs.unpersist()
  }

  /** Maintenance for the store: compact the keys table RANGE-CLUSTERED by
    * band_key — the probe's pushed filter is on band_key ALONE, so band_key
    * must be the PRIMARY sort: a band_idx-first sort gives every file a
    * full-range band_key span and min/max stats skip nothing (measured:
    * 63/64 files overlapped; band_key-primary = 0 overlaps, 3.4× probe
    * speedup page-cached at 50M rows, more cold). Uniform hash keys:
    * P(file hit) ≈ keys/#files. The signature table compacts by id (the
    * verify-join key). Call on the usual maintenance cadence.
    */
  def compact(
      spark: SparkSession,
      sigLog: SnapshotLog,
      targetFileBytes: Long = 128L * 1024 * 1024
  ): Seq[Maintenance.CompactionStats] = {
    val head = sigLog.head.getOrElse(
      throw new IllegalStateException("SignatureStore.compact: empty signature log"))
    val stats = Seq.newBuilder[Maintenance.CompactionStats]
    if (sigLog.tablePaths(head, KeysTable).nonEmpty)
      stats += Maintenance.compact(spark, sigLog, KeysTable, targetFileBytes, clusterBy = Seq("band_key"))
    if (sigLog.tablePaths(sigLog.head.get, SigTable).nonEmpty)
      stats += Maintenance.compact(spark, sigLog, SigTable, targetFileBytes, clusterBy = Seq("id"))
    stats.result()
  }
}
