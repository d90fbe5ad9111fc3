package graft.streaming

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Dedup
import graft.table.{LocalFs, Manifest, SnapshotLog}

/** Incremental corpus dedup riding the snapshot log — the composed
  * production loop: documents arrive as commits to a [[SnapshotLog]]
  * table; each `step` consumes the newly committed slice through a
  * durable [[SnapshotFollower]] cursor, pairs it against the STORED
  * corpus signature table ([[Dedup.minhashPairsAgainstSignatures]] —
  * cross-side band join, the corpus is never re-shingled), hands the
  * verified near-dup pairs to the caller, and atomically appends the
  * slice's signatures so every future batch dedups against them.
  *
  * The signature store is its OWN snapshot log (`sigLog`), not the
  * producer's: a consumer that committed into the log it follows would
  * re-consume its own commits as fresh backlog forever (each sig commit
  * spawning the next empty slice). Separate logs keep the producer's
  * lineage pure document history and let many consumers own independent
  * derived stores — the same reason [[SnapshotFollower]] keeps its cursor
  * outside the producer's directory.
  *
  * Per-step cost at 10^12 ingested rows: shingle the SLICE + one join
  * against the signature table — the corpus is never re-shingled and its
  * SCAN is pruned, not paid in full: the band-key join's build side (the
  * slice) is small, so Spark's runtime bloom-filter injection
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, default ON, build
  * side ≤ 10 MB / probe scan ≥ 10 GB — precisely this shape) pushes a
  * might_contain(band_key) filter into the signature-table scan, skipping
  * row groups wholesale. The extreme-scale refinement is implemented
  * (round 5): band keys are ALSO stored row-wise ([[KeysTable]], same
  * commit), the probe pushes the batch's distinct keys as a scan filter
  * (`pruneBandKeysLimit`), and [[compactSignatures]] range-clusters the
  * keys table by band_key so the pushed filter prunes via parquet
  * min/max stats — uniform hash keys hit ≈ K-of-F files instead of all
  * of them. BASELINE.md §3.2d/e measure the flat-at-10×/100×-corpus
  * shape; §3.5 measures the clustered-prune read reduction.
  *
  * Restart semantics (at-least-once pair delivery, exactly-once
  * signature storage): the cursor advances only after a fully successful
  * step. A crash inside the callback leaves no signature commit and no
  * cursor — clean replay. A crash between the signature commit and the
  * cursor write replays the slice: the slice's DETERMINISTIC dir tag
  * makes the rewrite overwrite itself, a path already present in the
  * chain is not committed twice, and the slice's own already-stored
  * signatures are anti-joined out of the corpus side — the replay
  * re-delivers exactly the original pairs.
  *
  * Intra-slice duplicates are the caller's compose-step
  * ([[Dedup.minhashPairs]] on the slice) — this loop owns the
  * cross-batch relation only.
  */
final class IncrementalDedup(
    docLog: SnapshotLog,
    sigLog: SnapshotLog,
    docTable: String,
    idCol: String,
    textCol: String,
    cursorDir: String,
    conf: Configuration,
    shingleK: Int = 5,
    numHashes: Int = 64,
    numBands: Int = 16,
    threshold: Double = 0.7,
    maxBucket: Int = Dedup.DefaultMaxBucket,
    /** scan-prune cap: collect ≤ this many distinct incoming band keys and
      * push them as a filter on the stored corpus keys scan (0 disables).
      * Raise spark.sql.parquet.pushdown.inFilterThreshold above it. */
    pruneBandKeysLimit: Int = 16384
) {
  require(docLog.root != sigLog.root,
    "sigLog must be a separate snapshot log: committing into the followed log would re-consume own commits forever")

  val SigTable = "dedup_sigs"

  /** The (id, band_idx, band_key) row form of the signature store, written
    * in the SAME commit as [[SigTable]]: band keys as scan columns admit
    * the pushed `isin` probe filter ([[Dedup.minhashPairsAgainstSignatures]]'
    * pruneBandKeysLimit), which the packed `bands` array cannot (no filter
    * crosses the Generate). [[compactSignatures]] range-clusters it
    * band_key-PRIMARY so each file covers a narrow key range and the
    * probe's min/max row-group skipping goes from rows to files (a
    * band_idx-first sort defeats it — BASELINE.md §3.5).
    */
  val KeysTable = "dedup_keys"
  private val follower = new SnapshotFollower(docLog, docTable, cursorDir, conf)

  /** Stored corpus keys are usable only when they cover the WHOLE corpus:
    * a legacy chain upgraded mid-stream has sig commits without key
    * entries — probing an incomplete keys table would silently lose
    * candidate pairs. Coverage is tracked as a CARRIED metric rather than
    * a chain walk (checkpoints squash the per-commit evidence): the first
    * keyed commit landing on a chain that already holds un-keyed sig data
    * stamps `dedup_keys_incomplete=1`, every later commit/compact/
    * checkpoint carries it, and [[rebuildKeys]] clears it by regenerating
    * full coverage. Assumes a consistent writer version (an OLD writer
    * appending sig-only commits to a NEW chain is out of scope, as is
    * multi-version multi-writer generally).
    */
  private def keysComplete(m: Manifest): Boolean =
    m.metrics.getOrElse("dedup_keys_incomplete", 0L) == 0L

  /** Regenerate the keys table from the FULL stored signature table (one
    * scan + write, atomic replace) — the upgrade path for legacy chains
    * (and the repair path should coverage ever be poisoned). Idempotent.
    */
  def rebuildKeys(spark: SparkSession): Manifest = {
    val head = sigLog.head.getOrElse(
      throw new IllegalStateException("rebuildKeys: empty signature log"))
    require(sigLog.tablePaths(head, SigTable).nonEmpty, "rebuildKeys: no stored signatures")
    val keys = Dedup.explodedBandKeys(sigLog.readTable(spark, head, SigTable))
    // UUID component: two concurrent rebuildKeys (or a rebuild racing a
    // step's commit) can read the same head and would otherwise share the
    // seq-stamped dir — the loser's committed manifest then referencing the
    // winner's files (same round-5 advisory as IvfIndex.save). A crashed
    // attempt leaves an uncommitted, invisible orphan dir.
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dir = sigLog.dataDir(f"dedupkeys-rebuild-${head.sequence + 1}%08d-$nonce%s", KeysTable)
    keys.write.options(LocalFs.options(spark)).mode("overwrite").parquet(dir)
    sigLog.commit(Manifest(
      snapshotId = "", sequence = 0L, parentId = Some(head.snapshotId),
      constraintVersion = head.constraintVersion, partitionSpec = "keys-rebuild",
      partitionsDelta = Seq.empty, complete = head.complete,
      tables = Map(KeysTable -> Seq(dir)),
      metrics = head.metrics + ("dedup_keys_incomplete" -> 0L),
      sketches = head.sketches, createdAtMs = System.currentTimeMillis(),
      tablesReplaced = Seq(KeysTable),
      tableSchemas = Map(KeysTable -> keys.schema.json)))
  }

  /** Maintenance for the signature store: compact the keys table RANGE-
    * CLUSTERED by band_key — the probe's pushed filter is on band_key
    * ALONE, so band_key must be the PRIMARY sort: a band_idx-first sort
    * gives every file a full-range band_key span and min/max stats skip
    * nothing (measured: 63/64 files overlapped; band_key-primary = 0
    * overlaps, 3.4× probe speedup page-cached at 50M rows, more cold).
    * Uniform hash keys: P(file hit) ≈ keys/#files. The signature table
    * compacts by id (the verify-join key). Call on the usual maintenance
    * cadence.
    */
  def compactSignatures(
      spark: SparkSession,
      targetFileBytes: Long = 128L * 1024 * 1024
  ): Seq[graft.table.Maintenance.CompactionStats] = {
    val head = sigLog.head.getOrElse(
      throw new IllegalStateException("compactSignatures: empty signature log"))
    val stats = Seq.newBuilder[graft.table.Maintenance.CompactionStats]
    if (sigLog.tablePaths(head, KeysTable).nonEmpty)
      stats += graft.table.Maintenance.compact(spark, sigLog, KeysTable, targetFileBytes,
        clusterBy = Seq("band_key"))
    if (sigLog.tablePaths(sigLog.head.get, SigTable).nonEmpty)
      stats += graft.table.Maintenance.compact(spark, sigLog, SigTable, targetFileBytes,
        clusterBy = Seq("id"))
    stats.result()
  }

  /** Consume up to `maxCommits` newly committed document commits; returns
    * the sequence distance advanced (0 = caught up, callback not run).
    */
  def step(spark: SparkSession, maxCommits: Int = Int.MaxValue)(onPairs: DataFrame => Unit): Long =
    follower.poll(spark, maxCommits) { (delta, from, to) =>
      val sliceSigs = Dedup.minhashSignatures(delta, idCol, textCol, shingleK, numHashes, numBands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Row-less slices (the producer's checkpoint/compaction commits
        // fall inside poll ranges but add no documents) write and commit
        // NOTHING — idle polls grow neither the signature chain nor disk.
        if (sliceSigs.isEmpty)
          onPairs(Dedup.minhashPairsAgainstSignatures(sliceSigs, sliceSigs, threshold, maxBucket)
            .limit(0)) // empty pair frame, real schema — the callback contract holds
        else {
          val head = sigLog.head
          val storeSigs = head
            .filter(m => sigLog.tablePaths(m, SigTable).nonEmpty)
            .map(m => sigLog.readTable(spark, m, SigTable))
          // A replayed slice (crash between sig-commit and cursor write)
          // finds its OWN signatures already stored; excluding the slice's
          // ids from the corpus side makes the replay re-deliver EXACTLY
          // the original pairs — same-slice relations stay the caller's
          // intra-batch step on replay too, not a replay leak.
          val corpusSigs = storeSigs
            .map(_.join(sliceSigs.select("id"), Seq("id"), "left_anti"))
            .getOrElse(sliceSigs.limit(0)) // first slice: empty corpus, zero pairs
          // Stored keys serve the probe only when the chain is COMPLETE
          // (every sig commit has a keys twin) — else fall back to
          // re-exploding `bands` from the sig table.
          val corpusKeys = head
            .filter(m => sigLog.tablePaths(m, KeysTable).nonEmpty && keysComplete(m))
            .map(m => sigLog.readTable(spark, m, KeysTable)
              .join(sliceSigs.select("id"), Seq("id"), "left_anti"))
          onPairs(Dedup.minhashPairsAgainstSignatures(
            corpusSigs, sliceSigs, threshold, maxBucket, corpusKeys, pruneBandKeysLimit))
          // Store only ids the chain does not already hold: a replayed
          // slice whose boundary EXTENDED past the original (new commits
          // landed before the retry) appends just the genuinely new docs —
          // the signature table never double-counts under any replay shape.
          val newSigs = storeSigs
            .map(sf => sliceSigs.join(sf.select("id"), Seq("id"), "left_anti"))
            .getOrElse(sliceSigs)
          if (!newSigs.isEmpty) {
            val dir = sigLog.dataDir(f"dedupsigs-$from%08d-$to%08d", SigTable)
            newSigs.write.options(LocalFs.options(spark)).mode("overwrite").parquet(dir)
            // Keys twin of the same rows, SAME commit: a chain where some
            // sig commit lacks its keys entry would disable the stored-keys
            // probe path forever (keysComplete).
            val keysDir = sigLog.dataDir(f"dedupkeys-$from%08d-$to%08d", KeysTable)
            val newKeys = Dedup.explodedBandKeys(newSigs)
            newKeys.write.options(LocalFs.options(spark)).mode("overwrite").parquet(keysDir)
            if (!head.exists(m => sigLog.tablePaths(m, SigTable).contains(dir)))
              sigLog.commit(Manifest(
                snapshotId = "", sequence = 0L, // assigned by commit
                parentId = head.map(_.snapshotId),
                constraintVersion = head.map(_.constraintVersion).getOrElse("dedup-sigs/1"),
                partitionSpec = head.map(_.partitionSpec).getOrElse("incremental"),
                partitionsDelta = Seq.empty,
                complete = false,
                tables = Map(SigTable -> Seq(dir), KeysTable -> Seq(keysDir)),
                // cumulative maps carry forward; coverage poison stamps the
                // legacy-upgrade gap (sig data exists, no keys table) and is
                // sticky until rebuildKeys
                metrics = {
                  val prev = head.map(_.metrics).getOrElse(Map.empty[String, Long])
                  val legacyGap = head.exists(m =>
                    sigLog.tablePaths(m, SigTable).nonEmpty &&
                      sigLog.tablePaths(m, KeysTable).isEmpty)
                  val poison = if (legacyGap || prev.getOrElse("dedup_keys_incomplete", 0L) == 1L) 1L else 0L
                  prev + ("dedup_keys_incomplete" -> poison)
                },
                sketches = head.map(_.sketches).getOrElse(Map.empty),
                createdAtMs = System.currentTimeMillis(),
                tableSchemas = Map(
                  SigTable -> newSigs.schema.json,
                  KeysTable -> newKeys.schema.json)
              ))
          }
        }
      } finally sliceSigs.unpersist()
      ()
    }
}
