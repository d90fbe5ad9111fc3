package graft.streaming

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Dedup
import graft.table.SnapshotLog

/** Incremental corpus dedup riding the snapshot log — the composed
  * production loop: documents arrive as commits to a [[SnapshotLog]]
  * table; each `step` consumes the newly committed slice through a
  * durable [[SnapshotFollower]] cursor and runs it through the
  * [[SignatureStore]]'s per-batch routine: pairs against the STORED corpus
  * signatures (the corpus is never re-shingled, its keys scan is pruned by
  * the slice's band keys), the verified near-dup pairs handed to the
  * caller, the slice's new signatures and keys appended in one commit.
  *
  * The signature store is its OWN snapshot log (`sigLog`), not the
  * producer's: a consumer that committed into the log it follows would
  * re-consume its own commits as fresh backlog forever (each sig commit
  * spawning the next empty slice). Separate logs keep the producer's
  * lineage pure document history and let many consumers own independent
  * derived stores — the same reason [[SnapshotFollower]] keeps its cursor
  * outside the producer's directory.
  *
  * Restart semantics (at-least-once pair delivery, exactly-once
  * signature storage): the cursor advances only after a fully successful
  * step. A crash inside the callback leaves no signature commit and no
  * cursor — clean replay. A crash between the signature commit and the
  * cursor write replays the slice: its own stored signatures are
  * anti-joined out of the corpus side, so the replay re-delivers exactly
  * the original pairs, and only ids the store does not hold are appended —
  * a replayed slice whose boundary EXTENDED past the original appends just
  * the genuinely new docs. Row-less slices (the producer's checkpoint and
  * compaction commits) commit nothing.
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
    maxBucket: Int = Dedup.DefaultMaxBucket
) {
  require(docLog.root != sigLog.root,
    "sigLog must be a separate snapshot log: committing into the followed log would re-consume own commits forever")

  private val follower = new SnapshotFollower(docLog, docTable, cursorDir, conf)

  /** Consume up to `maxCommits` newly committed document commits; returns
    * the sequence distance advanced (0 = caught up, callback not run).
    */
  def step(spark: SparkSession, maxCommits: Int = Int.MaxValue)(onPairs: DataFrame => Unit): Long =
    follower.poll(spark, maxCommits) { (delta, from, to) =>
      SignatureStore.probeAndCommit(sigLog, delta, idCol, textCol, shingleK, numHashes, numBands,
        threshold, maxBucket, f"dedup-$from%08d-$to%08d")(onPairs)
      ()
    }
}
