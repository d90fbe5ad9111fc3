package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.table.{LocalFs, SnapshotLog}

/** Durable incremental consumer over a [[SnapshotLog]] table — the
  * downstream half of `readTableChanges`: a training-data pipeline that
  * wants "every row the validation engine has produced since my last run"
  * without re-reading the table.
  *
  * Contract:
  *  - the cursor (last fully processed snapshot sequence) is persisted
  *    under the CONSUMER's own directory, not the producer's log — many
  *    independent consumers can follow one table at their own pace;
  *  - `poll` is at-least-once: the callback runs BEFORE the cursor
  *    advances, so a crash between the two replays the same delta on the
  *    next poll. Consumers that need exactly-once effects make the
  *    callback idempotent on `(fromSeq, toSeq]` (the range is passed in) —
  *    the same discipline Structured Streaming's foreachBatch asks for;
  *  - a cursor that falls behind the producer's [[graft.table.Maintenance
  *    .expire]] retention window, or points into history abandoned by
  *    `rollbackTo`, makes `readTableChanges` throw — call [[rebootstrap]]
  *    to process one FULL snapshot read and resume incrementally from its
  *    sequence.
  *
  * Driver-side metadata polling only — the delta itself is a normal
  * distributed read (one multi-path scan of the delta commits' files).
  */
final class SnapshotFollower(
    log: SnapshotLog,
    table: String,
    cursorDir: String,
    conf: org.apache.hadoop.conf.Configuration
) {

  private lazy val fsConf = LocalFs.conf(conf) // fork-free cursor writes on `file:` dirs
  private def fs = new Path(cursorDir).getFileSystem(fsConf)
  private def cursorPath = new Path(cursorDir, s"cursor-$table.txt")
  private def cursorTmp = new Path(cursorDir, s".cursor-$table.tmp")

  private def readLong(p: Path): Option[Long] = {
    val f = fs
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toLongOption
      finally in.close()
    }
  }

  /** Last fully processed sequence; 0 = from the beginning. The update
    * protocol is write-tmp → delete-old → rename, so a crash can leave
    * ONLY the (fully written, fsynced-on-close) tmp behind — it is the
    * recovery source then. When both exist the durable file wins: it is the
    * older of the two, which for an at-least-once consumer is the safe
    * direction (replay, never skip).
    */
  def cursor: Long =
    readLong(cursorPath).orElse(readLong(cursorTmp)).getOrElse(0L)

  private def writeCursor(seq: Long): Unit = {
    val f = fs
    f.mkdirs(new Path(cursorDir))
    val out = f.create(cursorTmp, true)
    try out.write(seq.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    f.delete(cursorPath, false)
    if (!f.rename(cursorTmp, cursorPath))
      // The tmp is fully written and `cursor` reads it as the fallback, so
      // the advance to `seq` is NOT lost and the next poll does not replay
      // (round-3 advisory asked for diagnostics here; deleting the tmp —
      // its other suggestion — would drop the only record of the advance,
      // since the durable file was already removed, forcing a full-history
      // replay on a persistently failing rename).
      throw new IllegalStateException(
        s"cursor update for $table failed renaming $cursorTmp -> $cursorPath; " +
          s"the advance to $seq survives in the tmp file and resolves as the cursor")
  }

  /** Process commits since the cursor, at most `maxCommits` LINEAGE STEPS
    * per call (Iceberg bounds commits-per-incremental-scan the same way): a
    * consumer that was down for a week drains its backlog in bounded,
    * individually-committed slices instead of one giant delta frame — the
    * cursor advances after EACH call, so a crash mid-catch-up replays only
    * the current slice, and memory/shuffle pressure per poll is bounded by
    * the slice's row mass, not the backlog's.
    *
    * Returns the SEQUENCE DISTANCE advanced (0 = already caught up; the
    * callback is not invoked) — rollback-abandoned sequences inside the
    * range count toward the distance but contribute no rows. The callback
    * receives the delta frame and the processed range `(fromSeq, toSeq]`.
    * Call repeatedly until 0 to fully drain.
    */
  def poll(spark: SparkSession, maxCommits: Int = Int.MaxValue)(f: (DataFrame, Long, Long) => Unit): Long = {
    require(maxCommits > 0, s"maxCommits must be positive, got $maxCommits")
    val head = log.head.getOrElse(return 0L)
    val from = cursor
    if (head.sequence <= from) return 0L
    // Slice target: the commit `maxCommits` parent-lineage steps above the
    // cursor. Metadata-cached manifest walk; every collected seq is > from,
    // so a cursor pointing into rolled-back history still reaches
    // readTableChanges' ancestry check and throws its re-bootstrap error.
    val lineage = log.lineage(head.sequence, from).map(_.sequence)
    val to = if (lineage.length <= maxCommits) head.sequence else lineage(lineage.length - maxCommits)
    val delta = log.readTableChanges(spark, from, to, table)
    f(delta, from, to)
    writeCursor(to)
    to - from
  }

  /** Recover a consumer whose cursor fell behind the retention window (or
    * into rolled-back history): process one FULL read of the table as of
    * HEAD, then resume incremental polling from there.
    */
  def rebootstrap(spark: SparkSession)(f: (DataFrame, Long, Long) => Unit): Long = {
    val head = log.head.getOrElse(return 0L)
    // lenient: a table with no data yet (all rows failing, say) rebootstraps
    // to an empty frame instead of wedging the consumer
    f(log.readTableLenient(spark, head, table), 0L, head.sequence)
    writeCursor(head.sequence)
    head.sequence
  }
}
