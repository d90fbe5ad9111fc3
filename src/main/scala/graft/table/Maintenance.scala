package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Table maintenance over a [[SnapshotLog]] — the Iceberg-style lifecycle
  * the north_rule's 10^12-row table needs but no single validation run
  * provides:
  *
  *  - [[compact]] = `rewrite_data_files`: a P-partition table written in
  *    ⌈P/k⌉ commit batches accumulates thousands of small roots/files; one
  *    snapshot read stays a single multi-path scan, but every file still
  *    costs a footer read + a scheduler task + lost min/max locality. Compact
  *    rewrites a logical table into size-targeted, partition_id-range-
  *    clustered files under ONE root and commits a manifest that REPLACES the
  *    table's path chain (`tablesReplaced`), atomically — readers see the old
  *    or the new file set, never a mix.
  *  - [[expire]] = `expire_snapshots` + orphan-file removal: retires
  *    manifests older than the nearest checkpoint below HEAD and deletes
  *    data directories no retained snapshot can reach (e.g. pre-compaction
  *    originals). Every read through a RETAINED manifest keeps working;
  *    time travel past the retention boundary throws, by design.
  *
  * The intended lifecycle at scale: validate (many commits) → `compact` the
  * hot tables → `checkpoint` (squash metadata) → `expire` (reclaim files).
  * Each step is an ordinary atomic commit (or pure metadata/file work), so a
  * kill at any point leaves a readable table.
  *
  * The reference is a stateless service with no storage lifecycle — this
  * layer has no reference analog; it exists because the engine's output IS
  * a long-lived table.
  */
object Maintenance {

  final case class CompactionStats(
      manifest: Manifest,
      filesBefore: Long,
      filesAfter: Long,
      bytesRewritten: Long
  )

  final case class ExpireStats(
      manifestsDeleted: Long,
      tableDirsDeleted: Long,
      bytesReclaimed: Long
  )

  /** Directory-routing duplicates the engine's writers use: the directory
    * column is dir-name-only, the source column stays in the data files
    * (see [[SnapshotLog.readPaths]]). Compaction re-derives the same layout
    * from the data, so compacted and fresh-written roots read identically.
    */
  private val routeDirs: Seq[(String, String)] = Seq("statusd" -> "status", "streamd" -> "stream")

  /** Data files under `root`, recursively. Names starting with `_` or `.`
    * (commit markers, checksums) are not data: counting a `_SUCCESS` marker
    * would halve a one-file root's mean file size. Listed with `listStatus`:
    * `listFiles` copies each status's permission, which Hadoop's local
    * filesystem reads by starting an `ls` process per file.
    */
  private def dataFiles(log: SnapshotLog, root: String): Seq[FileStatus] = {
    val fs = log.fs
    def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")) Nil
      else Seq(st)
    }
    walk(new Path(root))
  }

  /** Rewrite `table` (as of HEAD) into size-targeted files under one root
    * and commit the replacement. Clustering: route columns first (so each
    * statusd/streamd directory's rows land in few files), then
    * `partition_id` by RANGE where present — each output file then covers a
    * narrow partition_id band, so parquet min/max stats keep
    * [[SnapshotLog.readTableForPartitions]]' residual filter file-skipping
    * even though the per-commit path pruning is gone for compacted data.
    *
    * `rewriteThresholdBytes` makes the rewrite SELECTIVE (the
    * rewrite_data_files file-group picker, and the difference between a
    * viable and a non-viable compaction at 10^12 rows): only roots whose
    * mean file size is below the threshold are rewritten; well-sized roots
    * survive untouched and are re-listed verbatim in the replacing
    * manifest — so steady-state maintenance cost is proportional to the
    * FRAGMENTED fraction of the table, not to the table. `None` rewrites
    * everything.
    *
    * Compacting `annotated` re-points the derived `valid` table (its
    * statusd=success subtree) in the same commit — one atomic swap for both.
    */
  /** @param clusterBy overrides the default `partition_id` range clustering
    *   with caller-chosen sort/range columns (route columns still lead —
    *   they are physical layout). The 10^12-row use: compacting a dedup
    *   band-key table clustered by (band_idx, band_key) gives every output
    *   file a narrow key range, so a probe batch's pushed key filter skips
    *   almost all row groups via parquet min/max stats
    *   ([[graft.streaming.IncrementalDedup]]'s scan-prune path).
    */
  def compact(
      spark: SparkSession,
      log: SnapshotLog,
      table: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      rewriteThresholdBytes: Option[Long] = None,
      clusterBy: Seq[String] = Seq.empty
  ): CompactionStats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // `valid` is a DERIVED subtree view of `annotated`, re-pointed by every
    // annotated compaction below. Compacting it directly would register a
    // standalone valid root under no annotated parent; a later SELECTIVE
    // annotated compaction would then filter that root out of keptValid and
    // silently drop surviving roots' success rows from the valid view
    // (round-3 advisory). Compact `annotated` — valid rides along.
    require(table != "valid",
      "compact: 'valid' is a derived view of 'annotated' — compact 'annotated' and the valid subtree is re-pointed in the same commit")
    val head = log.head.getOrElse(throw new IllegalStateException("compact: empty snapshot log"))
    val allPaths = log.tablePaths(head, table)
    require(allPaths.nonEmpty, s"compact: table $table has no data in ${head.snapshotId}")

    val sized = allPaths.map { p =>
      val files = dataFiles(log, p)
      (p, files.size.toLong, files.map(_.getLen).sum)
    }
    val filesBefore = sized.map(_._2).sum
    val threshold = rewriteThresholdBytes.getOrElse(Long.MaxValue)
    // Selective mode never re-picks a prior compaction's output: it was
    // already written at target size, so its mean file size is small only
    // when the DATA is small — rewriting it again can't improve it (and
    // would make threshold-compaction non-convergent). Full mode (None)
    // still folds old compact roots into the new one.
    val (rewrite, keep) = sized.partition { case (p, nf, nb) =>
      (rewriteThresholdBytes.isEmpty || !p.contains("/p-compact-")) &&
        (nf == 0 || nb / math.max(nf, 1L) < threshold)
    }
    if (rewrite.isEmpty) return CompactionStats(head, filesBefore, filesBefore, 0L)
    val paths = rewrite.map(_._1)
    val bytesBefore = rewrite.map(_._3).sum
    val nFiles = math.max(1L, (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt

    // Rewrite under the chain's NEWEST schema: older files surface null for
    // later-added columns, so the compacted files carry the full current
    // schema (physical schema migration rides along with compaction, as in
    // Iceberg). A pre-schema chain (no recorded tableSchemas) must merge
    // the footers of ALL roots — including the kept ones, since the
    // replacing manifest's recorded schema becomes authoritative for them
    // too: sampling one footer (or merging only the rewritten subset) would
    // silently narrow the table and the rewrite is destructive after
    // expire.
    val tableWideSchema = log.tableSchema(head, table).getOrElse(
      log.readPaths(spark, allPaths, mergeFooters = true).schema
    )
    val df = log.readPaths(spark, paths, Some(tableWideSchema))
    val fields = df.schema.fieldNames.toSet
    val routes = routeDirs.filter { case (_, src) => fields.contains(src) }
    require(clusterBy.forall(fields.contains),
      s"clusterBy columns ${clusterBy.filterNot(fields.contains)} not in table '$table' (${fields.toSeq.sorted})")
    val clusterCols =
      routes.map { case (_, src) => col(src) } ++
        (if (clusterBy.nonEmpty) clusterBy.map(col)
         else if (fields.contains("partition_id")) Seq(col("partition_id"))
         else Nil)

    // A uniform tiebreaker as the LAST range key: range partitioning on
    // low-cardinality keys alone (e.g. a table with `status` but no
    // `partition_id`) collapses all duplicates of a value into one range —
    // one giant file per value at scale. Ties split evenly instead; the
    // primary keys still dominate the ranges, so per-file min/max bands on
    // the real columns stay narrow (the tiebreaker is not in the sort).
    // One output file needs no ranges at all: the scan's partitions are
    // coalesced into one task and sorted there, with no shuffle.
    val shaped =
      if (nFiles == 1 && clusterCols.nonEmpty) df.coalesce(1).sortWithinPartitions(clusterCols: _*)
      else if (nFiles == 1) df.coalesce(1)
      else if (clusterCols.nonEmpty)
        df.repartitionByRange(nFiles, (clusterCols :+ org.apache.spark.sql.functions.rand(head.sequence)): _*)
          .sortWithinPartitions(clusterCols: _*)
      else df.repartition(nFiles)
    val routed = routes.foldLeft(shaped) { case (d, (dir, src)) => d.withColumn(dir, col(src)) }

    val newRoot = log.dataDir(f"compact-${head.sequence + 1}%08d", table)
    val writer = routed.write.options(LocalFs.options(spark)).mode("overwrite")
    (if (routes.nonEmpty) writer.partitionBy(routes.map(_._1): _*) else writer).parquet(newRoot)

    // `valid` is a subtree view of `annotated`; swap both under one commit.
    // Selective rewrites keep the valid paths of surviving roots verbatim
    // and point the rewritten fraction's share at the new root's subtree.
    val keptRoots = keep.map(_._1)
    val oldValid = if (table == "annotated") log.tablePaths(head, "valid") else Seq.empty
    val keptValid = oldValid.filter(v => keptRoots.exists(r => v == r || v.startsWith(r + "/")))
    val rewrittenHadValid = oldValid.size > keptValid.size
    val newValid = keptValid ++ (if (rewrittenHadValid) Seq(SnapshotLog.validDir(newRoot)) else Seq.empty)
    val tables =
      Map(table -> (keptRoots :+ newRoot)) ++
        (if (newValid.nonEmpty) Map("valid" -> newValid) else Map.empty)

    val committed = log.commit(
      Manifest(
        snapshotId = "", // assigned by commit
        sequence = 0L,
        parentId = Some(head.snapshotId),
        constraintVersion = head.constraintVersion,
        partitionSpec = head.partitionSpec,
        partitionsDelta = Seq.empty, // a rewrite adds no new source partitions
        complete = head.complete,
        tables = tables,
        metrics = head.metrics, // cumulative maps carry forward unchanged
        sketches = head.sketches,
        createdAtMs = System.currentTimeMillis(),
        tablesReplaced = tables.keys.toSeq.sorted,
        tableSchemas = tables.keys.map(_ -> df.schema.json).toMap
      )
    )
    val filesAfter = dataFiles(log, newRoot).size + keep.map(_._2).sum
    CompactionStats(committed, filesBefore, filesAfter, bytesBefore)
  }

  /** Roll the table state back to snapshot `seq` (Iceberg
    * `rollback_to_snapshot`): commits a CHECKPOINT squash of the old
    * manifest — a chain stop holding exactly `seq`'s resolved file lists,
    * partition set, metrics, sketches, schemas, and stream-batch ledger.
    * Everything after `seq` (a bad batch, a mistaken rewrite) disappears
    * from every reader AND from resume semantics (rolled-back partitions
    * reprocess), atomically and without touching data; the next [[expire]]
    * reclaims the rolled-back commits' files. History before `seq` stays
    * time-travelable until then.
    *
    * Fails (inside [[SnapshotLog.checkpoint]]'s chain walk) if `seq`
    * precedes the latest checkpoint and its ancestors were expired — a
    * rollback target must still be readable, same rule as time travel.
    */
  def rollbackTo(log: SnapshotLog, seq: Long): Manifest = {
    val head = log.head.getOrElse(throw new IllegalStateException("rollbackTo: empty snapshot log"))
    require(seq <= head.sequence, s"rollbackTo: $seq is ahead of HEAD ${head.sequence}")
    log.checkpoint(log.read(seq))
  }

  /** Retire history: delete manifests OLDER than the retained window (HEAD
    * back to the nearest checkpoint — exactly the set [[SnapshotLog.chain]]
    * can reach) and every `data/p-&#42;/&lt;table&gt;` directory that no
    * retained manifest references. Reachability honors `tablesReplaced`
    * per retained manifest, so pre-compaction originals expire as soon as
    * no retained snapshot can read them — i.e. after the first
    * post-compaction checkpoint, which is the intended call order.
    *
    * Pure filesystem work — no Spark jobs, no data reads; safe to run
    * any time (deletes only what retained readers cannot reach).
    */
  def expire(log: SnapshotLog): ExpireStats = {
    val fs = log.fs
    val head = log.head.getOrElse(return ExpireStats(0, 0, 0))
    val retained = log.chain(head).toVector
    def qualified(p: String): String = fs.makeQualified(new Path(p)).toString

    // Every path any retained manifest can reach, per replacement-aware walk.
    val reachable: Set[String] = retained.flatMap { m =>
      val names = log.chain(m).flatMap(_.tables.keys).toSet
      names.flatMap(t => log.tablePaths(m, t))
    }.map(qualified).toSet

    // Manifests strictly below the retention window; plus temp manifests a
    // crashed commit left behind (never visible — the name filter in head/
    // read skips them — but they leak). Age-guarded so a commit in flight
    // RIGHT NOW (its tmp window is milliseconds) is never raced.
    val floor = retained.map(_.sequence).min
    var manifestsDeleted = 0L
    if (fs.exists(log.snapDir)) {
      val entries = fs.listStatus(log.snapDir)
      entries
        .map(_.getPath)
        .filter(_.getName.matches("\\d{8}\\.json"))
        .filter(_.getName.stripSuffix(".json").toLong < floor)
        .foreach { p =>
          if (fs.delete(p, false)) {
            manifestsDeleted += 1
            log.uncache(p.getName.stripSuffix(".json").toLong) // expired travel must throw, not hit cache
          }
        }
      val staleBefore = System.currentTimeMillis() - 60L * 60 * 1000
      entries
        .filter(st => st.getPath.getName.startsWith(".tmp-") && st.getModificationTime < staleBefore)
        .foreach(st => fs.delete(st.getPath, false))
    }

    // Unreachable table dirs (granularity: data/p-<tag>/<table> — one batch
    // dir holds several logical tables, compaction replaces them one at a
    // time). A dir is live if a reachable path is the dir itself or below
    // it (the `valid` subtree keeps its `annotated` root alive).
    var dirsDeleted = 0L
    var bytes = 0L
    val dataRoot = new Path(log.root, "data")
    if (fs.exists(dataRoot)) {
      for (batch <- fs.listStatus(dataRoot) if batch.isDirectory) {
        for (tdir <- fs.listStatus(batch.getPath) if tdir.isDirectory) {
          val d = qualified(tdir.getPath.toString)
          val live = reachable.exists(r => r == d || r.startsWith(d + "/"))
          if (!live) {
            bytes += fs.getContentSummary(tdir.getPath).getLength
            if (fs.delete(tdir.getPath, true)) dirsDeleted += 1
          }
        }
        if (fs.listStatus(batch.getPath).isEmpty) fs.delete(batch.getPath, false)
      }
    }
    ExpireStats(manifestsDeleted, dirsDeleted, bytes)
  }
}
