package graft.table

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.constraint.ConstraintSet
import graft.engine.{ConstraintRegistry, EngineOptions, MultiStreamEngine, ValidationEngine}
import graft.model.Status

/** The heterogeneous-batch validate-then-produce job: rows declare their
  * stream, the registry dispatches each to its compiled constraint set, and
  * VALID OUTPUT IS ROUTED PER STREAM — the reference's "produce each event
  * to its stream's topic" (/root/reference/lib/factories/
  * default-eventgate.js:242-278) with the Guaranteed-producer contract: all
  * streams' outputs for a batch become visible through ONE atomic manifest
  * or not at all.
  *
  * Execution shape per batch of `commitBatch` partitions:
  *  1. ONE full pass writes the annotated frame routed by
  *     (statusd, streamd) directories — the valid table is the
  *     statusd=success subtree, already laid out one directory per
  *     stream — while an attached Observation collects the batch's status
  *     totals during the same job.
  *  2. Rollups per (stream, partition) aggregate over the WRITTEN annotated
  *     table — a columnar re-read of three narrow columns, the only
  *     post-write pass (per-(stream,partition) counts are
  *     stream-value-dependent, so a global Observation can't carry them).
  *  3. Violations are derived from the written failing slice only and
  *     re-ingested through the error-schema gate
  *     (/root/reference/lib/eventgate.js:243-270).
  *  4. One manifest commit (delta file lists, duration metrics).
  *
  * The batch's input is planned as ONE relation when its partitions are
  * bare file-source reads, else as a union ([[BatchInput]], the same
  * helper [[ValidationJob]] uses).
  *
  * Resume semantics are identical to [[ValidationJob]]: a killed run skips
  * every partition already in the chain's committed set.
  */
final class MultiStreamValidationJob(
    spark: SparkSession,
    log: SnapshotLog,
    registry: ConstraintRegistry,
    streamCol: String = "stream",
    idField: String = "image_id",
    partitionSpec: String = "explicit",
    suppressViolations: Option[Column] = None,
    commitBatch: Int = 8,
    violationsSchema: Option[ConstraintSet] = Some(ValidationJob.violationsSchemaV1)
) {
  require(commitBatch >= 1, "commitBatch must be >= 1")

  def run(inputFor: Int => DataFrame, partitions: Seq[Int]): Manifest = {
    var current = log.head
    val done = current.map(log.committedPartitions).getOrElse(Set.empty[Int])
    val todo = partitions.filterNot(done)

    for (batch <- todo.grouped(commitBatch)) {
      val wallMs = scala.collection.mutable.Map.empty[String, Long]
      def phase[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try body
        finally wallMs(name) = wallMs.getOrElse(name, 0L) + (System.nanoTime() - t0) / 1000000L
      }

      val snapshotId = current.map(_.snapshotId).getOrElse("snap-00000000")
      val opts = EngineOptions(snapshotId = snapshotId, idField = idField, partitionIdCol = col("_pid"))
      val tagged = BatchInput.of(spark, batch, inputFor)
      val res = new MultiStreamEngine(registry, opts, streamCol).process(tagged)

      val tag = batch.mkString("_")
      val annotatedPath = log.dataDir(tag, "annotated")
      val vioPath = log.dataDir(tag, "violations")
      val rollPath = log.dataDir(tag, "rollups")

      // 1. the single full pass, routed by (status, stream) directory
      // columns (statusd/streamd duplicates keep the real columns in data —
      // SnapshotLog.readPaths explains). Per-batch totals ride the same
      // write via Observation, so no output re-read is needed for counts
      // (per-(stream,partition) rollups are stream-value-dependent and
      // can't be observed globally; they aggregate over the written table's
      // three narrow columns below).
      val annFrame = res.annotated.drop("_pid")
      val (nS, nI, nE) = phase("write_annotated") {
        SnapshotLog.writeAnnotated(annFrame, annotatedPath, s"ms_$tag", Some(streamCol))
      }

      // 2. rollups per (stream, partition) from the written table — one
      // columnar scan over (stream, partition_id, status) only.
      val ann =
        if (nS + nI + nE > 0) log.readPaths(spark, Seq(annotatedPath), Some(annFrame.schema))
        else annFrame.limit(0)
      val rollups = ann
        .groupBy(col(streamCol).as("stream"), col("partition_id"))
        .agg(
          count(when(col("status") === Status.Success, 1)).as("n_success"),
          count(when(col("status") === Status.Invalid, 1)).as("n_invalid"),
          count(when(col("status") === Status.Error, 1)).as("n_error")
        )
        .select(lit(snapshotId).as("snapshot_id"), col("stream"), col("partition_id"),
          col("n_success"), col("n_invalid"), col("n_error"))
      phase("write_rollups") {
        rollups.coalesce(1).write.mode("overwrite").parquet(rollPath)
      }

      // 3. violations from the explicitly-listed failing directories only
      val failingDirs = SnapshotLog.failingDirs(annotatedPath, nI, nE)
      val failing =
        if (failingDirs.isEmpty) ann.limit(0)
        else log.readPaths(spark, failingDirs, Some(annFrame.schema))
      val vioSource = MultiStreamEngine.violationRows(failing, snapshotId, idField, streamCol)
      val kept = suppressViolations.fold(vioSource)(vioSource.filter)
      val rejectedObs = Observation(s"msgate_$tag")
      val gated = violationsSchema match {
        case None => kept
        case Some(schema) =>
          val asEvents = kept.withColumnRenamed("status", "violation_status")
          val gateRes = new ValidationEngine(
            schema,
            EngineOptions(snapshotId = snapshotId, idField = "row_id", partitionIdCol = col("partition_id"))
          ).process(asEvents)
          gateRes.annotated
            .observe(rejectedObs, count(when(col("status") =!= Status.Success, 1)).as("rejected"))
            .filter(col("status") === Status.Success)
            .select(kept.columns.toIndexedSeq.map(c => if (c == "status") col("violation_status").as("status") else col(c)): _*)
      }
      phase("write_violations") {
        gated.write.mode("overwrite").parquet(vioPath)
      }
      val rejected: Long =
        if (violationsSchema.isEmpty) 0L
        else rejectedObs.get.get("rejected").map(_.asInstanceOf[Long]).getOrElse(0L)

      // 4. one atomic commit for every stream's output
      val prevMetrics = current.map(_.metrics).getOrElse(Map.empty)
      val committedSoFar = current.map(log.committedPartitions).getOrElse(Set.empty) ++ batch
      current = Some(
        log.commit(
          Manifest(
            snapshotId = "",
            sequence = 0L,
            parentId = current.map(_.snapshotId),
            constraintVersion = registry.sets.map(_.version).sorted.mkString(","),
            partitionSpec = partitionSpec,
            partitionsDelta = batch,
            complete = partitions.toSet.subsetOf(committedSoFar),
            // valid = the statusd=success subtree, registered as its own
            // path list (already laid out one streamd= directory per
            // stream). Empty slices register no paths — a partitionBy write
            // of zero rows creates no directories (the commit itself still
            // lands so resume skips the partitions).
            tables = Map(
              "valid" -> (if (nS > 0) Seq(SnapshotLog.validDir(annotatedPath)) else Seq.empty),
              "annotated" -> (if (nS + nI + nE > 0) Seq(annotatedPath) else Seq.empty),
              "violations" -> Seq(vioPath), // empty unpartitioned writes still leave a schema-bearing file
              "rollups" -> Seq(rollPath)
            ),
            // FILE schemas: readers plan from these, not parquet footers.
            tableSchemas = SnapshotLog.tableSchemasFor(annFrame.schema, gated.schema, rollups.schema),
            metrics = Map(
              "n_success" -> (prevMetrics.getOrElse("n_success", 0L) + nS),
              "n_invalid" -> (prevMetrics.getOrElse("n_invalid", 0L) + nI),
              "n_error" -> (prevMetrics.getOrElse("n_error", 0L) + nE),
              "violations_rejected" -> (prevMetrics.getOrElse("violations_rejected", 0L) + rejected)
            ) ++ wallMs.map { case (k, v) =>
              s"wall_ms_$k" -> (prevMetrics.getOrElse(s"wall_ms_$k", 0L) + v)
            },
            sketches = current.map(_.sketches).getOrElse(Map.empty),
            createdAtMs = System.currentTimeMillis()
          )
        )
      )
    }
    current.getOrElse(throw new IllegalStateException("nothing to commit: no partitions"))
  }
}

object MultiStreamValidationJob {

  /** The valid table: the statusd=success subtree of each commit's
    * annotated root, registered as explicit paths in the manifest — pruning
    * by file-list construction, one scan. A chain where EVERY row failed
    * registers no valid paths; that is an empty valid table, not an error.
    */
  def readValid(spark: SparkSession, log: SnapshotLog, m: Manifest): DataFrame =
    log.readTableOrEmpty(spark, m, "valid", schemaFrom = "annotated")
}
