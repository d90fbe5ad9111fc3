package graft.table

import java.util.Base64

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, GraftFunctions, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.constraint.{ConstraintSet, IsIn, MaxLength, MinLength, NonNull}
import graft.engine.{EngineOptions, PixelChecks, ValidationEngine}
import graft.model.Status
import graft.sketch.Sketches

/** The full validate-then-produce job over a snapshotted table, resumable
  * from the last checkpointed partition set (north_rule).
  *
  * Execution contract:
  *  - the caller provides `inputFor(partition)` — explicit partition-pruned
  *    input (with a manifest-backed source this is file-list construction,
  *    not a post-scan filter: SURVEY §4 "pruning is explicit");
  *  - partitions are processed `commitBatch` at a time: ONE Spark job per
  *    phase per batch and ONE manifest commit per batch, so a P-partition
  *    table costs ⌈P/k⌉ commits and the driver never serializes per-partition
  *    round-trips (round-1 advisory: the per-partition loop was O(P) jobs +
  *    O(P²) manifest bytes);
  *  - ONE scan per batch for file-backed inputs: when every `inputFor(p)` of
  *    a batch is a bare file-source read of the same format and schema, the
  *    batch plans one relation over all of its files, with each batch
  *    partition as one of its partition directories ([[BatchInput]]), so
  *    plan size and driver time stay flat in k and small partitions share
  *    read tasks. Any
  *    other input (a filter or projection on top, partition columns,
  *    differing schemas, a file shared between partitions) falls back to a
  *    union of per-partition frames — same rows, same outputs;
  *  - per batch: validate → write valid → re-ingest violations through the
  *    error-schema gate and write survivors → ONE stats aggregation
  *    computing per-partition rollups AND column-stat sketches together
  *    (no second read of the written output);
  *  - a killed job re-run skips every partition in the chain's committed
  *    set — only unfinished work reprocesses;
  *  - per-phase duration metrics (wall + executor task time via a
  *    SparkListener) are committed atomically with the manifest — the
  *    engine analog of the reference's per-route duration histograms
  *    (/root/reference/lib/util.js:101-139).
  *    Both are exact: the listener's queue is drained before task time is
  *    read.
  *
  * Violation re-ingest: the reference maps failures to error EVENTS and
  * pushes them back through the same gate, validating them against the
  * error schema (/root/reference/lib/eventgate.js:243-270,
  * test/schemas/error/0.0.1). The batch analog: violation rows are
  * validated against [[ValidationJob.violationsSchemaV1]] by a second
  * ValidationEngine before the write; rows failing that schema are dropped
  * and counted (`violations_rejected`) — durable where the reference is
  * fire-and-forget, suppression (`suppressViolations`) mirroring a null
  * `mapToErrorEvent` (/root/reference/lib/eventgate.js:260).
  */
final class ValidationJob(
    spark: SparkSession,
    log: SnapshotLog,
    cs: ConstraintSet,
    pixelChecks: Option[PixelChecks] = None,
    partitionSpec: String = "explicit",
    profileColumns: Boolean = true,
    /** keep-predicate over violation rows; None keeps all. */
    suppressViolations: Option[Column] = None,
    /** partitions per Spark job + manifest commit. */
    commitBatch: Int = 8,
    /** error-schema gate for re-ingested violation rows; None skips the gate. */
    violationsSchema: Option[ConstraintSet] = Some(ValidationJob.violationsSchemaV1)
) {
  require(commitBatch >= 1, "commitBatch must be >= 1")

  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)
  private def unb64(s: String): Array[Byte] = Base64.getDecoder.decode(s)

  private val sketchMergers: Map[String, (Array[Byte], Array[Byte]) => Array[Byte]] = Map(
    "hll_image_id" -> Sketches.hllMerge,
    "hll_phash" -> Sketches.hllMerge,
    "td_w" -> Sketches.tdMerge,
    "td_h" -> Sketches.tdMerge,
    "td_byte_size" -> Sketches.tdMerge,
    "freq_fmt" -> Sketches.freqStringMerge,
    "freq_phash" -> Sketches.freqLongMerge
  )

  /** Executor-task milliseconds per named phase, via job groups. Read only
    * after draining its listener queue, so totals include every finished task.
    */
  private final class PhaseListener extends SparkListener {
    private val stagePhase = scala.collection.concurrent.TrieMap.empty[Int, String]
    val taskMs = scala.collection.concurrent.TrieMap.empty[String, Long]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach(gr => js.stageIds.foreach(sid => stagePhase.put(sid, gr)))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      stagePhase.get(te.stageId).foreach { g =>
        val ms = Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        taskMs.update(g, taskMs.getOrElse(g, 0L) + ms)
      }
  }

  def run(inputFor: Int => DataFrame, partitions: Seq[Int]): Manifest = {
    var current = log.head
    val done = current.map(log.committedPartitions).getOrElse(Set.empty[Int])
    val todo = partitions.filterNot(done)
    val listener = new PhaseListener
    // task_ms baseline from BEFORE this run: the listener accumulates across
    // this run's batches, so resumed runs add onto the chain's prior totals.
    val baseTaskMs = current.map(_.metrics).getOrElse(Map.empty)
      .collect { case (k, v) if k.startsWith("task_ms_") => k -> v }
    spark.sparkContext.addSparkListener(listener)

    try {
      for (batch <- todo.grouped(commitBatch)) {
        val wallMs = scala.collection.mutable.Map.empty[String, Long]
        def phase[T](name: String)(body: => T): T = {
          spark.sparkContext.setJobGroup(name, s"graft $name", interruptOnCancel = false)
          val t0 = System.nanoTime()
          try body
          finally {
            wallMs(name) = wallMs.getOrElse(name, 0L) + (System.nanoTime() - t0) / 1000000L
            spark.sparkContext.clearJobGroup()
          }
        }

        val opts = EngineOptions(
          snapshotId = current.map(_.snapshotId).getOrElse("snap-00000000"),
          pixelChecks = pixelChecks,
          partitionIdCol = col("_pid")
        )
        // One heterogeneous input per batch, each row tagged with its
        // partition id — validated and PRODUCED in one data pass: the
        // annotated frame is written once, partitioned by status (the valid
        // table is its status=success directory), while an attached
        // Observation collects per-partition rollup counts and the batch's
        // column-stat sketches during the same job. Violations are then
        // derived by re-reading only the written FAILING slice (the ~1%
        // minority) — the input is never scanned a second time. At 10^12
        // rows this is the difference between one and three full passes.
        val tagged = BatchInput.of(spark, batch, inputFor)
        val res = new ValidationEngine(cs, opts).process(tagged)

        val tag = batch.mkString("_")
        val annotatedPath = log.dataDir(tag, "annotated")
        val vioPath = log.dataDir(tag, "violations")
        val rollPath = log.dataDir(tag, "rollups")

        val ok = col("status") === Status.Success
        val countExprs = batch.flatMap { p =>
          Seq(
            count(when(col("partition_id") === p && ok, 1)).as(s"s_$p"),
            count(when(col("partition_id") === p && col("status") === Status.Invalid, 1)).as(s"i_$p"),
            count(when(col("partition_id") === p && col("status") === Status.Error, 1)).as(s"e_$p")
          )
        }
        val sketchExprs =
          if (profileColumns)
            Seq(
              Sketches.hllString(when(ok, col("image_id"))).as("hll_image_id"),
              Sketches.hllLong(when(ok, col("phash"))).as("hll_phash"),
              Sketches.tdigest(when(ok, col("w"))).as("td_w"),
              Sketches.tdigest(when(ok, col("h"))).as("td_h"),
              // north_star names byte-size quantiles; bytes is already in
              // the written row, so length() here adds no scan width
              Sketches.tdigest(when(ok, length(col("bytes")))).as("td_byte_size"),
              Sketches.freqString(when(ok, col("fmt"))).as("freq_fmt"),
              Sketches.freqLong(when(ok, col("phash"))).as("freq_phash")
            )
          else Seq.empty
        val statsObs = Observation(s"stats_$tag")
        val statExprs = countExprs ++ sketchExprs
        // `statusd` duplicates `status` purely for directory routing: the
        // real column stays IN the data files so snapshot readers can use
        // one multi-root recursive scan (SnapshotLog.readPaths) instead of
        // Hive partition inference, which rejects multi-root reads.
        val annFrame = res.annotated.drop("_pid").drop("_decode")
        phase("write_annotated") {
          annFrame
            .observe(statsObs, statExprs.head, statExprs.tail: _*)
            .withColumn("statusd", col("status"))
            .write.mode("overwrite").partitionBy("statusd").parquet(annotatedPath)
        }
        val stats = statsObs.get
        def cnt(k: String): Long = stats(k).asInstanceOf[Long]
        val perPart = batch.map(p => (p, cnt(s"s_$p"), cnt(s"i_$p"), cnt(s"e_$p")))
        val (nS, nI, nE) = perPart.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (_, s, i, e)) =>
          (a + s, b + i, c + e)
        }
        val validPaths =
          if (nS > 0) Seq(SnapshotLog.validDir(annotatedPath)) else Seq.empty[String]

        // Violations from the written failing slice (status is a data
        // column, so no partition inference needed), then suppression and
        // the re-ingest gate.
        val failingDirs = SnapshotLog.failingDirs(annotatedPath, nI, nE)
        val vioSource =
          if (failingDirs.isEmpty)
            spark.createDataFrame(
              java.util.Collections.emptyList[Row](), ValidationEngine.violationRowSchema)
          else
            ValidationEngine.violationRows(
              log.readPaths(spark, failingDirs, Some(annFrame.schema)), // known file schema: no footer sampling
              opts.snapshotId,
              "image_id"
            )
        val kept = suppressViolations.fold(vioSource)(vioSource.filter)
        val rejectedObs = Observation(s"gate_$tag")
        val gated = violationsSchema match {
          case None => kept
          case Some(schema) =>
            // `status` is data here (the violated row's triage), so it is
            // renamed out of the gate engine's own triage column's way.
            val asEvents = kept.withColumnRenamed("status", "violation_status")
            val gateRes = new ValidationEngine(
              schema,
              EngineOptions(snapshotId = opts.snapshotId, idField = "image_id", partitionIdCol = col("partition_id"))
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

        // Rollup rows are driver-built from the counts observed during the
        // annotated write — a metadata-sized write, not another data scan.
        val snapshotId = opts.snapshotId
        val rollupRows = perPart.map { case (p, s, i, e) => Row(snapshotId, p, s, i, e) }
        val rollupSchema = StructType(Seq(
          StructField("snapshot_id", StringType), StructField("partition_id", IntegerType),
          StructField("n_success", LongType), StructField("n_invalid", LongType), StructField("n_error", LongType)
        ))
        phase("write_rollups") {
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(rollupRows.asJava, rollupSchema)
            .coalesce(1).write.mode("overwrite").parquet(rollPath)
        }

        val newSketches: Map[String, String] =
          if (!profileColumns) Map.empty
          else sketchMergers.keys.map(k => k -> b64(stats(k).asInstanceOf[Array[Byte]])).toMap

        val prevMetrics = current.map(_.metrics).getOrElse(Map.empty)
        val prevSketches = current.map(_.sketches).getOrElse(Map.empty)
        val mergedSketches = (prevSketches.keySet ++ newSketches.keySet).map { k =>
          k -> ((prevSketches.get(k), newSketches.get(k)) match {
            case (Some(a), Some(b)) => b64(sketchMergers(k)(unb64(a), unb64(b)))
            case (Some(a), None)    => a
            case (None, Some(b))    => b
            case _                  => throw new IllegalStateException("unreachable")
          })
        }.toMap

        // A stalled shared queue costs the exactness of task_ms_*, never the commit.
        GraftFunctions.drainSharedListeners(spark.sparkContext)
        val durations =
          wallMs.map { case (k, v) => s"wall_ms_$k" -> (prevMetrics.getOrElse(s"wall_ms_$k", 0L) + v) } ++
            listener.taskMs.map { case (k, v) => // listener is cumulative across THIS run's batches
              s"task_ms_$k" -> (baseTaskMs.getOrElse(s"task_ms_$k", 0L) + v)
            }

        val committedSoFar = current.map(log.committedPartitions).getOrElse(Set.empty) ++ batch
        current = Some(
          log.commit(
            Manifest(
              snapshotId = "", // assigned by commit
              sequence = 0L,
              parentId = current.map(_.snapshotId),
              constraintVersion = cs.version,
              partitionSpec = partitionSpec,
              partitionsDelta = batch,
              complete = partitions.toSet.subsetOf(committedSoFar),
              // An all-empty batch writes NO annotated files (partitionBy of
              // zero rows creates no directories), so registering its paths
              // would poison later reads; the manifest still commits so the
              // empty partitions count as done (resume skips them). Rollup
              // rows are driver-built and always exist.
              tables = Map(
                "valid" -> validPaths,
                "annotated" -> (if (nS + nI + nE > 0) Seq(annotatedPath) else Seq.empty),
                "violations" -> Seq(vioPath), // empty unpartitioned writes still leave a schema-bearing file
                "rollups" -> Seq(rollPath)
              ),
              // FILE schemas: readers plan from these, not parquet footers.
              tableSchemas = SnapshotLog.tableSchemasFor(annFrame.schema, gated.schema, rollupSchema),
              metrics = Map(
                "n_success" -> (prevMetrics.getOrElse("n_success", 0L) + nS),
                "n_invalid" -> (prevMetrics.getOrElse("n_invalid", 0L) + nI),
                "n_error" -> (prevMetrics.getOrElse("n_error", 0L) + nE),
                "violations_rejected" -> (prevMetrics.getOrElse("violations_rejected", 0L) + rejected)
              ) ++ durations,
              sketches = mergedSketches,
              createdAtMs = System.currentTimeMillis()
            )
          )
        )
      }
      current.getOrElse(throw new IllegalStateException("nothing to commit: no partitions"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object ValidationJob {

  /** The error-event schema of the reference
    * (/root/reference/test/schemas/error/0.0.1: required fields + minLength
    * 1) transplanted onto violation rows: every re-ingested violation must
    * itself be a well-formed violation event.
    */
  val violationsSchemaV1: ConstraintSet = ConstraintSet(
    version = "violations-schema/1.0.0",
    fills = Seq.empty,
    checks = Seq(
      NonNull("snapshot_id"),
      NonNull("constraint_id"),
      NonNull("field"),
      NonNull("detail"),
      MinLength("detail", 1),
      MaxLength("detail", 8192),
      IsIn("violation_status", Seq(Status.Invalid, Status.Error))
    )
  )
}
